"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_if_narrow(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition a too-narrow input so compute-bound
    narrow transformations (shingling, hashing, signatures) use every
    core.

    A small file arrives as ONE scan split, which would serialize the
    whole pipeline behind a single task; at real scale the scan
    already has >= cluster-parallelism splits and this is a no-op —
    so the shuffle this inserts only ever moves tiny inputs.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def broadcast_scalars(df: DataFrame, scalars: DataFrame) -> DataFrame:
    """Attach the columns of ``scalars`` to every row of ``df`` (corpus
    total, global max, percentile array, ...).

    ``scalars`` must be a one-row (global, ungrouped) aggregate. It
    enters the plan as ONE lazy scalar subquery over a struct of its
    columns, expanded by name in the next projection, so building the
    plan runs no Spark job and ``explain()`` stays side-effect free. A
    frame with more than one row fails at execution.
    """
    from pyspark.sql import functions as F

    s = "__scalars"
    sub = scalars.select(F.struct("*")).scalar()
    return (df.select("*", sub.alias(s))
            .select("*", f"{s}.*").drop(s))
