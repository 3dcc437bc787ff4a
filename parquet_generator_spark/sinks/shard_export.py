"""Training-data shard export: fixed-doc-count shards + a manifest.

The standard hand-off format between a data pipeline and a training
job: the corpus is split into deterministic, similarly-sized shards
(so the trainer can assign shard -> worker without reading data),
and a manifest records per-shard document/token counts and id ranges
for resumable, auditable consumption.

Scale shape: the global rank that defines shard membership is NOT a
single-reducer Window.orderBy sort — it is the distributed
zipWithIndex pattern: range-repartition by id, sort within
partitions, count per partition (P tiny rows to the driver),
broadcast the cumulative offsets, and add offset + local position in
one narrow mapInPandas pass. Every stage is bounded per task at any
corpus size. Shards are written via partitionBy — one
trainer-addressable directory each — and reading one shard is a
directory read (partition pruning), never a corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_generator_spark.operators import cache
from parquet_generator_spark.operators.text import toks_spark


def with_global_rank(df: DataFrame, order_col: str,
                     n_parts: int = 32,
                     rank_col: str = "rank") -> DataFrame:
    """0-based dense global rank by ``order_col`` without a global
    single-reducer sort (distributed zipWithIndex)."""
    import pandas as pd

    spark = df.sparkSession
    parts = (df.repartitionByRange(n_parts, F.col(order_col))
             .sortWithinPartitions(order_col)
             .withColumn("_pid", F.spark_partition_id())
             .transform(cache.checkpoint))  # pin partitioning, 2 passes
    counts = dict(parts.groupBy("_pid").count()
                  .collect())      # P rows — driver-safe at any scale
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    bc = spark.sparkContext.broadcast(offsets)

    out_schema = T.StructType(
        [f for f in parts.schema.fields if f.name != "_pid"]
        + [T.StructField(rank_col, T.LongType())])

    def add_rank(batches):
        local = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            if local is None:
                local = bc.value.get(pid, 0)
            pdf = pdf.drop(columns=["_pid"])
            pdf[rank_col] = range(local, local + len(pdf))
            local += len(pdf)
            yield pdf

    return parts.mapInPandas(add_rank, schema=out_schema)


def export_shards(df: DataFrame, dest: str, docs_per_shard: int,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> None:
    """Write ``df`` as ``dest/data`` partitioned into fixed-size
    shards (shard = global_rank(id) // docs_per_shard) plus
    ``dest/manifest`` with per-shard stats. Deterministic: same
    input -> same shard membership, any engine, any layout. Both
    outputs are written before it returns, so it releases its own
    checkpoints."""
    with cache.scope():
        ranked = with_global_rank(df, id_col)
        sharded = (ranked.withColumn(
            "shard", (F.col("rank") / docs_per_shard).cast("long"))
            .drop("rank")
            .withColumn("n_tokens", F.size(F.expr(toks_spark(text_col))))
            .transform(cache.checkpoint))  # rank once, data + manifest
        (sharded.write.mode("overwrite").partitionBy("shard")
         .parquet(f"{dest}/data"))
        manifest = (sharded.groupBy("shard")
                    .agg(F.count(F.lit(1)).alias("n_docs"),
                         F.sum("n_tokens").alias("n_tokens"),
                         F.min(id_col).alias("min_id"),
                         F.max(id_col).alias("max_id")))
        manifest.coalesce(1).write.mode("overwrite") \
            .parquet(f"{dest}/manifest")


def read_manifest(spark: SparkSession, dest: str) -> DataFrame:
    return spark.read.parquet(f"{dest}/manifest")


def read_shard(spark: SparkSession, dest: str, shard: int) -> DataFrame:
    """Read ONE shard; the partitioned layout makes this a directory
    read (partition pruning), not a corpus scan with a filter."""
    return (spark.read.parquet(f"{dest}/data")
            .filter(F.col("shard") == shard))
