"""The package's one plan barrier and its per-query release.

A plan barrier is a ``localCheckpoint`` that cuts lineage and is
shared by later stages. Its partitions are RDD storage blocks that
live until the JVM garbage-collects the RDD, so in a long-lived
session they pile up query after query and squeeze executor storage.

Rule: every transient barrier is made by :func:`checkpoint`, which
registers the frame; the caller drops the blocks with
:func:`release_all` once a query's results are collected or written,
or wraps the query in :func:`scope`. Two places call
``localCheckpoint`` directly: the near-dup edge memo
(``plans/llm_queries.py``), which must outlive the query that built
it, and the ``foreachBatch`` body in ``streaming/windowed.py``, which
runs on the streaming callback thread while the registry is
process-global, so it drops its own frames with :func:`release`.

IMPORTANT contract: ``localCheckpoint`` TRUNCATES lineage — once a
tracked frame's blocks are dropped it cannot be recomputed. Callers
must release only after every dependent result is collected/written,
which is exactly the per-query boundary the harnesses use.
"""

from __future__ import annotations

import contextlib
import warnings
from typing import Iterator, List

from pyspark.sql import DataFrame

_TRACKED: List[DataFrame] = []

# A caller that keeps invoking checkpoint-using operators without
# ever releasing is re-creating the leak this module exists to fix —
# warn once the registry clearly outgrows any single query's needs.
_WARN_THRESHOLD = 64
_warned = False


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered for release by
    :func:`release_all` or :func:`scope`. The lineage cut and
    compute-once sharing are the same either way. Pass
    ``eager=False`` when the first consumer reads every partition
    (an aggregation, a join): materialization then fuses into that
    job instead of running a job of its own while the plan is built.
    Keep ``eager=True`` when the first consumer is partial (limit,
    take) or when several subtrees of one job read the barrier."""
    global _warned
    df = df.localCheckpoint(eager)
    _TRACKED.append(df)
    if len(_TRACKED) > _WARN_THRESHOLD and not _warned:
        _warned = True
        warnings.warn(
            f"cache registry holds {len(_TRACKED)} tracked "
            f"checkpoints — a long-lived caller is accumulating "
            f"storage blocks without releasing. Wrap each query in "
            f"`with cache.scope(): ...` or call release_all() at "
            f"query boundaries.", ResourceWarning, stacklevel=2)
    return df


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Structural release: drop every checkpoint REGISTERED INSIDE
    the block when it exits (success or error) — the per-query
    boundary as a context manager, so long-lived callers don't have
    to adopt the harnesses' manual release discipline.

    Checkpoints tracked before entry are left untouched; the usual
    contract applies — everything derived from in-scope checkpoints
    must be collected/written before the block ends."""
    mark = len(_TRACKED)
    try:
        yield
    finally:
        global _warned
        while len(_TRACKED) > mark:
            release(_TRACKED.pop())
        _warned = False


def tracked_count() -> int:
    return len(_TRACKED)


def release(df: DataFrame) -> bool:
    """Drop one frame's checkpoint blocks now, without touching the
    registry. The analyzed plan of a localCheckpointed frame is a
    ``LogicalRDD`` whose ``rdd()`` is the persisted (lineage-truncated)
    RDD; ``unpersist`` drops its storage blocks immediately (verified:
    ``sc.getRDDStorageInfo()`` returns to baseline)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return True
    except Exception:
        return False


def release_all(spark=None) -> int:
    """Drop storage blocks of every tracked checkpoint; returns the
    number released. Call AFTER the consuming query's results are
    materialized (the frames are not recomputable afterwards)."""
    global _warned
    n = 0
    while _TRACKED:
        if release(_TRACKED.pop()):
            n += 1
    _warned = False
    return n


def storage_block_count(spark) -> int:
    """Number of RDDs currently holding storage blocks — the
    instrument the cache-hygiene test asserts on."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
