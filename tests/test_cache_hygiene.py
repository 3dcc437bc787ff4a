"""Cache hygiene: plan-internal localCheckpoint blocks are tracked
and released deterministically, so a long-lived session (the
single-session driver bench, a production curation service) does not
accumulate storage blocks query-over-query — the round-8 verdict's
mid-session slowdown mechanism (33 checkpoint sites, 1 unpersist)."""

from __future__ import annotations

import pytest

from parquet_generator_spark.operators import cache

SF = "/root/testdata/sf0.001"


def _run(spark, key):
    import __spark_entry__ as em
    return sorted(map(tuple, em.queries()[key](spark, SF).collect()))


def test_checkpoint_blocks_release_and_stay_stable(spark):
    """Two passes over checkpoint-heavy queries: after release_all the
    storage-block count returns to the same floor both times (the
    floor includes the deliberate untracked near_dup_edges memo and
    anything other suites persisted in the shared session)."""
    cache.release_all(spark)
    base = cache.storage_block_count(spark)

    rows1 = _run(spark, "dedup_clusters")  # CC loop: many checkpoints
    during = cache.storage_block_count(spark)
    assert cache.tracked_count() > 0, "CC loop should track checkpoints"
    released = cache.release_all(spark)
    assert released > 0
    floor1 = cache.storage_block_count(spark)
    assert floor1 < during
    # the memo frame (untracked) may have raised the floor by a few
    # blocks on first build, but the tracked transient blocks are gone
    assert floor1 <= base + 2

    rows2 = _run(spark, "dedup_clusters")
    cache.release_all(spark)
    floor2 = cache.storage_block_count(spark)
    assert floor2 == floor1, "second pass must not grow the floor"
    assert rows1 == rows2, "release must not change results"


@pytest.mark.parametrize("key", ["ntile_deciles", "quality_classifier_gd",
                                 "cluster_purity", "export_shards"])
def test_plan_barriers_release_to_baseline(spark, tmp_path, key):
    """Every transient barrier a query builds is registered, so
    release_all brings the storage-block count back to where it was
    before the query. export_shards writes its output before it
    returns, so it releases its own barriers on the way out. (The
    count may only fall below the base if the JVM cleaner drops an
    older frame meanwhile.)"""
    cache.release_all(spark)
    base = cache.storage_block_count(spark)
    if key == "export_shards":
        from parquet_generator_spark.sinks.shard_export import export_shards
        from parquet_generator_spark.sources.catalog import load_table
        export_shards(load_table(spark, "documents", SF),
                      str(tmp_path / "shards"), docs_per_shard=64)
        assert cache.tracked_count() == 0
        assert cache.storage_block_count(spark) <= base
    else:
        _run(spark, key)
        assert cache.tracked_count() >= 1, "barrier not registered"
    cache.release_all(spark)
    assert cache.storage_block_count(spark) <= base


def test_release_is_idempotent_and_safe_when_empty(spark):
    cache.release_all(spark)
    assert cache.release_all(spark) == 0
    assert cache.tracked_count() == 0


def test_scope_releases_only_inner_checkpoints(spark):
    """`with cache.scope():` is the structural per-query boundary:
    checkpoints registered inside release on exit (success or error);
    pre-existing tracked frames are untouched."""
    cache.release_all(spark)
    outer = cache.checkpoint(spark.range(10))
    assert cache.tracked_count() == 1
    with cache.scope():
        inner = cache.checkpoint(spark.range(20))
        assert inner.count() == 20
        assert cache.tracked_count() == 2
    assert cache.tracked_count() == 1  # inner released, outer kept
    assert outer.count() == 10  # outer blocks still alive
    # release on error paths too
    try:
        with cache.scope():
            cache.checkpoint(spark.range(5)).count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert cache.tracked_count() == 1
    cache.release_all(spark)


def test_unreleased_accumulation_warns(spark):
    """A long-lived caller that never releases gets an explicit
    ResourceWarning once the registry outgrows any single query."""
    import warnings as _w

    cache.release_all(spark)
    df = spark.range(1)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        for _ in range(cache._WARN_THRESHOLD + 1):
            cache.checkpoint(df, eager=False)
        msgs = [r for r in rec if issubclass(r.category, ResourceWarning)]
    assert len(msgs) == 1, "warn exactly once per accumulation episode"
    assert "release_all" in str(msgs[0].message)
    cache.release_all(spark)
