"""Count Spark jobs (actions) per query key — shape probe for the
optimization round. Job COUNT is contention-insensitive, unlike
timing, so this can run on a busy box. Each internal action
(localCheckpoint, bounded scalar collect, hot-bucket count) is one
job; at small SF every job costs ~0.1-0.3 s of fixed overhead, so
keys with many jobs are the first place to look (guide §1.2).

Jobs are split by phase: ``build_jobs`` ran while ``queries()[key]``
built the DataFrame (eager actions inside plan construction),
``run_jobs`` ran during its ``collect()``. ``tracked`` is the number of
barriers the key registered with ``cache.checkpoint``, and
``leaked_blocks`` the storage blocks still held after
``cache.release_all`` minus those held before the key ran: anything
above 0 is a barrier that bypassed the registry (the near-dup edge
memo counts once, at the first key that builds it for the SF).

Usage: python scripts/job_counts.py key1 key2 ...
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_generator_spark.operators import cache  # noqa: E402
from parquet_generator_spark.session import get_spark  # noqa: E402
from parquet_generator_spark.sources.catalog import load_tables  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    keys = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("jobcount")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    qs = entrymod.queries()
    tracker = sc.statusTracker()

    for wq in ("q1_pricing_summary", "dedup_minhash"):
        qs[wq](spark, "/root/testdata/sf0.001").collect()
    cache.release_all(spark)
    # the first read of a table runs a footer-inference job; memoize
    # every table handle so build_jobs counts plan construction only
    load_tables(spark, sf_dir)

    for name in keys:
        if name not in qs:
            print(f"{name}: UNKNOWN", file=sys.stderr)
            continue
        blocks0 = cache.storage_block_count(spark)
        sc.setJobGroup(f"{name}:build", name)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t_build = time.perf_counter() - t0
        sc.setJobGroup(f"{name}:run", name)
        n = len(df.collect())
        t_total = time.perf_counter() - t0
        build_jobs = tracker.getJobIdsForGroup(f"{name}:build")
        run_jobs = tracker.getJobIdsForGroup(f"{name}:run")
        sc.setJobGroup("other", "other")
        tracked = cache.tracked_count()
        cache.release_all(spark)
        leaked = cache.storage_block_count(spark) - blocks0
        print(f"{name}: build_jobs={len(build_jobs)} "
              f"run_jobs={len(run_jobs)} tracked={tracked} "
              f"leaked_blocks={leaked} build={t_build:.2f}s "
              f"total={t_total:.2f}s rows={n}")
    spark.stop()


if __name__ == "__main__":
    main()
