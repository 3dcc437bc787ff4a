"""Correctness-gate simulation: check ``entry(spark)`` returns rows,
then compare ``queries()`` entries with their DuckDB ``oracle_sql()``.

    python scripts/verify.py [KEY ...]

Verifies the named keys, or every key when none is named, in sorted
order, on the test data at ``$VERIFY_SF`` (default: the sf0.01
directory next to the catalog's default). Prints one verdict per key
(MATCH, MISMATCH, TYPE-FAIL or ERROR; see
``parquet_generator_spark.oracle``) and exits 1 unless all MATCH.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import __spark_entry__ as em  # noqa: E402
from parquet_generator_spark import oracle  # noqa: E402
from parquet_generator_spark.operators import cache  # noqa: E402
from parquet_generator_spark.session import get_spark  # noqa: E402
from parquet_generator_spark.sources.catalog import (  # noqa: E402
    DEFAULT_SF_DIR,
)


def main(keys: list[str]) -> int:
    sf = os.environ.get("VERIFY_SF", os.path.join(
        os.path.dirname(DEFAULT_SF_DIR), "sf0.01"))
    Q, O = em.queries(), em.oracle_sql()
    unknown = [k for k in keys if k not in Q]
    if unknown:
        print(f"not queries() keys: {unknown}")
        return 1
    spark = get_spark("verify")
    spark.sparkContext.setLogLevel("ERROR")
    df = em.entry(spark)
    rows = df.collect()
    print(f"entry: {len(rows)} rows, schema={df.columns}")
    if not rows:
        return 1
    con = oracle.connect(sf)
    fails = []
    for name in keys or sorted(Q):
        t0 = time.time()
        try:
            sdf = Q[name](spark, sf)
            status, detail = oracle.compare(
                con, O[name], sdf.columns,
                [tuple(r) for r in sdf.collect()])
        except Exception as e:  # report every key, then fail the run
            status, detail = "ERROR", f"{type(e).__name__}: {e}"
        finally:
            cache.release_all(spark)
        if status != oracle.MATCH:
            fails.append(name)
        print(f"{name}: {status} ({detail}, {time.time() - t0:.1f}s)",
              flush=True)
    print("FAILS:", fails if fails else "none")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
