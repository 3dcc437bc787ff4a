"""Asserts every queries() entry matches its oracle_sql() in DuckDB —
the same comparison the driver's correctness gate performs (row count,
sorted-by-name columns, order-insensitive values, typed columns; see
``parquet_generator_spark.oracle``) — at sf0.001 so the sf0.01 gate
never surprises us.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from parquet_generator_spark import oracle

SF_DIR = "/root/testdata/sf0.001"

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = oracle.connect(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    verdict = oracle.compare(duck, ORACLES[name], sdf.columns,
                             [tuple(r) for r in sdf.collect()])
    assert verdict.status == oracle.MATCH, f"{name}: {verdict}"


def test_no_hugeint_oracle_outputs(duck):
    """Registry-wide typed-hash tripwire (round-5 multimodal_meta,
    round-9 bpe/k_anonymity/data_card/counter_rate regressions): the
    driver's value hash is TYPED, and a DuckDB output column typed
    HUGEINT (uncast integer ``sum()``) hash-fails against Spark's
    BIGINT even when every value is identical.  DESCRIBE every oracle
    and reject any output type Spark cannot emit."""
    offenders = [(name, col, typ)
                 for name, sql in sorted(ORACLES.items())
                 for col, typ in oracle.oracle_type_problems(duck, sql)]
    assert not offenders, (
        f"oracle output columns not Spark-emittable (wrap in "
        f"CAST(... AS BIGINT)): {offenders}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0
