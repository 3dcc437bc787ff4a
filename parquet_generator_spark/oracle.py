"""DuckDB oracle verifier: the one comparison between a Spark result
and its ``oracle_sql()`` query, as the correctness gate makes it.

A result MATCHes when it has the oracle's column names, row count and
order-insensitive values, compared in the canonical form of
:func:`canon` (columns sorted by name, floats at ``%.6g``).

The gate's value hash is also TYPED: a DuckDB column typed HUGEINT
(an uncast integer ``sum()``) hash-fails against Spark's BIGINT even
when every value is identical, because its fetch path renders HUGEINT
as float. The string canon cannot see that, so two checks close the
gap and report TYPE-FAIL:

- :func:`oracle_type_problems` DESCRIBEs the oracle and flags output
  types Spark cannot emit;
- :func:`type_class_mismatches` compares the fetched Python type
  classes per column. int-vs-float is flagged; float-vs-Decimal is
  tolerated, as DECIMAL-typed oracles pass the gate.
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import NamedTuple

import duckdb

from parquet_generator_spark.sources.catalog import TABLES

# DuckDB output types with no Spark equivalent: the gate cannot
# hash-match them against any Spark column.
FORBIDDEN_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER",
                        "USMALLINT", "UTINYINT")

MATCH, MISMATCH, TYPE_FAIL = "MATCH", "MISMATCH", "TYPE-FAIL"


class Verdict(NamedTuple):
    status: str  # MATCH, MISMATCH or TYPE-FAIL
    detail: str


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per test-data table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def oracle_type_problems(con: duckdb.DuckDBPyConnection,
                         sql: str) -> list[tuple[str, str]]:
    """``[(column, type)]`` for oracle output columns whose DuckDB
    type Spark cannot emit; empty when safe."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql}) _q").fetchall()
    return [(row[0], row[1]) for row in desc
            if any(f in str(row[1]).upper() for f in FORBIDDEN_DUCK_TYPES)]


def _tclass(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, (float, decimal.Decimal)):
        return "float"
    if isinstance(v, datetime.datetime):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, str):
        return "str"
    return type(v).__name__


def type_class_mismatches(srows, scols, drows, dcols):
    """``[(column, spark_classes, duck_classes)]`` for columns (paired
    by sorted name) whose non-null fetched type classes differ."""
    sorder = sorted(range(len(scols)), key=lambda i: scols[i])
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    out = []
    for si, di in zip(sorder, dorder):
        sc = {_tclass(r[si]) for r in srows} - {None}
        dc = {_tclass(r[di]) for r in drows} - {None}
        if sc != dc:
            out.append((scols[si], sorted(sc), sorted(dc)))
    return out


def compare(con: duckdb.DuckDBPyConnection, sql: str,
            scols: list[str], srows: list[tuple]) -> Verdict:
    """Verdict for a collected Spark result against oracle ``sql``.
    TYPE-FAIL takes precedence, since it fails the gate's typed hash
    even when the values agree."""
    cur = con.execute(sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    ok_cols = sorted(scols) == sorted(dcols)
    tbad = oracle_type_problems(con, sql)
    cbad = type_class_mismatches(srows, scols, drows, dcols) \
        if ok_cols else []
    if tbad or cbad:
        return Verdict(TYPE_FAIL, f"duck_types={tbad} classes={cbad}")
    if not ok_cols:
        return Verdict(MISMATCH, f"columns spark={sorted(scols)} "
                                 f"duck={sorted(dcols)}")
    if len(srows) != len(drows):
        return Verdict(MISMATCH, f"rows spark={len(srows)} "
                                 f"duck={len(drows)}")
    a, b = canon(srows, scols), canon(drows, dcols)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        return Verdict(MISMATCH, "values " + "; ".join(
            f"spark={x} duck={y}" for x, y in diffs))
    return Verdict(MATCH, f"{len(srows)} rows")
