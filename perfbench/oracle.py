"""Output check against the DuckDB oracle.

A query's result matches when its column names (as a set), its row
count and its rows in canonical form equal those of ``oracle_sql()[key]``
run by DuckDB over the same parquet files. The canonical form is the one
the repository's oracle-parity test uses: columns sorted by name, floats
at six significant digits, rows sorted.
"""

from __future__ import annotations

import math
import os

import duckdb

from datagen import TABLES


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols: list[str]) -> tuple[tuple[str, ...], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (tuple(sorted(cols)),
            sorted(tuple(_norm(r[i]) for i in order) for r in rows))


class Oracle:
    """DuckDB over the generated tables of one scale factor, with each
    key's canonical expected result computed once."""

    def __init__(self, sf_dir: str, sql: dict[str, str]):
        self._con = duckdb.connect()
        self._con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._sql = sql
        self._expected: dict[str, tuple] = {}

    def expected(self, key: str) -> tuple:
        if key not in self._expected:
            cur = self._con.execute(self._sql[key])
            cols = [d[0] for d in cur.description]
            self._expected[key] = canon(cur.fetchall(), cols)
        return self._expected[key]

    def close(self) -> None:
        self._con.close()
