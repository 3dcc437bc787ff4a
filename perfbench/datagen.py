"""Seeded input generators for the benchmark.

``write_tables`` writes the ten tables that ``__spark_entry__`` queries
read (TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), with the column names, dtypes, row counts per scale
factor and value ranges of the tables the repository's tests use.

``write_etl_corpus`` writes the ``etl_export`` inputs: newline-delimited
JSON documents per day (``source_date=YYYY-MM-DD/part-0.jsonl``) and
per-day parquet sources (``event_YYYYMMDD/part-0.parquet``), and returns
the expected row counts that the output check compares against.

Everything is a pure function of ``seed``; no Spark is involved, so the
program under test only ever sees the files.
"""

from __future__ import annotations

import json
import os
import random
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark window merge table column vector stream value "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
EMBED_DIM = 64
EMBED_LABELS = 10


def _days(lo: date, n: int, rng: np.random.Generator, span: int
          ) -> np.ndarray:
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int
           ) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema
           ) -> None:
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten query tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }, pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }, pa.schema([("n_nationkey", i32), ("n_name", s),
                  ("n_regionkey", i32)]))
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                  ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(date(1995, 1, 1), n_ord, rng, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                  ("o_orderstatus", s), ("o_totalprice", f64),
                  ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(date(1995, 1, 2), n_line, rng, 2498),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                  ("l_suppkey", i64), ("l_linenumber", i32),
                  ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64),
                  ("l_returnflag", s), ("l_linestatus", s),
                  ("l_shipdate", ts)]))
    month_us = 30 * 86_400 * 1_000_000
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, month_us, n_ev)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                  ("event_type", s), ("value", f64), ("props", s)]))
    _write(out_dir, "documents", _documents(rng, n_docs),
           pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                      ("source", s), ("n_chars", i64)]))
    _write(out_dir, "embeddings", _embeddings(rng, n_vec),
           pa.schema([("vec_id", i64),
                      ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words texts over a 30-word vocabulary; about 5% are an
    earlier text plus ``" dup"`` (near duplicates) and about 0.2% are
    exact copies of an earlier text."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(10, 101))]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    """Unit vectors: a small per-label centre plus isotropic noise."""
    centres = rng.normal(0.0, 0.07 / np.sqrt(EMBED_DIM),
                         (EMBED_LABELS, EMBED_DIM)) * 8
    labels = rng.integers(0, EMBED_LABELS, n, dtype=np.int32)
    x = centres[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM),
                                     (n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(x.astype(np.float32)),
        "label": labels,
    }


# ---------------------------------------------------------------- ETL

RULES = ["office365-signin", "azure-ad-risky-user", "vpn-geo-anomaly",
         "mailbox-forward-rule", "privileged-role-grant",
         "impossible-travel"]
ETL_START = date(2024, 3, 1)
ETL_DAYS = 7
DATED_PREFIX = "event_"

SEVERITY_NAMES = ["info", "low", "mid", "high", "crit"]
_OPTIONAL = ["app", "client", "result", "latency_ms", "bytes", "tags",
             "device", "location", "session_id", "mfa", "risk_score",
             "user_agent", "tenant", "correlation_id", "status_code"]


def _optional_value(name: str, rnd: random.Random, i: int):
    if name == "latency_ms":    # int in most docs, float in some
        v = rnd.randrange(1, 5000)
        return v if rnd.random() < 0.8 else v + 0.5
    if name == "bytes":
        return rnd.randrange(10**9)
    if name == "tags":
        return rnd.sample(WORDS, rnd.randrange(4))
    if name == "device":       # nested struct, its own optional fields
        d = {"os": rnd.choice(["windows", "macos", "ios", "android"])}
        if rnd.random() < 0.5:
            d["browser"] = {"name": rnd.choice(["edge", "chrome"]),
                            "major": rnd.randrange(90, 130)}
        return d
    if name == "location":
        return {"country": rnd.choice(["US", "DE", "FR", "JP"]),
                "lat": round(rnd.uniform(-90, 90), 4),
                "lon": round(rnd.uniform(-180, 180), 4)}
    if name == "mfa":
        return rnd.random() < 0.5
    if name == "risk_score":
        return round(rnd.random(), 3)
    if name == "status_code":
        return rnd.choice([200, 401, 403, 500])
    return f"{name}-{rnd.randrange(1000)}-{i % 97}"


def _etl_doc(rnd: random.Random, i: int, rule: str, day: date,
             optional: list[str]) -> dict:
    sev = rnd.randrange(5)
    doc = {
        "id": f"d{i}",
        "rule_name": rule,
        "ts": f"{day.isoformat()}T{rnd.randrange(24):02d}:"
              f"{rnd.randrange(60):02d}:00Z",
        "user": {"name": f"user{rnd.randrange(500)}",
                 "dept": rnd.choice(["it", "hr", "ops", "sales"])},
        # type conflict across documents: number in most, string in some
        "severity": sev if rnd.random() < 0.9 else SEVERITY_NAMES[sev],
        "src_ip": ".".join(str(rnd.randrange(1, 255)) for _ in range(4)),
    }
    for name in optional:
        if rnd.random() < 0.6:
            doc[name] = _optional_value(name, rnd, i)
    return doc


def write_etl_corpus(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write the ETL inputs under ``out_dir`` and return the manifest:
    input bytes and expected row counts per rule and per day."""
    rng = np.random.default_rng([seed, 7])
    rnd = random.Random(seed)
    weights = 1.0 / np.arange(1, len(RULES) + 1) ** 1.2
    weights /= weights.sum()
    rule_fields = {r: list(rng.choice(_OPTIONAL, 8, replace=False))
                   for r in RULES}
    days = [ETL_START + timedelta(days=d) for d in range(ETL_DAYS)]
    counts = {r: {d.isoformat(): 0 for d in days} for r in RULES}
    docs_dir = os.path.join(out_dir, "docs")
    json_bytes = 0
    rules = rng.choice(len(RULES), n_docs, p=weights)
    day_of = rng.integers(0, ETL_DAYS, n_docs)
    for d_idx, day in enumerate(days):
        part = os.path.join(docs_dir, f"source_date={day.isoformat()}")
        os.makedirs(part, exist_ok=True)
        lines = []
        for i in np.nonzero(day_of == d_idx)[0]:
            rule = RULES[rules[i]]
            counts[rule][day.isoformat()] += 1
            lines.append(json.dumps(
                _etl_doc(rnd, int(i), rule, day, rule_fields[rule]),
                separators=(",", ":")))
        data = ("\n".join(lines) + "\n").encode()
        json_bytes += len(data)
        with open(os.path.join(part, "part-0.jsonl"), "wb") as fh:
            fh.write(data)

    # per-day parquet sources for dated_parquet_to_parquet: flat rows
    dated_dir = os.path.join(out_dir, "dated")
    dated_counts = {r: {} for r in RULES}
    n_day = max(1, n_docs // ETL_DAYS)
    for day in days:
        rr = rng.choice(len(RULES), n_day, p=weights)
        table = pa.table({
            "id": [f"p{day:%Y%m%d}-{j}" for j in range(n_day)],
            "rule_name": [RULES[k] for k in rr],
            "severity": rng.integers(0, 5, n_day, dtype=np.int32),
            "user": [f"user{u}" for u in rng.integers(0, 500, n_day)],
            "latency_ms": rng.integers(1, 5000, n_day),
        })
        d = os.path.join(dated_dir, f"{DATED_PREFIX}{day:%Y%m%d}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        for k, r in enumerate(RULES):
            dated_counts[r][day.isoformat()] = int((rr == k).sum())
    return {
        "docs_dir": docs_dir,
        "dated_dir": dated_dir,
        "dated_prefix": DATED_PREFIX,
        "dated_today": days[-1].isoformat(),
        "n_docs": n_docs,
        "n_dated_rows": n_day * ETL_DAYS,
        "json_bytes": json_bytes,
        "dated_bytes": sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(dated_dir) for f in fs),
        "expected": counts,
        "dated_expected": dated_counts,
    }

