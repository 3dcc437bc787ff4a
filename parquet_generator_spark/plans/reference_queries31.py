"""Round-13 reference tranche: finnish analysis on stored columns,
FUSE full-document / linear forms, TSDS downsample-on-write.

Every key follows the round-13 posture: analyzer matches are served
from the CENTRAL ingest-time analyzed store (plans/analyzed_store.py)
with zero stemmer expressions in the query plan, while the oracle
recomputes the full analysis from raw text in DuckDB — the driver
itself proves stored == query-time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict = {}
ORACLES: dict = {}


# ------------------------------------------ dsl_match_analyzer_fi

# planted Finnish inflections the english chain provably cannot
# fold onto the query's dictionary forms (pinned in
# tests/test_snowball_fi.py): taloissa/talojen -> talo (case system
# + tidy), kirjoissakin -> kirj (particle kin + case + tidy-b)
_FI_SNIPPETS = [
    "taloissa ja kirjoissakin",
    "talojen kirjassa luettiin",
    "kirjat ovat taloissa",
]
_FI_QUERY = "talo kirja"


def _fi_planted_expr() -> str:
    snip = ("CASE CAST(doc_id % 3 AS INT) "
            + " ".join(f"WHEN {i} THEN '{s}'"
                       for i, s in enumerate(_FI_SNIPPETS))
            + " END")
    return (f"CASE WHEN doc_id % 5 = 0 THEN "
            f"concat({snip}, ' ', substr(text, 1, 60)) "
            f"ELSE substr(text, 1, 60) END")


def dsl_match_analyzer_fi(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """``match`` with ``analyzer: "finnish"`` (snowball finnish,
    operators/snowball_fi.py — language TWELVE, the hardest of the
    snowballs: seven sequential suffix systems with harmony-matched
    case endings, a carried ending-removed flag and a five-rule
    tidy). The query's dictionary forms (talo, kirja) and the
    planted inflections (taloissa, talojen, kirjoissakin, kirjassa)
    meet only at the finnish stems [talo, kirj]; the english chain
    matches zero of the same documents. Served from the central
    analyzed store (stored-array membership, zero stemmer
    expressions in the plan); the oracle recomputes the full
    analysis from raw text."""
    from parquet_generator_spark.operators.analyzers import (
        get_analyzer,
        stored_match,
    )
    from parquet_generator_spark.plans.analyzed_store import (
        load_store,
    )

    pred = stored_match("analyzed_fi", _FI_QUERY,
                        get_analyzer("finnish"), operator="and")
    return (load_store(spark, sf_dir)
            .filter(pred)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("source"))


def _fi_oracle() -> str:
    from parquet_generator_spark.operators.analyzers import (
        analyzed_match_duck_sql,
        get_analyzer,
    )

    pred = analyzed_match_duck_sql(
        "mixed", _FI_QUERY, get_analyzer("finnish"), operator="and")
    return f"""
WITH m AS (SELECT source, {_fi_planted_expr()} AS mixed
           FROM documents)
SELECT source, count(*) AS doc_count
FROM m WHERE {pred}
GROUP BY source ORDER BY source
"""


QUERIES.update({"dsl_match_analyzer_fi": dsl_match_analyzer_fi})
ORACLES.update({"dsl_match_analyzer_fi": _fi_oracle()})


# ------------------------------------------ dsl_match_analyzer_hu

# planted Hungarian inflections the english chain provably cannot
# fold onto the query's dictionary forms (the accented chars split
# english tokens; pinned in tests/test_snowball_hu.py):
# házakban -> ház (case ban + plural ak), virágokkal -> virág
# (instrum kal with kk undouble + plural ok), házához -> ház
# (case hoz + v_ending + sing_owner a)
_HU_SNIPPETS = [
    "házakban és virágokkal",
    "házamban virágok nyílnak",
    "a virágot a házához vitte",
]
_HU_QUERY = "ház virág"


def _hu_planted_expr() -> str:
    snip = ("CASE CAST(doc_id % 3 AS INT) "
            + " ".join(f"WHEN {i} THEN '{s}'"
                       for i, s in enumerate(_HU_SNIPPETS))
            + " END")
    return (f"CASE WHEN doc_id % 5 = 0 THEN "
            f"concat({snip}, ' ', substr(text, 1, 60)) "
            f"ELSE substr(text, 1, 60) END")


def dsl_match_analyzer_hu(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """``match`` with ``analyzer: "hungarian"`` (snowball
    hungarian, operators/snowball_hu.py — language THIRTEEN: nine
    independent single-shot suffix routines whose chain semantics
    were decoded against the canonical implementation this round).
    The query's dictionary forms (ház, virág) and the planted
    inflections (házakban, virágokkal, házamban, házához) meet only
    at the hungarian stems; the english chain matches zero of the
    same documents. Served from the central analyzed store
    (stored-array membership, zero stemmer expressions in the
    plan); the oracle recomputes the full analysis from raw text."""
    from parquet_generator_spark.operators.analyzers import (
        get_analyzer,
        stored_match,
    )
    from parquet_generator_spark.plans.analyzed_store import (
        load_store,
    )

    pred = stored_match("analyzed_hu", _HU_QUERY,
                        get_analyzer("hungarian"), operator="and")
    return (load_store(spark, sf_dir)
            .filter(pred)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("source"))


def _hu_oracle() -> str:
    from parquet_generator_spark.operators.analyzers import (
        analyzed_match_duck_sql,
        get_analyzer,
    )

    pred = analyzed_match_duck_sql(
        "mixed", _HU_QUERY, get_analyzer("hungarian"),
        operator="and")
    return f"""
WITH m AS (SELECT source, {_hu_planted_expr()} AS mixed
           FROM documents)
SELECT source, count(*) AS doc_count
FROM m WHERE {pred}
GROUP BY source ORDER BY source
"""


QUERIES.update({"dsl_match_analyzer_hu": dsl_match_analyzer_hu})
ORACLES.update({"dsl_match_analyzer_hu": _hu_oracle()})


# ------------------------------------- esql_fuse_docs / _linear

def _fuse_docs_query() -> str:
    from parquet_generator_spark.plans.reference_queries15 import (
        KNN_QV,
    )

    vec = ", ".join(repr(v) for v in KNN_QV)
    return (
        "FROM embeddings | FORK "
        f"(WHERE KNN(embedding, [{vec}], 20) "
        "| SORT _score DESC, vec_id | LIMIT 20) "
        "(WHERE label >= 5 | EVAL s = vec_id % 97 "
        "| SORT s DESC, vec_id | LIMIT 20) "
        "| FUSE DOCS vec_id "
        "| KEEP vec_id, label, _score, _hits "
        "| SORT _score DESC, vec_id | LIMIT 25")


def esql_fuse_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``FORK ... | FUSE DOCS`` (ES 8.19's actual FUSE output
    shape): the reciprocal-rank fused ranking joined BACK onto the
    pre-fork documents, so the hybrid result carries the document
    columns plus _score/_hits. Plan: the ranking is bounded by
    branches x the rerank-window cap, so it broadcast-joins onto
    the already-checkpointed pre-fork frame — the corpus is scanned
    once (the FORK posture), no shuffle of the big side."""
    from parquet_generator_spark.operators.esql import (
        esql_df,
        parse_esql,
    )
    from parquet_generator_spark.sources.catalog import load_table

    plan = parse_esql(_fuse_docs_query(), knn_key="vec_id")
    emb = load_table(spark, "embeddings", sf_dir)
    return esql_df(emb, plan)


def _fuse_linear_query() -> str:
    from parquet_generator_spark.plans.reference_queries15 import (
        KNN_QV,
    )

    vec = ", ".join(repr(v) for v in KNN_QV)
    return (
        "FROM embeddings | FORK "
        f"(WHERE KNN(embedding, [{vec}], 20) "
        "| SORT _score DESC, vec_id | LIMIT 20) "
        "(WHERE label >= 5 "
        "| EVAL s = CAST(vec_id % 97 AS DOUBLE) "
        "| SORT s DESC, vec_id | LIMIT 20) "
        "| FUSE LINEAR vec_id WEIGHTS 0.7, 0.3 NORMALIZER MINMAX "
        "| SORT _score DESC, vec_id | LIMIT 25")


def esql_fuse_linear(spark: SparkSession,
                     sf_dir: str) -> DataFrame:
    """ES|QL ``FUSE LINEAR ... WEIGHTS ... NORMALIZER MINMAX`` (the
    ES 8.19 linear score_mode): each branch contributes weight x
    its own score — the KNN branch's cosine _score and the metadata
    branch's numeric rank key — minmax-normalized within the branch
    window so a 0.7/0.3 blend is meaningful across scales. A
    duplicate identity contributes its best score once per branch.
    Bounded like FUSE: every per-branch frame is <= the
    rerank-window cap."""
    from parquet_generator_spark.operators.esql import (
        esql_df,
        parse_esql,
    )
    from parquet_generator_spark.sources.catalog import load_table

    plan = parse_esql(_fuse_linear_query(), knn_key="vec_id")
    emb = load_table(spark, "embeddings", sf_dir)
    return esql_df(emb, plan)


def _fuse_oracle(q: str) -> str:
    from parquet_generator_spark.operators.esql import (
        esql_duck_sql,
        parse_esql,
    )

    return esql_duck_sql(parse_esql(q, knn_key="vec_id"))


QUERIES.update({
    "esql_fuse_docs": esql_fuse_docs,
    "esql_fuse_linear": esql_fuse_linear,
})
ORACLES.update({
    "esql_fuse_docs": _fuse_oracle(_fuse_docs_query()),
    "esql_fuse_linear": _fuse_oracle(_fuse_linear_query()),
})


# --------------------------------------- dsl_tsds_downsample_served

def _rollup_root(sf_dir: str) -> str:
    import os

    from parquet_generator_spark.plans.llm_queries25 import (
        _REPO_ROOT,
    )

    return os.path.join(
        _REPO_ROOT, ".scratch", "tsds_rollup",
        os.path.basename(os.path.normpath(sf_dir)))


def _ensure_rollup(spark: SparkSession, sf_dir: str) -> str:
    """Downsample-on-write, fingerprint-gated per sf_dir: the 6h
    rollup is materialized through the snapshot table format ONCE
    per corpus version (sinks/tsds_rollup.py owns the
    merge-on-append lifecycle for incremental slices)."""
    import json
    import os

    from parquet_generator_spark.sinks.tsds_rollup import (
        train_rollup,
    )
    from parquet_generator_spark.sources.catalog import load_table

    root = _rollup_root(sf_dir)
    meta_p = os.path.join(root, "source_meta.json")
    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    fp = f"{st.st_mtime_ns}:{st.st_size}"
    if os.path.exists(meta_p):
        with open(meta_p) as fh:
            if json.load(fh).get("fingerprint") == fp:
                return root
    ev = load_table(spark, "events", sf_dir)
    train_rollup(spark, ev, root)
    with open(meta_p, "w") as fh:
        json.dump({"fingerprint": fp}, fh)
    return root


def dsl_tsds_downsample_served(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """dsl_tsds_downsample served from the MATERIALIZED rollup (the
    ES downsample-on-write contract): the plan scans the snapshot's
    series x buckets rows — never raw events. Oracle = the
    per-query key's oracle verbatim, so the driver proves the
    materialized rollup value-identical to the on-the-fly one; the
    merge-on-append lifecycle (append == rebuild) is pinned in
    tests/test_tsds_rollup.py."""
    from parquet_generator_spark.sinks.tsds_rollup import (
        serve_rollup,
    )

    root = _ensure_rollup(spark, sf_dir)
    return (serve_rollup(spark, root)
            .orderBy("event_type", "bucket"))


def _tsds_served_oracle() -> str:
    from parquet_generator_spark.plans.reference_queries23 import (
        DSL_TSDS_DOWNSAMPLE_ORACLE,
    )

    return DSL_TSDS_DOWNSAMPLE_ORACLE


QUERIES.update(
    {"dsl_tsds_downsample_served": dsl_tsds_downsample_served})
ORACLES.update(
    {"dsl_tsds_downsample_served": _tsds_served_oracle()})


# ------------------------------------------- esql_row / esql_show

ESQL_ROW_QUERY = (
    'ROW lo = 10, hi = 42, label = "window" '
    "| EVAL span = hi - lo, mid = (hi + lo) / 2 "
    "| KEEP label, lo, hi, span, mid")


def esql_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``ROW`` (a source-less head): a one-row literal
    relation built from name = expr assignments, flowing into the
    normal pipeline (EVAL/KEEP here). The 8.x grammar's scratchpad
    form — useful for probing functions and shipping constants into
    LOOKUP-style joins without touching an index."""
    from parquet_generator_spark.operators.esql import (
        esql_df,
        parse_esql,
    )

    return esql_df(None, parse_esql(ESQL_ROW_QUERY))


def esql_show(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``SHOW INFO``: the engine identity as a one-row
    relation (deterministic literals — both engines render the
    same row, so the driver hash-matches it like any query)."""
    from parquet_generator_spark.operators.esql import (
        esql_df,
        parse_esql,
    )

    return esql_df(None, parse_esql("SHOW INFO"))


def _row_oracle(q: str) -> str:
    from parquet_generator_spark.operators.esql import (
        esql_duck_sql,
        parse_esql,
    )

    return esql_duck_sql(parse_esql(q))


QUERIES.update({"esql_row": esql_row, "esql_show": esql_show})
ORACLES.update({
    "esql_row": _row_oracle(ESQL_ROW_QUERY),
    "esql_show": _row_oracle("SHOW INFO"),
})


# --------------------------------------------- dsl_retriever_linear

def dsl_retriever_linear(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """ES 8.18 ``linear`` retriever (the weighted sibling of the
    8.14 rrf retriever — dsl_rrf's per-branch-weights counterpart,
    and the DSL twin of esql_fuse_linear): fuse the same lexical
    and vector legs by WEIGHTED, minmax-NORMALIZED scores instead
    of reciprocal ranks — score = sum over retrievers of
    weight x (s - min) / (max - min) within each leg's
    rank_window_size, a missing leg contributing 0. Each leg stays
    a bounded TakeOrderedAndProject; the minmax scalars come from a
    single-partition WINDOW over the <= window-row leg (the window
    shares the leg's one scan, same shape as the oracle's
    ``max(s) OVER ()``). The window input is the LIMITed leg, never
    the corpus, so nothing data-scale funnels through the single
    partition; the fusion is a full-outer join of two <= window
    frames."""
    import math

    from pyspark.sql.window import Window

    from parquet_generator_spark.operators.esdsl import (
        score_query,
        translate_query,
    )
    from parquet_generator_spark.operators.similarity import (
        cosine_to_literal,
    )
    from parquet_generator_spark.plans.reference_queries19 import (
        _RRF_K,
        _RRF_QV,
        _RRF_TEXT_Q,
        _RRF_WINDOW,
    )
    from parquet_generator_spark.sources.catalog import load_table

    w_text, w_vec = 0.7, 0.3
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)

    def norm(leg: DataFrame, col: str) -> DataFrame:
        w = Window.partitionBy()
        mn, mx = F.min(col).over(w), F.max(col).over(w)
        return (leg.withColumn(
                    "_ns",
                    F.when(mx > mn,
                           (F.col(col) - mn) / (mx - mn))
                    .otherwise(F.lit(1.0)))
                .select("id", "_ns"))

    t_top = (docs.filter(translate_query(_RRF_TEXT_Q))
             .select(F.col("doc_id").alias("id"),
                     F.round(score_query(_RRF_TEXT_Q), 4)
                     .alias("s"))
             .orderBy(F.desc("s"), F.asc("id"))
             .limit(_RRF_WINDOW))
    cos = cosine_to_literal("embedding", _RRF_QV)
    v_top = (emb.select(F.col("vec_id").alias("id"),
                        F.round(cos, 6).alias("c"))
             .orderBy(F.desc("c"), F.asc("id"))
             .limit(_RRF_WINDOW))

    t_n = norm(t_top, "s").withColumnRenamed("_ns", "text_norm")
    v_n = norm(v_top, "c").withColumnRenamed("_ns", "vec_norm")
    score = (F.coalesce(F.col("text_norm") * F.lit(w_text),
                        F.lit(0.0))
             + F.coalesce(F.col("vec_norm") * F.lit(w_vec),
                          F.lit(0.0)))
    return (t_n.join(v_n, "id", "full_outer")
            .select("id",
                    F.round("text_norm", 6).alias("text_norm"),
                    F.round("vec_norm", 6).alias("vec_norm"),
                    F.round(score, 6).alias("linear_score"))
            .orderBy(F.desc("linear_score"), F.asc("id"))
            .limit(_RRF_K))


def _retriever_linear_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        cosine_to_literal_duck_sql,
    )
    from parquet_generator_spark.plans.reference_queries19 import (
        _RRF_K,
        _RRF_QV,
        _RRF_WINDOW,
        _tok_duck,
    )

    def hit(t: str, w: float) -> str:
        return (f"{w!r} * (CASE WHEN {_tok_duck('text', t)} "
                f"THEN 1 ELSE 0 END)")

    s1, s2, s3 = hit("join", 2.0), hit("hash", 1.5), hit("sort", 1.0)
    cos_sql = cosine_to_literal_duck_sql(
        "CAST(embedding AS DOUBLE[])", _RRF_QV)
    return f"""
WITH t_top AS (
  SELECT doc_id AS id,
         round(greatest({s1}, {s2}, {s3})
               + 0.3 * ({s1} + {s2} + {s3}
                        - greatest({s1}, {s2}, {s3})), 4) AS s
  FROM documents
  WHERE {_tok_duck('text', 'join')} OR {_tok_duck('text', 'hash')}
     OR {_tok_duck('text', 'sort')}
  ORDER BY s DESC, id ASC LIMIT {_RRF_WINDOW}),
t_n AS (
  SELECT id, CASE WHEN max(s) OVER () > min(s) OVER ()
             THEN (s - min(s) OVER ())
                  / (max(s) OVER () - min(s) OVER ())
             ELSE 1.0 END AS text_norm
  FROM t_top),
v_top AS (
  SELECT vec_id AS id, round({cos_sql}, 6) AS c
  FROM embeddings
  ORDER BY c DESC, id ASC LIMIT {_RRF_WINDOW}),
v_n AS (
  SELECT id, CASE WHEN max(c) OVER () > min(c) OVER ()
             THEN (c - min(c) OVER ())
                  / (max(c) OVER () - min(c) OVER ())
             ELSE 1.0 END AS vec_norm
  FROM v_top)
SELECT coalesce(t_n.id, v_n.id) AS id,
       round(text_norm, 6) AS text_norm,
       round(vec_norm, 6) AS vec_norm,
       round(coalesce(text_norm * 0.7, 0.0)
             + coalesce(vec_norm * 0.3, 0.0), 6) AS linear_score
FROM t_n FULL OUTER JOIN v_n ON t_n.id = v_n.id
ORDER BY linear_score DESC, id ASC LIMIT {_RRF_K}
"""


QUERIES.update({"dsl_retriever_linear": dsl_retriever_linear})
ORACLES.update({"dsl_retriever_linear": _retriever_linear_oracle()})
