"""ES-DSL eighteenth tranche: `parent_id` (the last parent-child
query kind after has_child/has_parent), the `sparse_vector` query
(ELSER-style learned-sparse retrieval: score = sum of query-term
weight x doc term frequency), and the `rank_eval` API
(precision@k / MRR / NDCG@k over rated search results).

Scale posture: parent_id is a literal-key child filter (pushdown to
the scan); sparse_vector explodes only tokens IN the bounded query
vocabulary, aggregates exact scaled-integer scores, and takes top-k
via TakeOrderedAndProject; rank_eval fans each doc out over a LITERAL
request array (a projection explode — no join, so no nested-loop
hazard) and computes the ranked metrics with windows partitioned by
request id. NDCG's ideal-DCG table is precomputed in Python and
embedded as the SAME literal array in both engines, so cross-engine
log2 drift cannot enter the ideal side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# -------------------------------------------------------- dsl_parent_id

def dsl_parent_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `parent_id` query: children of ONE named parent — here the
    smallest existing order key so the query returns rows at every
    SF (ES callers pass a literal id; here the min attaches as a
    scalar subquery and the child filter compares against it)."""
    li = load_table(spark, "lineitem", sf_dir)
    target = li.agg(F.min("l_orderkey").alias("pid"))
    kids = broadcast_scalars(li, target)
    return (kids.filter(F.col("l_orderkey") == F.col("pid"))
            .select("l_orderkey", "l_linenumber", "l_quantity",
                    "l_returnflag")
            .orderBy("l_linenumber"))


DSL_PARENT_ID_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
ORDER BY l_linenumber
"""


# ---------------------------------------------------- dsl_sparse_vector

# ELSER-style query vector: token -> weight. Weights are exact
# decimals scaled x10 so the per-doc score is an exact integer sum
# (no float-sum-order hazard); the emitted score divides once.
_SPARSE_Q = {"spark": 20, "window": 15, "join": 10, "vector": 30}
_SPARSE_K = 15


def dsl_sparse_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `sparse_vector` query: rank documents by the dot product
    of a learned-sparse query vector (token -> weight) with the
    doc's term frequencies. Tokens outside the query vocabulary are
    dropped BEFORE the aggregate (the explode filters on a 4-token
    literal IN-list), the score accumulates as an exact scaled
    integer, and the top-k is orderBy+limit -> TakeOrdered."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("term")) \
        .filter(F.col("term").isin(*_SPARSE_Q))
    wmap = F.create_map(*[
        x for t, w in sorted(_SPARSE_Q.items())
        for x in (F.lit(t), F.lit(w))])
    scored = (tok.groupBy("doc_id", "term")
              .agg(F.count(F.lit(1)).alias("tf"))
              .select("doc_id",
                      (wmap[F.col("term")] * F.col("tf"))
                      .alias("contrib"))
              .groupBy("doc_id")
              .agg((F.sum("contrib") / 10.0).alias("score")))
    return (scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(_SPARSE_K)
            .select("doc_id", "score"))


def _sparse_vector_oracle() -> str:
    cases = " ".join(f"WHEN '{t}' THEN {w}"
                     for t, w in sorted(_SPARSE_Q.items()))
    toks = ", ".join(f"'{t}'" for t in sorted(_SPARSE_Q))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({toks}) GROUP BY doc_id, term),
s AS (
  SELECT doc_id,
         CAST(sum((CASE term {cases} END) * tf) AS BIGINT)
           / CAST(10.0 AS DOUBLE) AS score
  FROM tf GROUP BY doc_id)
SELECT doc_id, score FROM s
ORDER BY score DESC, doc_id ASC LIMIT {_SPARSE_K}
"""


# -------------------------------------------------------- dsl_rank_eval

_RANK_REQUESTS = [("r1", "spark"), ("r2", "window"), ("r3", "vector")]
_RANK_K = 10
# rating: 1 when the doc is English (a deterministic editorial
# judgment independent of the ranking function, as rank_eval expects)
_IDCG = [0.0]
for _i in range(1, _RANK_K + 1):
    _IDCG.append(_IDCG[-1] + 1.0 / math.log2(_i + 1))
_IDCG_DUCK = "[" + ", ".join(f"{v!r}" for v in _IDCG) + "]"
_IDCG_SPARK = "array(" + ", ".join(f"{v!r}D" for v in _IDCG) + ")"


def dsl_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `rank_eval` API: for each literal request (a term query
    ranked by term frequency desc, doc_id asc), compute
    precision@k, MRR, and NDCG@k against binary ratings
    (lang = 'en'). Docs fan out over the literal request array by a
    projection explode (no join); ranks are windows PARTITIONED by
    request id; the ideal DCG comes from a shared precomputed
    literal table indexed by min(k, #relevant-matched)."""
    docs = load_table(spark, "documents", sf_dir)
    reqs = F.array(*[
        F.struct(F.lit(rid).alias("rid"), F.lit(t).alias("term"))
        for rid, t in _RANK_REQUESTS])
    hits = (docs.select(
        "doc_id", "lang", F.explode(reqs).alias("r"),
        F.split("text", " ").alias("toks"))
        .select("doc_id", "lang", F.col("r.rid").alias("rid"),
                F.expr("size(filter(toks, x -> x = r.term))")
                .alias("tf"))
        .filter(F.col("tf") > 0)
        .withColumn("rating",
                    F.when(F.col("lang") == "en", 1).otherwise(0)))
    w = Window.partitionBy("rid").orderBy(F.desc("tf"), F.asc("doc_id"))
    ranked = hits.withColumn("rank", F.row_number().over(w))
    idcg = F.expr(_IDCG_SPARK)
    return (ranked.groupBy("rid")
            .agg(F.count(F.lit(1)).alias("n_matched"),
                 F.sum("rating").alias("n_relevant"),
                 (F.sum(F.when(F.col("rank") <= _RANK_K,
                               F.col("rating")).otherwise(0))
                  / float(_RANK_K)).alias("precision_at_k"),
                 F.coalesce(
                     F.max(F.when(F.col("rating") == 1,
                                  1.0 / F.col("rank"))),
                     F.lit(0.0)).alias("mrr"),
                 F.sum(F.when(
                     F.col("rank") <= _RANK_K,
                     F.col("rating") / F.log2(F.col("rank") + 1))
                     .otherwise(0.0)).alias("dcg"))
            .withColumn("ndcg", F.when(
                F.col("n_relevant") > 0,
                F.col("dcg") / F.element_at(
                    idcg,
                    F.least(F.col("n_relevant").cast("int"),
                            F.lit(_RANK_K)) + 1))
                .otherwise(F.lit(0.0)))
            .select("rid", "n_matched", "n_relevant",
                    "precision_at_k", "mrr", "ndcg")
            .orderBy("rid"))


def _rank_eval_oracle() -> str:
    reqs = ", ".join(f"('{rid}', '{t}')" for rid, t in _RANK_REQUESTS)
    return f"""
WITH req(rid, term) AS (VALUES {reqs}),
hits AS (
  SELECT d.doc_id, r.rid,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS rating,
         CAST(length(list_filter(string_split(d.text, ' '),
                                 x -> x = r.term)) AS INT) AS tf
  FROM documents d CROSS JOIN req r),
m AS (SELECT * FROM hits WHERE tf > 0),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY rid ORDER BY tf DESC, doc_id ASC) AS rank
  FROM m),
agg AS (
  SELECT rid,
         CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(rating) AS BIGINT) AS n_relevant,
         sum(CASE WHEN rank <= {_RANK_K} THEN rating ELSE 0 END)
           / CAST({_RANK_K} AS DOUBLE) AS precision_at_k,
         coalesce(max(CASE WHEN rating = 1
                           THEN CAST(1.0 AS DOUBLE) / rank END),
                  CAST(0.0 AS DOUBLE)) AS mrr,
         sum(CASE WHEN rank <= {_RANK_K}
                  THEN rating / log2(rank + 1)
                  ELSE CAST(0.0 AS DOUBLE) END) AS dcg
  FROM ranked GROUP BY rid)
SELECT rid, n_matched, n_relevant, precision_at_k, mrr,
       CASE WHEN n_relevant > 0
            THEN dcg / ({_IDCG_DUCK}[least(n_relevant, {_RANK_K})
                                     + 1])
            ELSE CAST(0.0 AS DOUBLE) END AS ndcg
FROM agg ORDER BY rid
"""


QUERIES.update({"dsl_parent_id": dsl_parent_id,
                "dsl_sparse_vector": dsl_sparse_vector,
                "dsl_rank_eval": dsl_rank_eval})
ORACLES.update({"dsl_parent_id": DSL_PARENT_ID_ORACLE,
                "dsl_sparse_vector": _sparse_vector_oracle(),
                "dsl_rank_eval": _rank_eval_oracle()})
