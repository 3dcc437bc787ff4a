"""LLM-pipeline wave 12: maximal-span exact substring dedup.

`span_dedup` (llm_queries5) implements the fixed-K-window variant of
Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
Better"): which K-token windows occur >= 2 times corpus-wide. The
suffix-array formulation the dedup literature ships at corpus scale
reports the LONGEST duplicated span instead. This query closes that
gap at the span-merge level: every duplicated K-window is an interval
[i, i+K) of token positions; duplicated windows whose intervals
OVERLAP (offset gap < K) merge into islands (gaps-and-islands via a
lagged new-island flag + running sum), and an island spanning
offsets [first, last] is a maximal duplicated span of
last - first + K tokens — exactly the union of its windows, and
islands' intervals are disjoint by construction so the covered-token
sum never double-counts. Equivalent to the suffix-array answer whenever the true
longest duplicated substring is >= K tokens (shorter duplicates are
below the K-token floor by design, as in Lee et al.'s minimum match
length).

Scale posture: the span explode + (span)-keyed totals are the same
two keyed shuffles as span_dedup (nothing pairwise — text never
compares against text); the island window partitions by doc_id
(keyed, parallel across docs); every downstream frame is
doc-cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.text import toks_duck, toks_spark
from parquet_generator_spark.operators.util import widen_if_narrow
from parquet_generator_spark.plans.llm_queries5 import SPAN_K
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def maximal_dup_spans(docs: DataFrame) -> DataFrame:
    """Per-document maximal duplicated spans over a (doc_id, text)
    frame: longest duplicated span length (tokens; 0 if none reaches
    the K floor), number of maximal spans (islands), and the total
    tokens covered by duplicated spans (union length,
    double-count-free)."""
    toks = toks_spark("text")
    spans = docs.select(
        F.col("doc_id"),
        F.posexplode(F.expr(
            f"CASE WHEN size({toks}) >= {SPAN_K} THEN "
            f"transform(sequence(0, size({toks}) - {SPAN_K}), "
            f"i -> array_join(slice({toks}, i + 1, {SPAN_K}), ' ')) "
            f"ELSE array() END")).alias("off", "span"))
    # span totals as a WINDOW over the span partition (round 13: this
    # was a self-join of the exploded frame against its own groupBy,
    # which re-ran the tokenize+explode chain twice — the same shape
    # span_dedup shed, guide §2.4: the window computes the identical
    # per-span count on ONE pass sharing the span exchange)
    dup_off = (spans
               .withColumn("total", F.count(F.lit(1)).over(
                   Window.partitionBy("span")))
               .filter(F.col("total") >= 2)
               .select("doc_id", "off"))
    # islands merge on WINDOW OVERLAP, not mere offset adjacency: two
    # duplicated windows at offsets i < j cover overlapping token
    # intervals whenever j - i < K, so they belong to one maximal
    # span. A new island starts only when the gap reaches K — which
    # also makes islands' [min, max + K) intervals disjoint, so the
    # covered-token sum is a true union (never exceeds the doc).
    w = Window.partitionBy("doc_id").orderBy("off")
    new_isl = F.when(
        F.lag("off").over(w).isNull()
        | (F.col("off") - F.lag("off").over(w) >= SPAN_K),
        1).otherwise(0)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = (dup_off
               .withColumn("isl", F.sum(new_isl).over(wrun))
               .groupBy("doc_id", "isl")
               .agg((F.max("off") - F.min("off") + F.lit(SPAN_K))
                    .alias("span_len")))
    per_doc = (islands.groupBy("doc_id")
               .agg(F.max("span_len").alias("max_dup_span"),
                    F.count(F.lit(1)).alias("n_spans"),
                    F.sum("span_len").alias("dup_tokens")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("max_dup_span", F.lit(0))
                    .cast("long").alias("max_dup_span"),
                    F.coalesce("n_spans", F.lit(0))
                    .cast("long").alias("n_spans"),
                    F.coalesce("dup_tokens", F.lit(0))
                    .cast("long").alias("dup_tokens"))
            .orderBy("doc_id"))


def span_dedup_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    return maximal_dup_spans(docs)


SPAN_DEDUP_MAXIMAL_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
sp AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS off,
         list_aggr(tk[u.i + 1 : u.i + {SPAN_K}], 'string_agg', ' ')
           AS span
  FROM t, unnest(CASE WHEN len(tk) >= {SPAN_K}
                 THEN range(0, len(tk) - {SPAN_K} + 1)
                 ELSE [] END) AS u(i)),
tot AS (SELECT span, count(*) AS total FROM sp GROUP BY span),
dup AS (
  SELECT s.doc_id, s.off FROM sp s JOIN tot USING (span)
  WHERE tot.total >= 2),
flagged AS (
  SELECT doc_id, off,
         CASE WHEN lag(off) OVER (PARTITION BY doc_id ORDER BY off)
                   IS NULL
              OR off - lag(off) OVER (PARTITION BY doc_id
                                      ORDER BY off) >= {SPAN_K}
              THEN 1 ELSE 0 END AS new_isl
  FROM dup),
isl AS (
  SELECT doc_id, off,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY off
                            ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged),
runs AS (
  SELECT doc_id, grp,
         max(off) - min(off) + {SPAN_K} AS span_len
  FROM isl GROUP BY doc_id, grp),
agg AS (
  SELECT doc_id,
         CAST(max(span_len) AS BIGINT) AS max_dup_span,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(span_len) AS BIGINT) AS dup_tokens
  FROM runs GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.max_dup_span, 0) AS max_dup_span,
       COALESCE(a.n_spans, 0) AS n_spans,
       COALESCE(a.dup_tokens, 0) AS dup_tokens
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""

# ------------------------------------------------ ccnet_quality_buckets

# CCNet-style perplexity cutoffs: computed once on a reference corpus
# and applied as CONSTANTS (exactly how CCNet ships its per-language
# cutoff files) — so the bucketing is a pure projection, no global
# percentile pass at scoring time. Chosen from the sf0.1 avg_lp
# distribution (roughly terciles).
CCNET_HEAD_LP = -4.88   # avg bigram log2-prob above this = head
CCNET_MIDDLE_LP = -4.93  # above this = middle, else tail


def ccnet_quality_buckets(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """CCNet-style LM-quality bucketing: every document scored by
    the add-one corpus bigram model (bigram_logprob's exact recipe),
    then assigned head/middle/tail by fixed cutoffs; reported per
    (source, bucket) with counts and mean score — the mixture table
    a CCNet-style curation run feeds into sampling weights. Scoring
    is the bigram pipeline's two keyed shuffles; the bucket label is
    arithmetic on the ROUNDED score (both engines compare the same
    4-decimal value, so the cut can't flip on an ulp)."""
    from parquet_generator_spark.plans.llm_queries7 import (
        bigram_logprob_frame,
    )
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    scored = bigram_logprob_frame(docs).select("doc_id", "avg_lp")
    bucket = (F.when(F.col("avg_lp") >= CCNET_HEAD_LP, "head")
              .when(F.col("avg_lp") >= CCNET_MIDDLE_LP, "middle")
              .otherwise("tail"))
    return (docs.select("doc_id", "source")
            .join(scored, "doc_id")
            .withColumn("bucket", bucket)
            .groupBy("source", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 # quantize-then-average: sum the exact scaled
                 # integers so both engines divide the SAME integers
                 # into the SAME double — and emit that double
                 # UN-rounded (a final round(x, 4) can land exactly on
                 # a decimal half, where Spark's HALF_UP and DuckDB
                 # disagree; the bit-identical quotient needs no
                 # rounding to hash equal)
                 (F.sum(F.round(F.col("avg_lp") * 10000).cast("long"))
                  / (F.count(F.lit(1)) * 10000.0)).alias("mean_lp"))
            .orderBy("source", "bucket"))


CCNET_QUALITY_BUCKETS_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
bg AS (
  SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2
  FROM t, unnest(range(0, len(tk) - 1)) AS a(i)
  WHERE len(tk) >= 2),
model AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
lft AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1),
vocab AS (SELECT count(DISTINCT w) AS v
          FROM (SELECT unnest(tk) AS w FROM t)),
scored AS (
  SELECT b.doc_id,
         round(avg(log2((c12 + 1.0) / (c1 + v))), 4) AS avg_lp
  FROM bg b
  JOIN model USING (w1, w2) JOIN lft USING (w1) CROSS JOIN vocab
  GROUP BY b.doc_id)
SELECT d.source,
       CASE WHEN s.avg_lp >= {CCNET_HEAD_LP} THEN 'head'
            WHEN s.avg_lp >= {CCNET_MIDDLE_LP} THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       sum(CAST(round(s.avg_lp * 10000) AS BIGINT))
         / (count(*) * 10000.0) AS mean_lp
FROM documents d JOIN scored s USING (doc_id)
GROUP BY 1, 2 ORDER BY source, bucket
"""

# --------------------------------------------------- knn_classify_ivf

def knn_classify_ivf(spark: SparkSession, sf_dir: str,
                     n_probe: int | None = None) -> DataFrame:
    """k-NN classification through the IVF index instead of the
    brute-force kernel — the swap the sf1 checkpoint demanded:
    knn_classify measured 109x for 10x data (BENCH_SF1, the quadratic
    broadcast kernel), while the IVF path only scores each query
    against its n_probe probed cells (~n_probe/n_cells of the corpus,
    an equi-join on the cell id that shuffles instead of
    broadcasting at scale). Same vote + tie-break as knn_classify;
    predictions may differ from exact k-NN only where recall < 1 —
    the oracle mirrors the IVF index exactly, so the gate stays a
    hash check."""
    from parquet_generator_spark.operators.similarity import (
        ivf_topk,
        make_centroids_from_corpus,
    )
    from parquet_generator_spark.plans.llm_queries import (
        ANN_IVF_CELLS,
        ANN_IVF_PROBE,
    )
    from parquet_generator_spark.plans.llm_queries4 import (
        KNN_K,
        KNN_QUERY_MOD,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    # cell count scales as sqrt(n) (the classic IVF dial): with FIXED
    # cells, per-cell size grows linearly and the cell join re-becomes
    # quadratic — measured 40x for 10x data at the sf1 checkpoint.
    # The floor keeps the static oracle's cell count exact at the
    # gate SFs (500-row embeddings -> sqrt < 32 -> floor wins); at
    # true corpus scale the sqrt(n) centroid table is built by
    # sampled k-means and broadcast, not collected row-by-row.
    # stays eager: Python sizes the centroid table from the count
    n = emb.count()
    n_cells = max(ANN_IVF_CELLS, int(n ** 0.5))
    cents = make_centroids_from_corpus(emb, n_cells)
    topk = ivf_topk(emb, queries, KNN_K, cents,
                    n_probe=n_probe or ANN_IVF_PROBE)
    # labels/truth are corpus-cardinality frames: NO broadcast hint —
    # a forced broadcast of every vec_id dies at 100 TB. Plain equi
    # joins on nid/qid let AQE pick shuffle-hash (or broadcast only
    # when the runtime stats say the side is actually small).
    labels = emb.select(F.col("vec_id").alias("nid"),
                        F.col("label").alias("n_label"))
    votes = (topk.join(labels, "nid")
             .groupBy("qid", "n_label")
             .agg(F.count(F.lit(1)).alias("votes")))
    w = Window.partitionBy("qid").orderBy(F.desc("votes"),
                                          F.asc("n_label"))
    pred = (votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1))
    truth = emb.select(F.col("vec_id").alias("qid"),
                       F.col("label").alias("true_label"))
    return (pred.join(truth, "qid")
            .select("qid", "true_label",
                    F.col("n_label").alias("pred_label"), "votes")
            .orderBy("qid"))


def _knn_ivf_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        ivf_topk_duck_sql,
    )
    from parquet_generator_spark.plans.llm_queries import (
        ANN_IVF_CELLS,
        ANN_IVF_PROBE,
    )
    from parquet_generator_spark.plans.llm_queries4 import (
        KNN_K,
        KNN_QUERY_MOD,
    )
    # sqrt_n_cells mirrors the plan's max(ANN_IVF_CELLS, int(n**0.5))
    # so the oracle stays exact at every SF, not only where the
    # 32-cell floor wins (ADVICE r8).
    topk = ivf_topk_duck_sql(
        "embeddings", KNN_K, f"vec_id % {KNN_QUERY_MOD} = 0",
        ANN_IVF_CELLS, ANN_IVF_PROBE, sqrt_n_cells=True).strip()
    return f"""
WITH ranked AS ({topk}),
votes AS (
  SELECT r.qid, e.label AS n_label, count(*) AS votes
  FROM ranked r JOIN embeddings e ON r.nid = e.vec_id
  GROUP BY r.qid, e.label),
pred AS (
  SELECT qid, n_label, votes,
         row_number() OVER (PARTITION BY qid
                            ORDER BY votes DESC, n_label ASC) AS rk
  FROM votes)
SELECT p.qid, t.label AS true_label, p.n_label AS pred_label, p.votes
FROM pred p JOIN embeddings t ON p.qid = t.vec_id
WHERE p.rk = 1
ORDER BY p.qid
"""


QUERIES.update({
    "span_dedup_maximal": span_dedup_maximal,
    "ccnet_quality_buckets": ccnet_quality_buckets,
    "knn_classify_ivf": knn_classify_ivf,
})
ORACLES.update({
    "span_dedup_maximal": SPAN_DEDUP_MAXIMAL_ORACLE,
    "ccnet_quality_buckets": CCNET_QUALITY_BUCKETS_ORACLE,
    "knn_classify_ivf": _knn_ivf_oracle(),
})
