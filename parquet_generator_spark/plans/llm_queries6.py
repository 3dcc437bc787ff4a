"""Sixth wave of LLM-training-data pipeline queries: embedding
quantization (ANN storage prep), cross-source duplicate-leakage
matrix, and a Zipf-fit corpus health check. DuckDB oracles mirror
every step bit-for-bit (shared float64 inputs + identical arithmetic
order), so all three are hash-gated like exact queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.text import toks_duck, toks_spark
from parquet_generator_spark.sources.catalog import load_table


# ------------------------------------------------------ embedding_quantize

def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 (0..255) affine quantization — the storage
    prep step before a large ANN index ships: scale = (max-min)/255,
    code_i = round((x_i-min)/scale). Output per vector: the scale,
    the code checksum (proves the exact same codes on any engine),
    and the max reconstruction error (bounded by scale/2 by
    construction). Everything is a narrow Catalyst map over the
    embedding array — no shuffle, no UDF; at 100 TB this runs at
    scan speed. Exactly mirrored in DuckDB: both engines fold the
    same float64 values with the same operation order, so codes are
    bit-identical, not just close."""
    emb = load_table(spark, "embeddings", sf_dir)
    return (emb
            .select("vec_id",
                    F.expr("transform(embedding, x -> cast(x AS DOUBLE))")
                    .alias("e"))
            .select("vec_id", "e",
                    F.array_min("e").alias("mn"),
                    F.array_max("e").alias("mx"))
            .select("vec_id", "e", "mn",
                    F.expr("CASE WHEN mx > mn THEN (mx - mn) / 255.0 "
                           "ELSE 1.0 END").alias("sc"))
            .select("vec_id", "e", "mn", "sc",
                    F.expr("transform(e, x -> "
                           "cast(round((x - mn) / sc) AS BIGINT))")
                    .alias("codes"))
            .select("vec_id",
                    F.round("sc", 6).alias("scale"),
                    F.expr("aggregate(codes, cast(0 AS BIGINT), "
                           "(a, c) -> a + c)").alias("code_sum"),
                    F.round(F.expr(
                        "aggregate(zip_with(e, codes, "
                        "(x, c) -> abs(x - (mn + c * sc))), "
                        "cast(0.0 AS DOUBLE), "
                        "(a, v) -> greatest(a, v))"), 6).alias("max_err"))
            .orderBy("vec_id"))


EMBEDDING_QUANTIZE_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
m AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM v),
s AS (SELECT vec_id, e, mn,
             CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS sc
      FROM m),
c AS (SELECT vec_id, e, mn, sc,
             list_transform(e, x ->
               CAST(round((x - mn) / sc) AS BIGINT)) AS codes
      FROM s)
SELECT vec_id,
       round(sc, 6) AS scale,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       round(list_max(list_transform(generate_series(1, len(e)),
             i -> abs(e[i] - (mn + codes[i] * sc)))), 6) AS max_err
FROM c ORDER BY vec_id
"""


# ------------------------------------------------------ source_overlap

def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-leakage matrix: for every source pair
    (incl. the diagonal), how many DISTINCT contents appear in both.
    The report that catches a benchmark split leaking into training
    sources. No pairwise doc scan: one distinct on (md5, source),
    one groupBy(md5) whose per-hash source set is bounded by the
    number of sources, pairs generated array-side, one final count
    shuffle keyed on the (src_a, src_b) pair."""
    docs = load_table(spark, "documents", sf_dir)
    hs = docs.select(F.md5("text").alias("h"), "source").distinct()
    grouped = (hs.groupBy("h")
               .agg(F.array_sort(F.collect_set("source")).alias("ss")))
    pairs = grouped.select(F.explode(F.expr(
        "flatten(transform(sequence(0, size(ss) - 1), "
        "i -> transform(sequence(i, size(ss) - 1), "
        "j -> struct(ss[i] AS src_a, ss[j] AS src_b))))")).alias("p"))
    return (pairs.groupBy("p.src_a", "p.src_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .select(F.col("src_a"), F.col("src_b"), "n_shared")
            .orderBy("src_a", "src_b"))


SOURCE_OVERLAP_ORACLE = """
WITH hs AS (SELECT DISTINCT md5(text) AS h, source FROM documents)
SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
FROM hs a JOIN hs b ON a.h = b.h AND a.source <= b.source
GROUP BY src_a, src_b ORDER BY src_a, src_b
"""


# ------------------------------------------------------ zipf_slope

ZIPF_TOP = 1000


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health check: the log-log slope of frequency vs rank
    over the top-K vocabulary (natural text ~ -1; synthetic or
    template-heavy corpora drift flat). The top-K comes from
    ``orderBy().limit()`` (TakeOrderedAndProject — no vocab-wide
    sort or window); the rank window and the regr_slope fold then
    run over K bounded rows."""
    docs = load_table(spark, "documents", sf_dir)
    counts = (docs.select(
        F.explode(F.expr(toks_spark("text"))).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    top = counts.orderBy(F.desc("cnt"), F.asc("word")).limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    ranked = top.withColumn("rank", F.row_number().over(w))
    return ranked.agg(
        F.round(F.expr("regr_slope(ln(cnt), ln(rank))"), 3)
        .alias("zipf_slope"),
        F.count(F.lit(1)).alias("n_terms"))


ZIPF_SLOPE_ORACLE = f"""
WITH toks AS (
  SELECT unnest({toks_duck('text')}) AS word FROM documents),
c AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
t AS (SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank
      FROM c ORDER BY cnt DESC, word ASC LIMIT {ZIPF_TOP})
SELECT round(regr_slope(ln(cnt), ln(rank)), 3) AS zipf_slope,
       count(*) AS n_terms
FROM t
"""


# ------------------------------------------------------ dup_ngram_fraction

DUP_NGRAM_K = 3
DUP_NGRAM_MAX = 0.3


def dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText duplicate-n-gram rule as its own filter:
    the fraction of a document's 3-grams that are repeats of an
    earlier 3-gram in the SAME document (1 - distinct/total).
    Template spam scores high; clean prose stays near 0. One narrow
    map per doc — the raw (non-deduped) shingle list and both sizes
    are computed inside a single struct binding so the tokenizer
    runs once per row."""
    docs = load_table(spark, "documents", sf_dir)
    k = DUP_NGRAM_K
    raw_ng = (f"CASE WHEN size(s.t) >= {k} THEN "
              f"transform(sequence(0, size(s.t) - {k}), "
              f"i -> array_join(slice(s.t, i + 1, {k}), ' ')) "
              f"ELSE array() END")
    stats = (f"transform(array(struct({toks_spark('text')} AS t)), s -> "
             f"transform(array(struct({raw_ng} AS g)), v -> "
             f"struct(size(v.g) AS n, size(array_distinct(v.g)) AS nd)"
             f")[0])[0]")
    return (docs
            .select("doc_id", F.expr(stats).alias("st"))
            .select("doc_id",
                    F.col("st.n").alias("n_ngrams"),
                    F.when(F.col("st.n") > 0,
                           F.round(1.0 - F.col("st.nd").cast("double")
                                   / F.col("st.n"), 4))
                    .otherwise(0.0).alias("dup_frac"))
            .withColumn("keep", F.col("dup_frac") <= DUP_NGRAM_MAX)
            .orderBy("doc_id"))


DUP_NGRAM_FRACTION_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= {DUP_NGRAM_K} THEN
           list_transform(generate_series(1, len(tk) - {DUP_NGRAM_K - 1}),
             i -> array_to_string(tk[i:i + {DUP_NGRAM_K - 1}], ' '))
         ELSE [] END AS ng
  FROM t)
SELECT doc_id,
       len(ng) AS n_ngrams,
       CASE WHEN len(ng) > 0
            THEN round(1.0 - CAST(len(list_distinct(ng)) AS DOUBLE)
                       / len(ng), 4)
            ELSE 0.0 END AS dup_frac,
       (CASE WHEN len(ng) > 0
             THEN round(1.0 - CAST(len(list_distinct(ng)) AS DOUBLE)
                        / len(ng), 4)
             ELSE 0.0 END) <= {DUP_NGRAM_MAX} AS keep
FROM g ORDER BY doc_id
"""


# ------------------------------------------------------ embedding_norm_outliers

def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: flag vectors whose L2 norm sits more than 3
    sample standard deviations from the corpus mean (broken encoder
    output, zero vectors, scale drift). The mean/stddev are a
    one-row aggregate attached as a scalar subquery (broadcast_scalars)
    — the same scalar-decorrelation pattern the analytics surface
    uses; the norm itself is the sequential JVM fold, bit-identical
    to DuckDB's list_dot_product."""
    from parquet_generator_spark.operators.similarity import norm
    from parquet_generator_spark.operators.util import broadcast_scalars

    emb = load_table(spark, "embeddings", sf_dir)
    norms = emb.select("vec_id", norm("embedding").alias("nrm"))
    stats = norms.agg(F.avg("nrm").alias("mu"),
                      F.stddev_samp("nrm").alias("sd"))
    return (broadcast_scalars(norms, stats)
            .select("vec_id",
                    F.round("nrm", 4).alias("nrm"),
                    (F.abs(F.col("nrm") - F.col("mu"))
                     > 3 * F.col("sd")).alias("is_outlier"))
            .orderBy("vec_id"))


EMBEDDING_NORM_OUTLIERS_ORACLE = """
WITH n AS (
  SELECT vec_id,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings),
s AS (SELECT avg(nrm) AS mu, stddev_samp(nrm) AS sd FROM n)
SELECT vec_id, round(nrm, 4) AS nrm,
       (abs(nrm - mu) > 3 * sd) AS is_outlier
FROM n, s ORDER BY vec_id
"""


# ------------------------------------------------------ bpe_merge_candidates

BPE_TOP = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE vocabulary induction: corpus-frequency
    counts of adjacent character pairs within words (with word
    multiplicity — exactly what the first merge rule is chosen
    from). Two explodes (word, then its character bigrams generated
    array-side), one keyed count shuffle, top-k via
    TakeOrderedAndProject."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        F.explode(F.expr(toks_spark("text"))).alias("w"))
    pairs = words.select(F.explode(F.expr(
        "CASE WHEN length(w) >= 2 THEN "
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)) "
        "ELSE array() END")).alias("pair"))
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("pair")).limit(BPE_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "pair", "n").orderBy("rank"))


BPE_MERGE_ORACLE = f"""
WITH words AS (
  SELECT unnest({toks_duck('text')}) AS w FROM documents),
pairs AS (
  SELECT unnest(CASE WHEN length(w) >= 2 THEN
           list_transform(generate_series(1, length(w) - 1),
                          i -> substr(w, i, 2))
         ELSE [] END) AS pair
  FROM words),
c AS (SELECT pair, count(*) AS n FROM pairs GROUP BY pair),
ranked AS (
  SELECT pair, n,
         row_number() OVER (ORDER BY n DESC, pair ASC) AS rank
  FROM c)
SELECT rank, pair, n FROM ranked WHERE rank <= {BPE_TOP}
ORDER BY rank
"""


QUERIES = {
    "bpe_merge_candidates": bpe_merge_candidates,
    "embedding_quantize": embedding_quantize,
    "source_overlap": source_overlap,
    "zipf_slope": zipf_slope,
    "dup_ngram_fraction": dup_ngram_fraction,
    "embedding_norm_outliers": embedding_norm_outliers,
}

ORACLES = {
    "bpe_merge_candidates": BPE_MERGE_ORACLE,
    "embedding_quantize": EMBEDDING_QUANTIZE_ORACLE,
    "source_overlap": SOURCE_OVERLAP_ORACLE,
    "zipf_slope": ZIPF_SLOPE_ORACLE,
    "dup_ngram_fraction": DUP_NGRAM_FRACTION_ORACLE,
    "embedding_norm_outliers": EMBEDDING_NORM_OUTLIERS_ORACLE,
}
