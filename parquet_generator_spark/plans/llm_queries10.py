"""Tenth pipeline wave (round 6): corpus monitoring operators —
batch-over-batch n-gram novelty, tokenizer fertility, source-mixture
Gini inequality, and SimHash signature bit-balance QA.

Scale posture: one (doc,token)- or hash-keyed shuffle each; scalar
totals attach as scalar subqueries (broadcast_scalars); nothing touches
the driver beyond bounded group-cardinality rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import dedup
from parquet_generator_spark.operators.text import (
    shingles_spark,
    toks_duck,
    toks_spark,
)
from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}

NOVELTY_K = 5
NOVELTY_BATCH = 100


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus freshness monitor: ingest batches (doc_id ranges) and,
    per batch, the fraction of its distinct 5-gram shingles never
    seen in ANY earlier batch — the signal that tells a crawl
    pipeline it has started re-reading the same web. First-occurrence
    trick (the cumulative_cardinality recipe): min(batch) per
    shingle, one shingle-keyed shuffle, no batch-over-batch scan."""
    docs = load_table(spark, "documents", sf_dir)
    # bound shingler (no Pandas UDF in this pipeline): the token
    # array binds once per row instead of re-tokenizing per shingle
    # index — the same 3x win measured on containment_pairs
    sh = (docs.select(
        (F.col("doc_id") / NOVELTY_BATCH).cast("long").alias("batch"),
        F.explode(F.expr(shingles_spark("text", NOVELTY_K)))
        .alias("s"))
        .distinct())
    # first-batch as a WINDOW over the shingle partition (round 13:
    # this was a join of the distinct-shingle frame against its own
    # groupBy — the explode+distinct chain ran twice, two corpus
    # scans in the before-plan; the window computes the identical
    # per-shingle min on ONE pass, guide §2.4)
    per = (sh.withColumn("first_batch",
                         F.min("batch").over(Window.partitionBy("s")))
           .groupBy("batch")
           .agg(F.count(F.lit(1)).alias("n_grams"),
                F.sum((F.col("batch") == F.col("first_batch"))
                      .cast("long")).alias("n_new")))
    return (per.select("batch", "n_grams", "n_new",
                       F.round(F.col("n_new") / F.col("n_grams"), 4)
                       .alias("novelty"))
            .orderBy("batch"))


NGRAM_NOVELTY_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT CAST(floor(doc_id / {NOVELTY_BATCH}) AS BIGINT)
           AS batch, s.s
  FROM documents,
       unnest(list_distinct(list_transform(
         range(len({toks_duck('text')}) - {NOVELTY_K - 1}),
         i -> array_to_string(list_slice({toks_duck('text')},
                                         i + 1, i + {NOVELTY_K}), ' '))))
         s(s)),
first AS (SELECT s, min(batch) AS first_batch FROM sh GROUP BY s)
SELECT sh.batch, count(*) AS n_grams,
       CAST(sum(CASE WHEN sh.batch = f.first_batch THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       round(sum(CASE WHEN sh.batch = f.first_batch THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS novelty
FROM sh JOIN first f USING (s)
GROUP BY sh.batch ORDER BY sh.batch
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: analyzed-tokens per whitespace
    word (the subword blow-up factor a tokenizer change shifts) and
    characters per token — the go/no-go numbers before re-tokenizing
    a 100 TB corpus. One narrow map + one grouped pass."""
    docs = load_table(spark, "documents", sf_dir)
    per = docs.select(
        "source",
        F.size(F.expr(toks_spark("text"))).alias("n_tok"),
        F.size(F.expr("filter(split(text, '\\\\s+'), x -> x != '')"))
        .alias("n_words"),
        F.length("text").alias("n_chars"))
    return (per.groupBy("source")
            .agg(F.sum("n_tok").alias("tokens"),
                 F.sum("n_words").alias("words"),
                 F.round(F.sum("n_tok") / F.sum("n_words").cast("double"),
                         4).alias("fertility"),
                 F.round(F.sum("n_chars") / F.sum("n_tok").cast("double"),
                         4).alias("chars_per_token"))
            .orderBy("source"))


TOKENIZER_FERTILITY_ORACLE = f"""
WITH per AS (
  SELECT source, len({toks_duck('text')}) AS n_tok,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '')) AS n_words,
         length(text) AS n_chars
  FROM documents)
SELECT source, CAST(sum(n_tok) AS BIGINT) AS tokens,
       CAST(sum(n_words) AS BIGINT) AS words,
       round(sum(n_tok) / CAST(sum(n_words) AS DOUBLE), 4)
         AS fertility,
       round(sum(n_chars) / CAST(sum(n_tok) AS DOUBLE), 4)
         AS chars_per_token
FROM per GROUP BY source ORDER BY source
"""


def gini_source_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-inequality report: the Gini coefficient of token mass
    across sources (0 = perfectly balanced corpus, 1 = one source
    owns everything) plus each source's share. Group count is
    source-cardinality, so the rank window is over a handful of rows
    — the corpus only pays one grouped aggregate."""
    from pyspark.sql import Window

    from parquet_generator_spark.operators import cache
    docs = load_table(spark, "documents", sf_dir)
    per = (docs.groupBy("source")
           .agg(F.sum(F.size(F.expr(toks_spark("text"))))
                .alias("tokens")))
    w = Window.partitionBy(F.lit(1)).orderBy("tokens", "source")
    # the ranked frame is SOURCE-cardinality (a handful of rows) and
    # feeds the totals aggregate AND the output — checkpoint it so
    # the corpus groupBy runs once. Lazy: the first consumer is the
    # full-scan totals aggregate.
    ranked = cache.lazy(per.withColumn("rk", F.row_number().over(w)))
    tot = ranked.agg(
        F.sum("tokens").alias("t"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("rk") * F.col("tokens")).alias("rt"))
    t, k, rt = F.col("t"), F.col("k"), F.col("rt")
    # Gini = (2*sum(rank_i * x_i)) / (k * sum(x)) - (k+1)/k
    gini = F.round((2.0 * rt) / (k * t) - (k + 1.0) / k, 4)
    return (broadcast_scalars(ranked, tot)
            .select("source", "tokens",
                    F.round(F.col("tokens") / t, 4).alias("share"),
                    gini.alias("gini"))
            .orderBy("source"))


GINI_SOURCE_BALANCE_ORACLE = f"""
WITH per AS (
  SELECT source,
         CAST(sum(len({toks_duck('text')})) AS BIGINT) AS tokens
  FROM documents GROUP BY source),
rk AS (SELECT source, tokens,
              row_number() OVER (ORDER BY tokens, source) AS rk
       FROM per),
g AS (SELECT round((2.0 * sum(rk * tokens))
                   / (count(*) * sum(tokens))
                   - (count(*) + 1.0) / count(*), 4) AS gini,
             CAST(sum(tokens) AS DOUBLE) AS t
      FROM rk)
SELECT p.source, p.tokens, round(p.tokens / g.t, 4) AS share, g.gini
FROM per p, g ORDER BY p.source
"""


def simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-health QA: the set-rate of each of the 60 SimHash
    bits across the corpus — a healthy hash sits near 0.5 everywhere;
    a skewed bit weakens the hamming-band guarantee. One signature
    pass (the same pure-Catalyst simhash the dedup path uses) + a
    map-side bit explode; output is 60 bounded rows with an
    in-balance boolean so the gate pins health, not noise."""
    docs = load_table(spark, "documents", sf_dir)
    sig = docs.select(dedup.simhash_spark("text").alias("sig"))
    bits = sig.select(F.explode(F.expr(
        "transform(sequence(0, 59), "
        "b -> struct(b AS bit, CAST(shiftright(sig, b) % 2 AS LONG) "
        "AS v))")).alias("p")).select("p.*")
    per = (bits.groupBy("bit")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("n_set")))
    return (per.select(
        "bit",
        F.round(F.col("n_set") / F.col("n"), 4).alias("set_rate"),
        ((F.col("n_set") / F.col("n") >= 0.2)
         & (F.col("n_set") / F.col("n") <= 0.8)).alias("balanced"))
        .orderBy("bit"))


def _simhash_bit_balance_oracle() -> str:
    sig = dedup.simhash_duck("text")
    return f"""
WITH s AS (SELECT {sig} AS sig FROM documents),
bits AS (
  SELECT b.b AS bit, (s.sig >> b.b) % 2 AS v
  FROM s, (SELECT unnest(range(60)) AS b) b)
SELECT bit, round(sum(v) / CAST(count(*) AS DOUBLE), 4) AS set_rate,
       (sum(v) / CAST(count(*) AS DOUBLE)) BETWEEN 0.2 AND 0.8
         AS balanced
FROM bits GROUP BY bit ORDER BY bit
"""


QUERIES.update({
    "ngram_novelty": ngram_novelty,
    "tokenizer_fertility": tokenizer_fertility,
    "gini_source_balance": gini_source_balance,
    "simhash_bit_balance": simhash_bit_balance,
})
ORACLES.update({
    "ngram_novelty": NGRAM_NOVELTY_ORACLE,
    "tokenizer_fertility": TOKENIZER_FERTILITY_ORACLE,
    "gini_source_balance": GINI_SOURCE_BALANCE_ORACLE,
    "simhash_bit_balance": _simhash_bit_balance_oracle(),
})
