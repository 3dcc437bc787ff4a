"""LLM-pipeline twenty-first wave: BPE vocabulary TRAINING.

``bpe_merge_candidates`` (llm_queries6.py) is step 1 of BPE — one
pair-count pass. This module closes the round-8 verdict's missing
capstone: the iterated merge-and-recount loop that actually trains a
merge table (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units" — the published algorithm).

Spark-first shape (the kmeans/pagerank iterative-join posture):
- training runs over the UNIQUE-WORD frequency table, not the corpus
  (one groupBy; at 100 TB the vocab table is orders of magnitude
  smaller than the text and is the industry-standard BPE input);
- each round is ONE keyed aggregation (adjacent-pair counts weighted
  by word frequency) + a single-row collect (the argmax pair becomes
  a PLAN LITERAL, exactly like the quantized k-means centroids);
- the merge applies as a double-pass plain string ``replace`` over
  the space-delimited symbol string — for left != right two passes
  make leftmost non-overlapping replacement equal to greedy
  left-to-right BPE merging (a single pass misses every second
  adjacent occurrence because the shared delimiter space is
  consumed; the missed ones are never adjacent, so pass 2 gets them
  all).  KNOWN DEVIATION from Sennrich-greedy BPE: for
  SELF-OVERLAPPING pairs (left == right) on symbol runs >= 5 the
  double replace groups differently (['a']*5 -> ['aa','a','aa'] vs
  greedy ['aa','aa','a']; runs >= 6 differ in token count) — pinned
  as an expected-divergence regression in tests/test_bpe_property.py.
  Both engines run the IDENTICAL double replace, so oracle parity is
  unaffected.  Plain ``replace`` is leftmost non-overlapping in BOTH
  engines, so the DuckDB oracle replays the identical K rounds as
  unrolled CTEs with scalar subqueries — no Spark-result leakage
  into the oracle.
- per-round lineage is cut with ``cache.checkpoint``, so K rounds
  cost K passes, not K^2.

Scale: per round = one shuffle keyed by pair over the vocab table +
one bounded collect (1 row). State between rounds is the evolving
vocab frame (checkpointed) + K merge literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_generator_spark.operators import cache as _cache
from parquet_generator_spark.operators.text import toks_duck, toks_spark
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}

BPE_TRAIN_MERGES = 12

# symbol string: sentinel-space-delimited chars, e.g. "low" -> " l o w "
_CHARS_SPARK = ("concat(' ', array_join(transform("
                "sequence(1, length(w)), i -> substring(w, i, 1)), "
                "' '), ' ')")
_CHARS_DUCK = ("' ' || array_to_string(list_transform("
               "generate_series(1, length(w)), i -> substr(w, i, 1)), "
               "' ') || ' '")

# adjacent symbol pairs of the delimited string, as 'a b' strings
_PAIRS_SPARK = (
    "CASE WHEN size(l) >= 2 THEN transform(sequence(1, size(l) - 1), "
    "i -> concat(element_at(l, i), ' ', element_at(l, i + 1))) "
    "ELSE array() END")
_PAIRS_DUCK = (
    "CASE WHEN len(l) >= 2 THEN list_transform("
    "generate_series(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1]) "
    "ELSE [] END")

_SPLIT_SPARK = "filter(split(s, ' '), t -> t != '')"
_SPLIT_DUCK = "list_filter(string_split(s, ' '), t -> t <> '')"


def bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE merge table (K=12 rounds) over the documents
    corpus: rank, the merged pair (left/right/merged), and the
    weighted corpus frequency the pair had when selected. Ties break
    on ascending pair string in both engines."""
    docs = load_table(spark, "documents", sf_dir)
    vocab = (docs.select(F.explode(F.expr(toks_spark("text")))
                         .alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
             .select(F.expr(_CHARS_SPARK).alias("s"), "freq"))
    merges: list[tuple] = []
    for r in range(1, BPE_TRAIN_MERGES + 1):
        best = (vocab
                .select(F.expr(_SPLIT_SPARK).alias("l"), "freq")
                .select(F.explode(F.expr(_PAIRS_SPARK)).alias("pair"),
                        "freq")
                .groupBy("pair").agg(F.sum("freq").alias("n"))
                .orderBy(F.desc("n"), F.asc("pair"))
                .limit(1).collect())
        if not best:
            break
        pair, n = best[0]["pair"], int(best[0]["n"])
        left, right = pair.split(" ")
        merged = left + right
        pat, rep = f" {pair} ", f" {merged} "
        # double-pass leftmost replace == greedy BPE merge for
        # left != right; self-pairs on runs >= 5 deviate (see module
        # docstring) — identically in both engines; the merge pair
        # is a plan literal.  eager=False: the checkpoint
        # still truncates lineage, but its materialization fuses
        # into the NEXT round's pair-count job instead of running a
        # separate eager job per round — K jobs instead of 2K for
        # the identical rounds.
        vocab = _cache.checkpoint(vocab.select(
            F.replace(F.replace("s", F.lit(pat), F.lit(rep)),
                      F.lit(pat), F.lit(rep)).alias("s"),
            "freq"), eager=False)
        merges.append((r, left, right, merged, n))
    schema = T.StructType([
        T.StructField("rank", T.IntegerType()),
        T.StructField("merge_left", T.StringType()),
        T.StructField("merge_right", T.StringType()),
        T.StructField("merged", T.StringType()),
        T.StructField("n", T.LongType()),
    ])
    return spark.createDataFrame(merges, schema).orderBy("rank")


def bpe_vocab_train_duck_sql(k: int = BPE_TRAIN_MERGES) -> str:
    """Unrolled K-round replay: each round's argmax pair is a scalar
    subquery; the merge is the same double-pass replace."""
    parts = [
        "WITH w0 AS MATERIALIZED (\n"
        f"  SELECT {_CHARS_DUCK} AS s, freq FROM (\n"
        f"    SELECT w, count(*) AS freq FROM (\n"
        f"      SELECT unnest({toks_duck('text')}) AS w FROM documents)\n"
        f"    GROUP BY w))"]
    for r in range(1, k + 1):
        prev = f"w{r - 1}"
        parts.append(
            f"p{r} AS MATERIALIZED (\n"
            f"  SELECT unnest({_PAIRS_DUCK}) AS pair, freq FROM (\n"
            f"    SELECT {_SPLIT_DUCK} AS l, freq FROM {prev})),\n"
            f"b{r} AS MATERIALIZED (\n"
            f"  SELECT pair, sum(freq) AS n FROM p{r} GROUP BY pair\n"
            f"  ORDER BY n DESC, pair ASC LIMIT 1),\n"
            f"w{r} AS MATERIALIZED (\n"
            f"  SELECT replace(replace(s,\n"
            f"           ' ' || (SELECT pair FROM b{r}) || ' ',\n"
            f"           ' ' || (SELECT replace(pair, ' ', '') FROM b{r})"
            f" || ' '),\n"
            f"           ' ' || (SELECT pair FROM b{r}) || ' ',\n"
            f"           ' ' || (SELECT replace(pair, ' ', '') FROM b{r})"
            f" || ' ') AS s, freq\n"
            f"  FROM {prev})")
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS rank,\n"
        f"  (SELECT split_part(pair, ' ', 1) FROM b{r}) AS merge_left,\n"
        f"  (SELECT split_part(pair, ' ', 2) FROM b{r}) AS merge_right,\n"
        f"  (SELECT replace(pair, ' ', '') FROM b{r}) AS merged,\n"
        f"  (SELECT CAST(n AS BIGINT) FROM b{r}) AS n"
        for r in range(1, k + 1))
    return ",\n".join(parts) + "\n" + rows + "\nORDER BY rank"


QUERIES.update({"bpe_vocab_train": bpe_vocab_train})
ORACLES.update({"bpe_vocab_train": bpe_vocab_train_duck_sql()})


# ------------------------------------------------------ bpe_encode_stats

def _apply_merges_sql(inner: str, merges: list[tuple]) -> str:
    """SQL expression applying the trained merge sequence to the
    delimited symbol string ``inner`` (double-pass replace per merge,
    the same double-replace semantics as training — greedy-equal for
    left != right, self-pair runs >= 5 deviate identically in both
    engines; portable to DuckDB)."""
    expr = inner
    for _r, left, right, merged, _n in merges:
        pat = f"' {left} {right} '"
        rep = f"' {merged} '"
        expr = f"replace(replace({expr}, {pat}, {rep}), {pat}, {rep})"
    return expr


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained merge table: re-derives the K=12
    merges (bounded single-row collects -> plan literals, the same
    training loop), applies them to every word of every document,
    and reports the tokenizer's effect per source — docs, total
    chars (pre-BPE symbol count), post-BPE token count, and chars
    per token (the compression/fertility report a tokenizer change
    ships with; the trained-BPE twin of tokenizer_fertility).

    Scale shape: the merge table is O(K) literals; encoding is 2K
    string replaces inside ONE projection over the corpus — no
    shuffle beyond the final per-source aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    merges = [tuple(r) for r in
              bpe_vocab_train(spark, sf_dir).collect()]
    encoded = _apply_merges_sql(_CHARS_SPARK, merges)
    word_expr = (
        f"transform({toks_spark('text')}, w -> named_struct("
        f"'chars', length(w), "
        f"'toks', cast(size(filter(split({encoded}, ' '), "
        f"t -> t != '')) as bigint)))")
    stats = docs.filter(
        F.expr(f"size({toks_spark('text')}) >= 1")).select(
        "source",
        F.expr(
            f"aggregate({word_expr}, "
            f"named_struct('c', cast(0 as bigint), "
            f"'t', cast(0 as bigint)), "
            f"(a, x) -> named_struct('c', a.c + x.chars, "
            f"'t', a.t + x.toks))").alias("agg"))
    return (stats.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("agg.c").alias("chars"),
                 F.sum("agg.t").alias("bpe_tokens"),
                 F.round(F.sum("agg.c") / F.sum("agg.t"), 4)
                 .alias("chars_per_token"))
            .orderBy("source"))


def bpe_encode_stats_duck_sql(k: int = BPE_TRAIN_MERGES) -> str:
    """Replay: re-train the merges in SQL (the bpe_vocab_train CTE
    chain), then apply the SAME double-pass replaces to every word
    via the b{r} scalar subqueries."""
    train = bpe_vocab_train_duck_sql(k)
    ctes = train[:train.index("\nSELECT CAST(1 AS INTEGER)")]
    enc = _CHARS_DUCK
    for r in range(1, k + 1):
        pat = f"' ' || (SELECT pair FROM b{r}) || ' '"
        rep = f"' ' || (SELECT replace(pair, ' ', '') FROM b{r}) || ' '"
        enc = (f"replace(replace({enc}, {pat}, {rep}), {pat}, {rep})")
    return f"""{ctes},
words AS (
  SELECT doc_id, source, unnest({toks_duck('text')}) AS w
  FROM documents),
encw AS (
  SELECT doc_id, source, length(w) AS chars,
         len(list_filter(string_split({enc}, ' '), t -> t <> ''))
           AS toks
  FROM words)
SELECT source, count(DISTINCT doc_id) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS chars,
       CAST(sum(toks) AS BIGINT) AS bpe_tokens,
       round(CAST(sum(chars) AS DOUBLE) / sum(toks), 4)
         AS chars_per_token
FROM encw
GROUP BY source
ORDER BY source
"""


QUERIES.update({"bpe_encode_stats": bpe_encode_stats})
ORACLES.update({"bpe_encode_stats": bpe_encode_stats_duck_sql()})
