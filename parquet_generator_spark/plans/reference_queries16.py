"""ES search-experience surface, sixteenth wave: the `suggest` API
(term suggester) and friends.

The reference feeds an ES index whose users get did-you-mean
suggestions and highlighted hits for free; this wave re-expresses
those read-side features Spark-first. The term suggester is a
corpus-vocabulary problem, not a per-row one: build (term, doc_freq)
once (one grouped pass), then candidate-match the bounded input
terms against it — a broadcast of the TINY input side onto the
first-letter equi-key, with the edit-distance bound as a post-join
filter, so the vocab (millions of terms on a real corpus) never
moves except through one groupBy shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache
from parquet_generator_spark.operators import text as tx
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# ---------------------------------------------------- dsl_term_suggest

SUGGEST_INPUTS = ["colunm", "fitler", "streem", "windoe", "batsh",
                  "join"]
SUGGEST_MAX_EDITS = 2
SUGGEST_PREFIX_LEN = 1     # ES default: first char must match
SUGGEST_SIZE = 3
SUGGEST_MIN_WORD_LEN = 4


def dsl_term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `suggest`/`term` suggester, string_distance=levenshtein:
    for each input term NOT present in the index (suggest_mode
    "missing" — 'join' exercises the suppression), the top-3
    vocabulary terms within max_edits=2 sharing the first character
    (prefix_length=1), ranked ES-style: edit distance, then document
    frequency, then term. Vocabulary = distinct-per-doc tokens >=
    min_word_length, counted in one grouped pass; inputs are a
    bounded literal frame broadcast onto the first-letter key."""
    docs = load_table(spark, "documents", sf_dir)
    vocab = (docs.select(F.explode(F.expr(
        f"array_distinct({tx.toks_spark('text')})")).alias("term"))
        .filter(F.length("term") >= SUGGEST_MIN_WORD_LEN)
        .groupBy("term").agg(F.count(F.lit(1)).alias("freq")))
    inputs = spark.createDataFrame(
        [(t,) for t in SUGGEST_INPUTS], "input string")
    missing = F.broadcast(
        inputs.join(vocab, inputs.input == vocab.term, "left_anti"))
    dist = F.levenshtein("input", "term")
    cand = missing.join(
        vocab,
        (F.substring("input", 1, SUGGEST_PREFIX_LEN)
         == F.substring("term", 1, SUGGEST_PREFIX_LEN))
        & (dist <= SUGGEST_MAX_EDITS))
    w = (Window.partitionBy("input")
         .orderBy(dist.asc(), F.desc("freq"), F.asc("term")))
    return (cand
            .withColumn("distance", dist)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= SUGGEST_SIZE)
            .select("input", "rank", F.col("term").alias("suggestion"),
                    "distance", "freq")
            .orderBy("input", "rank"))


def _term_suggest_oracle() -> str:
    vals = ", ".join(f"('{t}')" for t in SUGGEST_INPUTS)
    return f"""
WITH vocab AS (
  SELECT t AS term, count(*) AS freq FROM (
    SELECT unnest(list_distinct({tx.toks_duck('text')})) AS t
    FROM documents)
  WHERE length(t) >= {SUGGEST_MIN_WORD_LEN}
  GROUP BY t),
inputs(input) AS (VALUES {vals}),
missing AS (
  SELECT input FROM inputs
  WHERE input NOT IN (SELECT term FROM vocab)),
ranked AS (
  SELECT i.input, v.term,
         CAST(levenshtein(i.input, v.term) AS INT) AS distance,
         v.freq,
         CAST(row_number() OVER (
           PARTITION BY i.input
           ORDER BY levenshtein(i.input, v.term) ASC, v.freq DESC,
                    v.term ASC) AS INT) AS rank
  FROM missing i JOIN vocab v
    ON substring(i.input, 1, {SUGGEST_PREFIX_LEN})
       = substring(v.term, 1, {SUGGEST_PREFIX_LEN})
   AND levenshtein(i.input, v.term) <= {SUGGEST_MAX_EDITS})
SELECT input, rank, term AS suggestion, distance, freq
FROM ranked WHERE rank <= {SUGGEST_SIZE}
ORDER BY input, rank
"""


# ------------------------------------------------------ dsl_highlight

HL_TERM = "spark"
HL_FRAG_SIZE = 80          # ES fragment_size default is 100
HL_CONTEXT = 20            # chars of left context before the hit


def dsl_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `highlight`: for docs matching a term query, one fragment
    per doc anchored at the first occurrence (ES's plain highlighter
    with number_of_fragments=1), occurrences inside the fragment
    wrapped in <em> tags, plus the per-doc hit count. Pure narrow
    map — locate + substring + regexp_replace stay in codegen, no
    shuffle beyond the result sort. DIVERGENCE (documented): the
    fragment is a fixed char window [first_hit - 20, +80) rather
    than ES's sentence-boundary fragmenter."""
    docs = load_table(spark, "documents", sf_dir)
    pat = rf"\b{HL_TERM}\b"
    hits = docs.filter(F.col("text").rlike(pat))
    pos = F.locate(HL_TERM, "text")
    start = F.greatest(F.lit(1), pos - HL_CONTEXT)
    frag = F.expr(
        f"substring(text, CAST(greatest(1, locate('{HL_TERM}', text)"
        f" - {HL_CONTEXT}) AS INT), {HL_FRAG_SIZE})")
    return (hits.select(
        "doc_id",
        F.size(F.regexp_extract_all(
            "text", F.lit(pat), F.lit(0))).alias("n_hits"),
        start.alias("frag_start"),
        F.regexp_replace(
            frag, pat, f"<em>{HL_TERM}</em>").alias("fragment"))
        .orderBy("doc_id"))


def _highlight_oracle() -> str:
    return rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\b{HL_TERM}\b')) AS INT)
         AS n_hits,
       CAST(greatest(1, strpos(text, '{HL_TERM}') - {HL_CONTEXT})
            AS INT) AS frag_start,
       regexp_replace(
         substring(text,
                   CAST(greatest(1, strpos(text, '{HL_TERM}')
                                 - {HL_CONTEXT}) AS INT),
                   {HL_FRAG_SIZE}),
         '\b{HL_TERM}\b', '<em>{HL_TERM}</em>', 'g') AS fragment
FROM documents
WHERE regexp_matches(text, '\b{HL_TERM}\b')
ORDER BY doc_id
"""


# -------------------------------------------- dsl_diversified_sampler

DIV_MAX_PER_VALUE = 2      # ES max_docs_per_value
DIV_SHARD_SIZE = 500       # ES shard_size


def dsl_diversified_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `diversified_sampler` agg: cap docs per diversity value
    (user_id, max_docs_per_value=2), take the top shard_size docs,
    run sub-aggs over the sample. ES picks by score/index order; the
    deterministic stand-in orders by event_id both for the per-value
    cap and the sample cut. Plan: the per-value cap is a window
    PARTITIONED by user_id (parallel across users), the sample cut
    is TakeOrderedAndProject on the capped frame, and the sub-aggs
    run on a <=shard_size bounded frame — nothing global except the
    bounded top-k."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    capped = (ev.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= DIV_MAX_PER_VALUE))
    samp = capped.orderBy("event_id").limit(DIV_SHARD_SIZE)
    return samp.agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.countDistinct("event_type").alias("n_types"))


DSL_DIVERSIFIED_SAMPLER_ORACLE = f"""
WITH ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY event_id) AS rn
  FROM events),
samp AS (
  SELECT * FROM ranked WHERE rn <= {DIV_MAX_PER_VALUE}
  ORDER BY event_id LIMIT {DIV_SHARD_SIZE})
SELECT CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(value), 4) AS avg_value,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM samp
"""


# -------------------------------------------------- dsl_date_math

DM_GTE = "2024-01-31||-2w/d"     # -> 2024-01-17 00:00:00
DM_LTE = "2024-01-01||+3w+2d/d"  # -> 2024-01-24 23:59:59.999999


def dsl_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored ES date math in `range`: the gte bound steps back two
    weeks then floors to day start; the lte bound steps forward 3w+2d
    and rounds to the day's LAST microsecond (ES: lte includes the
    whole rounded unit). Both resolve at plan time to plain timestamp
    literals, so the scan bound is a constant and row-group pruning
    applies; now-anchored math is refused (wall-clock-dependent scan
    bounds are unreproducible)."""
    from parquet_generator_spark.operators.esdsl import translate_query

    ev = load_table(spark, "events", sf_dir)
    hits = ev.filter(translate_query(
        {"range": {"ts": {"gte": DM_GTE, "lte": DM_LTE}}}))
    return (hits.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("day"))


def _date_math_oracle() -> str:
    from parquet_generator_spark.operators.esdsl import resolve_date_math

    lo = resolve_date_math(DM_GTE, "gte").isoformat(sep=" ")
    hi = resolve_date_math(DM_LTE, "lte").isoformat(sep=" ")
    return f"""
SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS doc_count
FROM events
WHERE ts >= TIMESTAMP '{lo}' AND ts <= TIMESTAMP '{hi}'
GROUP BY day ORDER BY day
"""


# ------------------------------------------- dsl_completion_suggest

COMP_PREFIXES = ["sp", "wi", "ba"]
COMP_SIZE = 3
COMP_MIN_LEN = 3


def dsl_completion_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `completion` suggester: prefix -> top completions by
    weight (doc frequency stands in for the suggestion weight, ES's
    common setup). Same vocabulary pass as the term suggester; the
    bounded prefix frame broadcasts onto a startswith probe and a
    per-prefix rank window caps the output. At corpus scale the
    vocab shuffles once for the groupBy and the prefix probe is a
    broadcast nested-loop over a HANDFUL of prefixes — bounded by
    the suggest request, not the data."""
    docs = load_table(spark, "documents", sf_dir)
    vocab = (docs.select(F.explode(F.expr(
        f"array_distinct({tx.toks_spark('text')})")).alias("term"))
        .filter(F.length("term") >= COMP_MIN_LEN)
        .groupBy("term").agg(F.count(F.lit(1)).alias("weight")))
    prefixes = spark.createDataFrame(
        [(p,) for p in COMP_PREFIXES], "prefix string")
    # first-char equi key makes this a broadcast HASH join; the
    # startswith refinement rides along as the join filter
    cand = vocab.join(
        F.broadcast(prefixes),
        (F.substring("term", 1, 1) == F.substring("prefix", 1, 1))
        & F.col("term").startswith(F.col("prefix")))
    w = (Window.partitionBy("prefix")
         .orderBy(F.desc("weight"), F.asc("term")))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= COMP_SIZE)
            .select("prefix", "rank",
                    F.col("term").alias("completion"), "weight")
            .orderBy("prefix", "rank"))


def _completion_suggest_oracle() -> str:
    vals = ", ".join(f"('{p}')" for p in COMP_PREFIXES)
    return f"""
WITH vocab AS (
  SELECT t AS term, count(*) AS weight FROM (
    SELECT unnest(list_distinct({tx.toks_duck('text')})) AS t
    FROM documents)
  WHERE length(t) >= {COMP_MIN_LEN}
  GROUP BY t),
prefixes(prefix) AS (VALUES {vals}),
ranked AS (
  SELECT p.prefix, v.term, v.weight,
         CAST(row_number() OVER (
           PARTITION BY p.prefix
           ORDER BY v.weight DESC, v.term ASC) AS INT) AS rank
  FROM prefixes p JOIN vocab v ON starts_with(v.term, p.prefix))
SELECT prefix, rank, term AS completion, weight
FROM ranked WHERE rank <= {COMP_SIZE}
ORDER BY prefix, rank
"""


# ------------------------------------------------ dsl_phrase_suggest

# typo phrase whose slots each have SEVERAL candidates ("tab" ->
# table/the, "ar" -> agg/a), so the bigram model actually decides
# the ranking instead of a single survivor per slot
PHRASE_INPUT = ("tab", "kei", "ar")
PS_MAX_EDITS = 2
PS_CAND_K = 4
PS_TOPK = 3
PS_BACKOFF = 0.4                           # stupid-backoff discount


def dsl_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `phrase` suggester: whole-phrase did-you-mean. Candidate
    generation per slot (levenshtein <= PS_MAX_EDITS = 2, first char
    pinned, top-4 by unigram frequency via TakeOrderedAndProject —
    never a global window), then every combination scored under the corpus bigram
    model with stupid backoff: P(w|prev) = c12/c1 when the bigram
    exists, else 0.4 * cnt(w)/N. The combination frame is bounded by
    the request (<= 4^3 rows); the unigram/bigram models are grouped
    passes whose lookups stay keyed equi-joins. The score is one
    left-associated product of exact count ratios — bit-identical
    cross-engine, emitted unrounded."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(F.expr(tx.toks_spark("text")).alias("tk"))
    # the unigram and bigram models are the vocab-bounded aggregated
    # tables every downstream lookup reads: without a barrier the
    # THREE per-slot candidate collects, the token-total scalar and
    # the four model-lookup join branches each re-ran the corpus
    # tokenize+explode chain (eight scans in the before-plan; round
    # 13, guide §1.2) — checkpoint both models, and derive the token
    # total as sum(unigram counts) instead of a dedicated pass
    uni = cache.lazy(
        t.select(F.explode("tk").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    n_tok = uni.agg(F.sum("cnt").alias("n"))
    bg = (t.select(F.explode(F.expr(
        "CASE WHEN size(tk) >= 2 THEN "
        "transform(sequence(0, size(tk) - 2), "
        "i -> struct(tk[i] AS w1, tk[i + 1] AS w2)) "
        "ELSE array() END")).alias("b"))
        .select("b.w1", "b.w2"))
    # eager, not lazy: the final job reads the bigram model through
    # FOUR subtrees (m12/m23/l1/l2) — a lazy barrier would
    # double-compute under concurrent stage materialization
    model = cache.checkpoint(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    lefts = model.groupBy("w1").agg(F.sum("c12").alias("c1"))

    def cands(tok: str):
        # bounded collect (<= PS_CAND_K rows, a plan constant) — the
        # suggester materializes per-slot candidate sets exactly like
        # ES does, and literal combos keep every downstream model
        # lookup an equi-join (no nested-loop/cartesian in the plan)
        return [(r["w"], r["cnt"]) for r in
                uni.filter(
                    (F.substring("w", 1, 1) == tok[0])
                    & (F.levenshtein(F.lit(tok), F.col("w"))
                       <= PS_MAX_EDITS))
                .orderBy(F.desc("cnt"), F.asc("w"))
                .limit(PS_CAND_K).collect()]

    ca, cb, cc = (cands(t) for t in PHRASE_INPUT)
    combo_rows = [(a, na, b, nb, c, nc)
                  for a, na in ca for b, nb in cb for c, nc in cc]
    combos = spark.createDataFrame(
        combo_rows,
        "a string, cnt_a long, b string, cnt_b long, "
        "c string, cnt_c long")
    from parquet_generator_spark.operators.util import broadcast_scalars
    combos = broadcast_scalars(combos, n_tok)
    m12 = model.select(F.col("w1").alias("a"), F.col("w2").alias("b"),
                       F.col("c12").alias("c12_ab"))
    m23 = model.select(F.col("w1").alias("b"), F.col("w2").alias("c"),
                       F.col("c12").alias("c12_bc"))
    l1 = lefts.select(F.col("w1").alias("a"), F.col("c1").alias("c1_a"))
    l2 = lefts.select(F.col("w1").alias("b"), F.col("c1").alias("c1_b"))
    x = (combos.join(m12, ["a", "b"], "left")
         .join(l1, ["a"], "left")
         .join(m23, ["b", "c"], "left")
         .join(l2, ["b"], "left"))
    n = F.col("n").cast("double")
    s1 = F.col("cnt_a") / n
    s2 = (F.when(F.col("c12_ab").isNotNull(),
                 F.col("c12_ab") / F.col("c1_a"))
          .otherwise(F.lit(PS_BACKOFF) * F.col("cnt_b") / n))
    s3 = (F.when(F.col("c12_bc").isNotNull(),
                 F.col("c12_bc") / F.col("c1_b"))
          .otherwise(F.lit(PS_BACKOFF) * F.col("cnt_c") / n))
    return (x.select(
        F.concat_ws(" ", "a", "b", "c").alias("phrase"),
        (s1 * s2 * s3).alias("score"))
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(PS_TOPK))


def _phrase_suggest_oracle() -> str:
    toks = tx.toks_duck("text")

    def cand_cte(tok: str, name: str) -> str:
        return f"""{name} AS (
  SELECT w, cnt FROM uni
  WHERE substring(w, 1, 1) = '{tok[0]}'
    AND levenshtein('{tok}', w) <= {PS_MAX_EDITS}
  ORDER BY cnt DESC, w ASC LIMIT {PS_CAND_K})"""

    return f"""
WITH t AS (SELECT {toks} AS tk FROM documents),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
n_tok AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS n FROM t),
bg AS (
  SELECT tk[i + 1] AS w1, tk[i + 2] AS w2
  FROM t, unnest(range(0, len(tk) - 1)) AS a(i)
  WHERE len(tk) >= 2),
model AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bg GROUP BY 1, 2),
lefts AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
          FROM model GROUP BY 1),
{cand_cte(PHRASE_INPUT[0], 'ca')},
{cand_cte(PHRASE_INPUT[1], 'cb')},
{cand_cte(PHRASE_INPUT[2], 'cc')},
x AS (
  SELECT ca.w AS a, ca.cnt AS cnt_a, cb.w AS b, cb.cnt AS cnt_b,
         cc.w AS c, cc.cnt AS cnt_c, n_tok.n,
         m12.c12 AS c12_ab, l1.c1 AS c1_a,
         m23.c12 AS c12_bc, l2.c1 AS c1_b
  FROM ca CROSS JOIN cb CROSS JOIN cc CROSS JOIN n_tok
  LEFT JOIN model m12 ON m12.w1 = ca.w AND m12.w2 = cb.w
  LEFT JOIN lefts l1 ON l1.w1 = ca.w
  LEFT JOIN model m23 ON m23.w1 = cb.w AND m23.w2 = cc.w
  LEFT JOIN lefts l2 ON l2.w1 = cb.w)
SELECT concat_ws(' ', a, b, c) AS phrase,
       (cnt_a / CAST(n AS DOUBLE))
       * (CASE WHEN c12_ab IS NOT NULL
               THEN CAST(c12_ab AS DOUBLE) / c1_a
               ELSE {PS_BACKOFF} * cnt_b / CAST(n AS DOUBLE) END)
       * (CASE WHEN c12_bc IS NOT NULL
               THEN CAST(c12_bc AS DOUBLE) / c1_b
               ELSE {PS_BACKOFF} * cnt_c / CAST(n AS DOUBLE) END)
         AS score
FROM x ORDER BY score DESC, phrase ASC LIMIT {PS_TOPK}
"""


# --------------------------------------------------- dsl_field_caps

_ES_TYPE = {"bigint": "long", "string": "text", "double": "double",
            "timestamp": "date", "array<float>": "dense_vector",
            "int": "integer", "float": "float", "boolean": "boolean"}
FIELD_CAPS_TABLES = ("events", "embeddings")


def dsl_field_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `_field_caps` across two indices: per (index, field) the ES
    type derived from the physical schema (string->text,
    bigint->long, timestamp->date, array<float>->dense_vector).
    Schema introspection is driver-side METADATA — no data is read;
    the result frame is bounded by column count, so this stays O(1)
    at any corpus size."""
    rows = []
    for name in FIELD_CAPS_TABLES:
        df = load_table(spark, name, sf_dir)
        for f in df.schema.fields:
            spark_t = f.dataType.simpleString()
            rows.append((name, f.name,
                         _ES_TYPE.get(spark_t, spark_t)))
    return (spark.createDataFrame(
        rows, "index string, field string, es_type string")
        .orderBy("index", "field"))


def _field_caps_oracle() -> str:
    selects = []
    for name in FIELD_CAPS_TABLES:
        selects.append(f"""
SELECT '{name}' AS "index", column_name AS field,
       CASE column_type
         WHEN 'BIGINT' THEN 'long'
         WHEN 'VARCHAR' THEN 'text'
         WHEN 'DOUBLE' THEN 'double'
         WHEN 'TIMESTAMP' THEN 'date'
         WHEN 'FLOAT[]' THEN 'dense_vector'
         WHEN 'INTEGER' THEN 'integer'
         WHEN 'FLOAT' THEN 'float'
         WHEN 'BOOLEAN' THEN 'boolean'
         ELSE lower(column_type) END AS es_type
FROM (DESCRIBE SELECT * FROM {name})""")
    return (" UNION ALL ".join(selects)
            + ' ORDER BY "index", field')


# ----------------------------------------------------- dsl_rate

def dsl_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `rate` agg inside a date_histogram: per-day buckets with
    the event count rescaled to an hourly rate and the value sum to
    a per-hour rate. Pure bucket-frame arithmetic after the one
    grouped pass (the parent interval is named explicitly — the
    metric compiler is context-free; see esdsl._metric_cols)."""
    from parquet_generator_spark.operators.esdsl import search

    ev = load_table(spark, "events", sf_dir)
    return search(ev, {
        "query": {"term": {"event_type": "click"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {
                "events_per_hour": {"rate": {
                    "unit": "hour", "parent_interval": "day"}},
                "value_per_hour": {"rate": {
                    "field": "value", "unit": "hour",
                    "parent_interval": "day"}},
            },
        }},
    })


DSL_RATE_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS key,
       count(*) AS doc_count,
       count(*) / 24.0 AS events_per_hour,
       round(sum(value), 4) / 24.0 AS value_per_hour
FROM events WHERE event_type = 'click'
GROUP BY key ORDER BY key ASC
"""


# ----------------------------------------------------- dsl_span_first

SPAN_FIRST_TERM = "spark"
SPAN_FIRST_END = 5


def dsl_span_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`span_first`: the term must appear within the first `end`
    token positions (Lucene 0-based span end). Narrow map over the
    analyzed token positions (same machinery as span_near), then a
    per-source rollup."""
    from parquet_generator_spark.operators.esdsl import (
        span_first_pred_sql,
    )

    docs = load_table(spark, "documents", sf_dir)
    hits = docs.filter(F.expr(span_first_pred_sql(
        "text", SPAN_FIRST_TERM, SPAN_FIRST_END)))
    return (hits.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("source"))


def _span_first_oracle() -> str:
    from parquet_generator_spark.operators.esdsl import (
        span_first_pred_sql,
    )

    pred = span_first_pred_sql("text", SPAN_FIRST_TERM,
                               SPAN_FIRST_END, engine="duck")
    return f"""
SELECT source, CAST(count(*) AS BIGINT) AS n_docs
FROM documents WHERE {pred}
GROUP BY source ORDER BY source
"""


# ----------------------------------------------------- dsl_geo_bounds

def dsl_geo_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`geo_bounds` metric agg per terms bucket: the smallest box
    enclosing each event_type's points — top_left = (max lat, min
    lon), bottom_right = (min lat, max lon). min/max are exact
    (no float accumulation), one grouped pass over the runtime-field
    coordinates (dsl_geo_centroid's sibling)."""
    from parquet_generator_spark.plans.reference_queries9 import (
        LAT_S,
        LON_S,
    )
    ev = load_table(spark, "events", sf_dir)
    return (ev.select(F.col("event_type").alias("key"),
                      F.expr(LAT_S).cast("double").alias("lat"),
                      F.expr(LON_S).cast("double").alias("lon"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.max("lat"), 4).alias("top_left_lat"),
                 F.round(F.min("lon"), 4).alias("top_left_lon"),
                 F.round(F.min("lat"), 4).alias("bottom_right_lat"),
                 F.round(F.max("lon"), 4).alias("bottom_right_lon"))
            .orderBy(F.desc("doc_count"), F.asc("key")))


def _geo_bounds_oracle() -> str:
    from parquet_generator_spark.plans.reference_queries9 import (
        LAT_D,
        LON_D,
    )
    # CAST to DOUBLE: DuckDB's min/max PRESERVE the literal-decimal
    # type of the runtime field (avg would coerce to double), and a
    # Decimal result bypasses the float canonicalization
    return f"""
SELECT event_type AS key, count(*) AS doc_count,
       round(max(CAST({LAT_D} AS DOUBLE)), 4) AS top_left_lat,
       round(min(CAST({LON_D} AS DOUBLE)), 4) AS top_left_lon,
       round(min(CAST({LAT_D} AS DOUBLE)), 4) AS bottom_right_lat,
       round(max(CAST({LON_D} AS DOUBLE)), 4) AS bottom_right_lon
FROM events
GROUP BY key ORDER BY doc_count DESC, key ASC
"""


# ------------------------------------------------ dsl_reverse_nested

def dsl_reverse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`reverse_nested` agg: inside a nested terms agg over array
    elements, jump back to PARENT scope — per element key, the
    element count AND the number of distinct parent docs containing
    such an element. Same (user, day) nested carrier as dsl_nested;
    one explode + one grouped pass with a distinct-parent count."""
    from parquet_generator_spark.plans.reference_queries6 import (
        _nested_parents,
    )
    parents = _nested_parents(spark, sf_dir)
    ex = parents.select(
        F.concat_ws("|", "user_id", F.col("day").cast("string"))
        .alias("parent_id"),
        F.explode("items").alias("it"))
    return (ex.groupBy(F.col("it.event_type").alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.countDistinct("parent_id")
                 .alias("parent_doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key")))


DSL_REVERSE_NESTED_ORACLE = """
SELECT event_type AS key,
       CAST(count(*) AS BIGINT) AS doc_count,
       CAST(count(DISTINCT concat_ws('|', user_id,
                  CAST(CAST(ts AS DATE) AS VARCHAR)))
            AS BIGINT) AS parent_doc_count
FROM events
GROUP BY event_type
ORDER BY doc_count DESC, key ASC
"""


# ------------------------------------------------- dsl_children_agg

def dsl_children_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`children` agg (join-field families): bucket PARENT docs
    (orders, by priority) and aggregate their CHILD docs (lineitems)
    — parent count, child count, child metric. One equi-join on the
    family key + one grouped pass; at scale the join shuffles on
    orderkey (or stays co-located under bucketing), never a
    broadcast of either fact side."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    j = orders.select("o_orderkey", "o_orderpriority").join(
        li.select("l_orderkey", "l_discount"),
        orders.o_orderkey == li.l_orderkey)
    return (j.groupBy("o_orderpriority")
            .agg(F.countDistinct("o_orderkey").alias("parent_count"),
                 F.count(F.lit(1)).alias("child_count"),
                 F.round(F.avg("l_discount"), 4).alias("avg_discount"))
            .orderBy("o_orderpriority"))


DSL_CHILDREN_AGG_ORACLE = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS parent_count,
       CAST(count(*) AS BIGINT) AS child_count,
       round(avg(l_discount), 4) AS avg_discount
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ------------------------------------------------- dsl_sort_script

SORT_SCRIPT = ("doc['value'].value >= 100.0"
               " ? doc.value.value : doc['value'].value * 0.5")
SORT_K = 15


def dsl_sort_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-based sort (`sort: {_script: ...}`): rank docs by a
    painless expression — the same bounded painless->SQL translator
    scripted_metric uses (doc refs, ternary, Math.*), compiled to a
    codegen expression so the sort key costs one narrow map and the
    top-k is TakeOrderedAndProject, never a global sort."""
    from parquet_generator_spark.operators.esdsl import (
        _painless_expr_sql,
    )

    ev = load_table(spark, "events", sf_dir)
    key = F.round(F.expr(_painless_expr_sql(SORT_SCRIPT)), 4)
    return (ev.select("event_id", key.alias("sort_key"))
            .orderBy(F.desc("sort_key"), F.asc("event_id"))
            .limit(SORT_K))


DSL_SORT_SCRIPT_ORACLE = f"""
SELECT event_id,
       round(CASE WHEN value >= 100.0 THEN value
             ELSE value * 0.5 END, 4) AS sort_key
FROM events ORDER BY sort_key DESC, event_id ASC LIMIT {SORT_K}
"""


# ----------------------------------------------------- dsl_geo_line

GEO_LINE_SIZE = 5


def dsl_geo_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`geo_line` agg: per bucket, the track of the first N points
    in timestamp order (ES's sort+size contract, size capped like
    ES's default). The per-bucket cut is a PARTITIONED rank window
    (parallel across buckets, never global); the bounded survivors
    collect into a sort_array'd struct list so the join order is
    deterministic, then render as 'lat,lon' joined with ';' —
    identical doubles on both engines make identical shortest-
    roundtrip strings."""
    from parquet_generator_spark.plans.reference_queries9 import (
        LAT_S,
        LON_S,
    )
    ev = load_table(spark, "events", sf_dir)
    pts = ev.select(
        F.col("event_type").alias("key"), "ts", "event_id",
        F.round(F.expr(LAT_S).cast("double"), 4).alias("lat"),
        F.round(F.expr(LON_S).cast("double"), 4).alias("lon"))
    w = Window.partitionBy("key").orderBy("ts", "event_id")
    first_n = (pts.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= GEO_LINE_SIZE))
    return (first_n.groupBy("key")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.array_join(F.expr(
                     "transform(array_sort(collect_list("
                     "struct(ts, event_id, lat, lon))), "
                     "p -> concat(cast(p.lat as string), ',', "
                     "cast(p.lon as string)))"), ";").alias("track"))
            .orderBy("key"))


def _geo_line_oracle() -> str:
    from parquet_generator_spark.plans.reference_queries9 import (
        LAT_D,
        LON_D,
    )
    return f"""
WITH pts AS (
  SELECT event_type AS key, ts, event_id,
         round(CAST({LAT_D} AS DOUBLE), 4) AS lat,
         round(CAST({LON_D} AS DOUBLE), 4) AS lon,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT key, CAST(count(*) AS BIGINT) AS n_points,
       string_agg(concat(CAST(lat AS VARCHAR), ',',
                         CAST(lon AS VARCHAR)), ';'
                  ORDER BY ts, event_id) AS track
FROM pts WHERE rn <= {GEO_LINE_SIZE}
GROUP BY key ORDER BY key
"""


# ------------------------------------------ dsl_moving_percentiles

def dsl_moving_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`moving_percentiles` pipeline agg: p50/p90 of daily volume
    over a 7-day trailing window. ES runs a t-digest over the
    window; exact percentiles here — the window is
    bucket-cardinality (days), a tiny second-pass frame."""
    from parquet_generator_spark.operators.esdsl import search

    ev = load_table(spark, "events", sf_dir)
    return search(ev, {
        "query": {"term": {"event_type": "view"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"vol": {"moving_percentiles": {
                "buckets_path": "doc_count", "window": 7,
                "percents": [50, 90]}}},
        }},
    })


DSL_MOVING_PERCENTILES_ORACLE = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS key,
         count(*) AS doc_count
  FROM events WHERE event_type = 'view'
  GROUP BY key)
SELECT key, doc_count,
       round(quantile_cont(doc_count, 0.5) OVER (
         ORDER BY key ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
         AS vol_p50,
       round(quantile_cont(doc_count, 0.9) OVER (
         ORDER BY key ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
         AS vol_p90
FROM b ORDER BY key
"""


# ---------------------------------------------------- dsl_change_point

def dsl_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`change_point` agg (ES 8.x) as a deterministic step-change
    detector: over the daily-volume bucket series, the split point
    maximizing |mean(before) - mean(after)| (the classic two-sample
    step statistic; ES's ML version adds p-values — DOCUMENTED
    DIVERGENCE: we emit the argmax split and step size). All
    second-pass arithmetic on the bucket-cardinality frame: prefix
    sums via the ordered bucket window, totals as a scalar subquery, one
    TakeOrdered(1) for the argmax."""
    from pyspark.sql import Window

    from parquet_generator_spark.operators.util import broadcast_scalars

    ev = load_table(spark, "events", sf_dir)
    b = (ev.filter(F.col("event_type") == "purchase")
         .groupBy(F.date_format(F.date_trunc("day", "ts"),
                                "yyyy-MM-dd").alias("key"))
         .agg(F.count(F.lit(1)).alias("doc_count")))
    totals = b.agg(F.sum("doc_count").alias("total"),
                   F.count(F.lit(1)).alias("n_buckets"))
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, 0)
    pre = (broadcast_scalars(b, totals)
           .withColumn("ps", F.sum("doc_count").over(w))
           .withColumn("pc", F.count(F.lit(1)).over(w))
           .filter(F.col("pc") < F.col("n_buckets")))
    mean_before = F.col("ps").cast("double") / F.col("pc")
    mean_after = ((F.col("total") - F.col("ps")).cast("double")
                  / (F.col("n_buckets") - F.col("pc")))
    step = F.round(mean_after - mean_before, 4)
    return (pre.select(F.col("key").alias("split_after"),
                       step.alias("step"),
                       F.abs(step).alias("score"))
            .orderBy(F.desc("score"), F.asc("split_after"))
            .limit(1))


DSL_CHANGE_POINT_ORACLE = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS key,
         CAST(count(*) AS BIGINT) AS doc_count
  FROM events WHERE event_type = 'purchase'
  GROUP BY key),
t AS (SELECT CAST(sum(doc_count) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_buckets FROM b),
pre AS (
  SELECT key,
         sum(doc_count) OVER (ORDER BY key
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
         count(*) OVER (ORDER BY key
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
         t.total, t.n_buckets
  FROM b CROSS JOIN t)
SELECT key AS split_after,
       round(CAST(total - ps AS DOUBLE) / (n_buckets - pc)
             - CAST(ps AS DOUBLE) / pc, 4) AS step,
       abs(round(CAST(total - ps AS DOUBLE) / (n_buckets - pc)
                 - CAST(ps AS DOUBLE) / pc, 4)) AS score
FROM pre WHERE pc < n_buckets
ORDER BY score DESC, split_after ASC LIMIT 1
"""


# ------------------------------------------------- dsl_terms_lookup

LOOKUP_MIN_BAL = 9000.0
IDS_SAMPLE = [1, 7, 32, 33]


def dsl_terms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `terms` lookup + `ids` queries: the match set comes from
    another index (rich customers) rather than an inline array —
    re-expressed as a broadcast LEFT SEMI join (ES's own
    index.max_terms_count bounds the build side by contract), OR'd
    at the result level with an explicit `ids` pick. Per-priority
    order counts over the union; the big orders side never
    shuffles for the semi-join."""
    from parquet_generator_spark.operators.esdsl import (
        terms_lookup_filter,
        translate_query,
    )

    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    rich = customer.filter(F.col("c_acctbal") > LOOKUP_MIN_BAL)
    looked_up = terms_lookup_filter(orders, "o_custkey", rich,
                                    "c_custkey")
    picked = orders.filter(translate_query(
        {"ids": {"field": "o_orderkey", "values": IDS_SAMPLE}}))
    hits = looked_up.unionAll(picked).dropDuplicates(["o_orderkey"])
    return (hits.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.max("o_totalprice").alias("max_price"))
            .orderBy("o_orderpriority"))


def _terms_lookup_oracle() -> str:
    ids = ", ".join(str(i) for i in IDS_SAMPLE)
    return f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       max(o_totalprice) AS max_price
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_acctbal > {LOOKUP_MIN_BAL})
   OR o_orderkey IN ({ids})
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ------------------------------------------------ dsl_categorize_text

def dsl_categorize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `categorize_text` agg (log-template clustering): messages
    collapse into categories by masking the variable parts — ES's
    categorizer drops/masks numbers and groups on the remaining
    token sequence. The log-like message here is the event's
    type + raw props JSON; masking the numeric run makes every
    '{"k": <n>}' variant one category per event_type. One masked-key
    grouped pass; the per-category example is min(message)
    (deterministic stand-in for ES's first-seen exemplar)."""
    ev = load_table(spark, "events", sf_dir)
    msg = F.concat_ws(" ", "event_type", "props")
    category = F.regexp_replace(msg, "[0-9]+", "<num>")
    return (ev.select(category.alias("category"), msg.alias("msg"))
            .groupBy("category")
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.min("msg").alias("example"))
            .orderBy(F.desc("doc_count"), F.asc("category")))


DSL_CATEGORIZE_TEXT_ORACLE = """
SELECT regexp_replace(concat_ws(' ', event_type, props),
                      '[0-9]+', '<num>', 'g') AS category,
       CAST(count(*) AS BIGINT) AS doc_count,
       min(concat_ws(' ', event_type, props)) AS example
FROM events
GROUP BY category
ORDER BY doc_count DESC, category ASC
"""


QUERIES.update({"dsl_term_suggest": dsl_term_suggest,
                "dsl_highlight": dsl_highlight,
                "dsl_diversified_sampler": dsl_diversified_sampler,
                "dsl_categorize_text": dsl_categorize_text,
                "dsl_date_math": dsl_date_math,
                "dsl_terms_lookup": dsl_terms_lookup,
                "dsl_completion_suggest": dsl_completion_suggest,
                "dsl_phrase_suggest": dsl_phrase_suggest,
                "dsl_field_caps": dsl_field_caps,
                "dsl_rate": dsl_rate,
                "dsl_span_first": dsl_span_first,
                "dsl_geo_bounds": dsl_geo_bounds,
                "dsl_reverse_nested": dsl_reverse_nested,
                "dsl_children_agg": dsl_children_agg,
                "dsl_sort_script": dsl_sort_script,
                "dsl_geo_line": dsl_geo_line,
                "dsl_moving_percentiles": dsl_moving_percentiles,
                "dsl_change_point": dsl_change_point})
ORACLES.update({"dsl_term_suggest": _term_suggest_oracle(),
                "dsl_highlight": _highlight_oracle(),
                "dsl_diversified_sampler": DSL_DIVERSIFIED_SAMPLER_ORACLE,
                "dsl_categorize_text": DSL_CATEGORIZE_TEXT_ORACLE,
                "dsl_date_math": _date_math_oracle(),
                "dsl_terms_lookup": _terms_lookup_oracle(),
                "dsl_completion_suggest": _completion_suggest_oracle(),
                "dsl_phrase_suggest": _phrase_suggest_oracle(),
                "dsl_field_caps": _field_caps_oracle(),
                "dsl_rate": DSL_RATE_ORACLE,
                "dsl_span_first": _span_first_oracle(),
                "dsl_geo_bounds": _geo_bounds_oracle(),
                "dsl_reverse_nested": DSL_REVERSE_NESTED_ORACLE,
                "dsl_children_agg": DSL_CHILDREN_AGG_ORACLE,
                "dsl_sort_script": DSL_SORT_SCRIPT_ORACLE,
                "dsl_geo_line": _geo_line_oracle(),
                "dsl_moving_percentiles": DSL_MOVING_PERCENTILES_ORACLE,
                "dsl_change_point": DSL_CHANGE_POINT_ORACLE})
