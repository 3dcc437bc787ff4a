"""Training-data pipeline, sixteenth wave: JPEG metadata extraction.

JPEG is the bulk format of real web image corpora (BMP/PNG decode
landed earlier in operators/multimodal.py; full baseline-JPEG pixel
decode needs a Huffman+IDCT stack and stays PIL-gated). What a
100-TB profiling pass actually needs from each payload is the SOF
header — dimensions, component count, progressive flag — and unlike
BMP/PNG that header is NOT at a fixed offset: JPEG is a stream of
variable-length marker segments, so the parser must WALK markers
(read 0xFF id, read big-endian length, skip) until it hits SOF0/SOF2.
The walk is unrolled to a bounded depth as nested CASE arithmetic
over substring+hex+conv — all JVM whole-stage codegen, narrow map,
no UDF, no shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}

# Synthetic-but-valid JPEG header streams (no scan data): SOI, APP0
# (JFIF), an OPTIONAL DQT on even doc_ids (so the SOF offset varies
# per row and a fixed-offset "parser" hash-mismatches immediately),
# then SOF0 (baseline) or SOF2 (progressive, every third doc) with
# 1 or 3 components.
_APP0 = "FFE0" + "0010" + "4A46494600" + "0101" + "00" + \
    "0048" + "0048" + "00" + "00"
_DQT = "FFDB" + "0043" + "00" + "10" * 64


def _jpeg_payload():
    w = (F.col("n_chars") % 1024 + 16).cast("int")
    h = (F.col("n_chars") % 768 + 16).cast("int")
    ncomp = (F.lit(1) + (F.col("doc_id") % 2) * 2).cast("int")
    sof_marker = F.when(F.col("doc_id") % 3 == 0,
                        F.lit("FFC2")).otherwise(F.lit("FFC0"))
    sof_len = F.lpad(F.hex(F.lit(8) + ncomp * 3), 4, "0")

    def be2(c):
        return F.unhex(F.lpad(F.hex(c), 4, "0"))

    comps = F.when(F.col("doc_id") % 2 == 0,
                   F.unhex(F.lit("011100"))) \
        .otherwise(F.unhex(F.lit("011100" + "021100" + "031100")))
    return F.concat(
        F.unhex(F.lit("FFD8")),
        F.unhex(F.lit(_APP0)),
        F.when(F.col("doc_id") % 2 == 0, F.unhex(F.lit(_DQT)))
         .otherwise(F.unhex(F.lit(""))),
        F.unhex(sof_marker), F.unhex(sof_len),
        F.unhex(F.lit("08")),          # precision
        be2(h), be2(w),
        F.unhex(F.lpad(F.hex(ncomp), 2, "0")),
        comps)


def jpeg_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-walk JPEG SOF parser: starting after SOI, read each
    segment's marker id + big-endian length and advance until SOF0/
    SOF2 (unrolled to 3 hops — APP0, optional DQT, SOF; a real
    corpus pass unrolls deeper or mapInPandas-es past EXIF blobs).
    Emits width/height/components/progressive + a derived megapixel
    bucket. The oracle recomputes everything arithmetically, so any
    offset, endianness, or walk bug hash-mismatches."""
    docs = load_table(spark, "documents", sf_dir)
    media = docs.select(F.col("doc_id").alias("media_id"),
                        _jpeg_payload().alias("payload"))

    # positions are data-dependent -> SQL substring with a computed
    # 1-based position: substring(payload, pos, 1), then hex->int
    def b(pos):
        return (F.conv(F.hex(F.expr(
            f"substring(payload, CAST({pos} AS INT), 1)")), 16, 10)
            .cast("int"))

    def be16(pos):
        return b(pos) * 256 + b(f"({pos}) + 1")

    o1 = "3"
    m1, l1 = b(f"({o1}) + 1"), be16(f"({o1}) + 2")
    media = media.withColumn("_o2", (F.lit(3) + 2 + l1).cast("int"))
    o2 = "_o2"
    m2, l2 = b(f"({o2}) + 1"), be16(f"({o2}) + 2")
    media = media.withColumn("_o3", (F.col("_o2") + 2 + l2).cast("int"))
    o3 = "_o3"
    m3 = b(f"({o3}) + 1")

    def is_sof(m):
        return m.isin(0xC0, 0xC2)

    sof = (F.when(is_sof(m1), F.lit(3))
           .when(is_sof(m2), F.col("_o2"))
           .when(is_sof(m3), F.col("_o3"))).cast("int")
    media = media.withColumn("_sof", sof)
    marker = b("_sof + 1")
    height = be16("_sof + 5")
    width = be16("_sof + 7")
    ncomp = b("_sof + 9")
    return (media.select(
        "media_id",
        width.alias("width"),
        height.alias("height"),
        ncomp.alias("components"),
        (marker == 0xC2).alias("progressive"),
        F.floor(width * height / 100000).cast("long")
        .alias("deci_mp_bucket"),
        F.length("payload").alias("n_bytes"))
        .orderBy("media_id"))


JPEG_HEADER_ORACLE = """
SELECT doc_id AS media_id,
       CAST(n_chars % 1024 + 16 AS INT) AS width,
       CAST(n_chars % 768 + 16 AS INT) AS height,
       CAST(1 + (doc_id % 2) * 2 AS INT) AS components,
       doc_id % 3 = 0 AS progressive,
       CAST(floor((n_chars % 1024 + 16) * (n_chars % 768 + 16)
                  / 100000) AS BIGINT) AS deci_mp_bucket,
       CAST(2 + 18 + (CASE WHEN doc_id % 2 = 0 THEN 69 ELSE 0 END)
            + 2 + 2 + 1 + 4 + 1
            + (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 9 END)
            AS BIGINT) AS n_bytes
FROM documents ORDER BY media_id
"""

# ---------------------------------------------------- gif_header_parse

def _gif_payload():
    """Planted GIF logical-screen descriptor: GIF87a/89a signature,
    little-endian 16-bit canvas dims, and the packed flags byte
    (global-color-table bit + color resolution bits)."""
    ver = F.when(F.col("doc_id") % 4 == 0, F.lit("GIF87a")) \
        .otherwise(F.lit("GIF89a"))
    w = (F.col("n_chars") % 512 + 1).cast("int")
    h = (F.col("n_chars") % 256 + 1).cast("int")
    packed = F.when(F.col("doc_id") % 5 == 0,
                    (F.col("doc_id") % 8).cast("int")) \
        .otherwise((F.lit(0x80) + F.col("doc_id") % 8).cast("int"))

    def le16(c):
        return F.concat(F.unhex(F.lpad(F.hex(c % 256), 2, "0")),
                        F.unhex(F.lpad(F.hex(F.floor(c / 256)
                                             .cast("int")), 2, "0")))

    return F.concat(F.encode(ver, "UTF-8"), le16(w), le16(h),
                    F.unhex(F.lpad(F.hex(packed), 2, "0")))


def gif_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF logical-screen-descriptor parse: version string, LITTLE-
    endian dims (the byte-order counterpart to JPEG/PNG's big-endian
    parsers), global-color-table flag and color-resolution bits out
    of the packed byte — pure codegen substring/hex arithmetic, no
    UDF, no shuffle; oracle recomputes the planted stream
    arithmetically so any endianness or bit-slicing bug mismatches."""
    docs = load_table(spark, "documents", sf_dir)
    media = docs.select(F.col("doc_id").alias("media_id"),
                        _gif_payload().alias("payload"))

    def b(pos):
        return (F.conv(F.hex(F.expr(
            f"substring(payload, {pos}, 1)")), 16, 10).cast("int"))

    width = b(7) + b(8) * 256
    height = b(9) + b(10) * 256
    packed = b(11)
    return (media.select(
        "media_id",
        F.expr("decode(substring(payload, 1, 6), 'UTF-8')")
        .alias("version"),
        width.alias("width"),
        height.alias("height"),
        (F.floor(packed / 128) % 2 == 1).alias("has_gct"),
        (packed % 8 + 1).alias("color_bits"))
        .orderBy("media_id"))


GIF_HEADER_ORACLE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 4 = 0 THEN 'GIF87a' ELSE 'GIF89a' END
         AS version,
       CAST(n_chars % 512 + 1 AS INT) AS width,
       CAST(n_chars % 256 + 1 AS INT) AS height,
       doc_id % 5 <> 0 AS has_gct,
       CAST(doc_id % 8 + 1 AS INT) AS color_bits
FROM documents ORDER BY media_id
"""


# --------------------------------------------------- tiff_header_parse

def _tiff_payload():
    """Planted TIFF header: byte-order mark (II little-endian on
    even docs, MM big-endian on odd), magic 42 in that byte order,
    then the 32-bit first-IFD offset — so the parser must branch on
    endianness PER ROW."""
    off = (F.col("n_chars") % 4096 + 8).cast("long")

    def le32(c):
        return F.concat(*[
            F.unhex(F.lpad(F.hex(F.floor(c / (1 << (8 * i)))
                                 .cast("long") % 256), 2, "0"))
            for i in range(4)])

    def be32(c):
        return F.concat(*[
            F.unhex(F.lpad(F.hex(F.floor(c / (1 << (8 * i)))
                                 .cast("long") % 256), 2, "0"))
            for i in (3, 2, 1, 0)])

    ii = F.concat(F.encode(F.lit("II"), "UTF-8"),
                  F.unhex(F.lit("2A00")), le32(off))
    mm = F.concat(F.encode(F.lit("MM"), "UTF-8"),
                  F.unhex(F.lit("002A")), be32(off))
    return F.when(F.col("doc_id") % 2 == 0, ii).otherwise(mm)


def tiff_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF header parse with PER-ROW endianness: the II/MM
    byte-order mark decides how the magic and the 32-bit IFD offset
    deserialize, so the expression branches on the mark before the
    multi-byte reads — the real-corpus case BMP/PNG/GIF/JPEG
    parsers (each single-endian) don't cover. Codegen only."""
    docs = load_table(spark, "documents", sf_dir)
    media = docs.select(F.col("doc_id").alias("media_id"),
                        _tiff_payload().alias("payload"))

    def b(pos):
        return (F.conv(F.hex(F.expr(
            f"substring(payload, {pos}, 1)")), 16, 10).cast("long"))

    order = F.expr("decode(substring(payload, 1, 2), 'UTF-8')")
    little = order == "II"
    magic = F.when(little, b(3) + b(4) * 256) \
        .otherwise(b(3) * 256 + b(4))
    ifd = F.when(
        little,
        b(5) + b(6) * 256 + b(7) * 65536 + b(8) * 16777216) \
        .otherwise(
        b(5) * 16777216 + b(6) * 65536 + b(7) * 256 + b(8))
    return (media.select(
        "media_id",
        order.alias("byte_order"),
        (magic == 42).alias("magic_ok"),
        ifd.alias("ifd_offset"))
        .orderBy("media_id"))


TIFF_HEADER_ORACLE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
       TRUE AS magic_ok,
       CAST(n_chars % 4096 + 8 AS BIGINT) AS ifd_offset
FROM documents ORDER BY media_id
"""


# ------------------------------------------- dedup_embedding_lsh_hi
# The production near-dup regime. The 0.3-threshold twin
# (dedup_embedding_lsh) is OUTPUT-bound: on this corpus ~0.7% of all
# cross pairs clear cos>=0.3, so the result set itself grows
# quadratically and banding cannot beat the exact GEMM (at p=0.6 per
# sign bit, b*n^2/2^r >= n^2/2 for every (r, b) with usable recall).
# Real near-dups sit at cos>=0.95 (p~0.95+ per bit), where 8-bit
# bands give 256 buckets/band: GEMM work drops to 8*n^2/256 = n^2/32
# vs n^2/2 exact (16x), recall ~1 for true dups. Measured at sf1 in
# SCALE.md. Twins are planted IN-QUERY with a deterministic LCG
# perturbation (pure int64/double arithmetic, identical in Spark and
# DuckDB), so the entry returns real rows at every SF.

_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2147483648
_TWIN_EPS = 0.06          # +/-3% multiplicative => cos ~ 0.9995
_TWIN_OFFSET = 1_000_000
HI_THRESHOLD = 0.95


def _twin_factor(x_expr: str) -> str:
    """Engine-neutral U(-0.5, 0.5) from an int64 index expression."""
    h = f"({_LCG_A} * ({x_expr}) + {_LCG_C}) % {_LCG_M}"
    return (f"(1.0 + ((CAST({h} AS DOUBLE) / {_LCG_M}.0) - 0.5)"
            f" * {_TWIN_EPS})")


def dedup_embedding_lsh_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-regime embedding near-dup: corpus = originals +
    deterministically perturbed twins, banded hyperplane LSH at
    cos>=0.95 with 8 bands x 8 bits (the tuned scale configuration),
    exact-cosine verified. Every original/twin pair (cos ~ 0.9995)
    must survive banding; random cross pairs (cos < 0.5 on this
    corpus) never reach the verify stage."""
    from parquet_generator_spark.operators import similarity

    emb = load_table(spark, "embeddings", sf_dir)
    orig = emb.select(
        "vec_id",
        F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
        .alias("embedding"))
    twin = emb.select(
        (F.col("vec_id") + _TWIN_OFFSET).alias("vec_id"),
        F.expr(
            "transform(embedding, (v, i) -> CAST(v AS DOUBLE) * "
            + _twin_factor("vec_id * 64 + i") + ")").alias("embedding"))
    corpus = orig.unionAll(twin)
    planes = similarity.make_hyperplanes(64, 64, seed=9)
    return similarity.embedding_dup_pairs_lsh(
        corpus, HI_THRESHOLD, planes, 8)


def _lsh_hi_oracle() -> str:
    from parquet_generator_spark.operators import similarity

    planes = similarity.make_hyperplanes(64, 64, seed=9)
    factor = _twin_factor(f"vec_id * 64 + (i - 1)")
    corpus = (
        "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding "
        "FROM embeddings "
        "UNION ALL "
        f"SELECT vec_id + {_TWIN_OFFSET} AS vec_id, "
        "list_transform(range(1, 65), i -> embedding[i] * "
        + factor + ") AS embedding FROM embeddings)")
    return similarity.embedding_dup_pairs_lsh_duck_sql(
        corpus, HI_THRESHOLD, planes, 8)


# --------------------------------------------------- hapax_doc_flags

HAPAX_MAX_DF = 1       # a hapax legomenon: appears in exactly 1 doc


def hapax_doc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token quality signal: per-source counts of documents
    containing hapax legomena (corpus df = 1 tokens — on web corpora
    these are typos, codes and mojibake, a standard noise indicator).
    Plan: one (doc, distinct token) explode feeds BOTH the df count
    and the doc flag via a token-keyed join — token-cardinality
    frames meet on the token key (no corpus broadcast), then one
    bounded per-source rollup."""
    from parquet_generator_spark.operators import text as tx

    docs = load_table(spark, "documents", sf_dir)
    dt = docs.select(
        "doc_id", "source",
        F.explode(F.expr(f"array_distinct({tx.toks_spark('text')})"))
        .alias("term"))
    df_counts = dt.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    hapax = df_counts.filter(F.col("df") <= HAPAX_MAX_DF)
    flagged = (dt.join(hapax, "term")
               .groupBy("doc_id", "source")
               .agg(F.count(F.lit(1)).alias("n_hapax")))
    per_doc = (docs.select("doc_id", "source")
               .join(flagged.select("doc_id", "n_hapax"), "doc_id",
                     "left")
               .select("source",
                       F.coalesce("n_hapax", F.lit(0))
                       .alias("n_hapax")))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("n_hapax") > 0).cast("long"))
                 .alias("docs_with_hapax"),
                 F.sum("n_hapax").alias("total_hapax"))
            .orderBy("source"))


def _hapax_oracle() -> str:
    from parquet_generator_spark.operators import text as tx

    return f"""
WITH dt AS (
  SELECT doc_id, source, unnest(list_distinct({tx.toks_duck('text')}))
           AS term
  FROM documents),
hapax AS (
  SELECT term FROM dt GROUP BY term
  HAVING count(*) <= {HAPAX_MAX_DF}),
flagged AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hapax
  FROM dt WHERE term IN (SELECT term FROM hapax)
  GROUP BY doc_id),
per_doc AS (
  SELECT d.source, coalesce(f.n_hapax, 0) AS n_hapax
  FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_hapax > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_hapax,
       CAST(sum(n_hapax) AS BIGINT) AS total_hapax
FROM per_doc GROUP BY source ORDER BY source
"""


# ------------------------------------------- length_quality_heatmap

LQ_LEN_BUCKETS = 6      # power-of-2 length axis, capped
LQ_Q_BUCKETS = 5        # distinct-token-ratio axis, 0.2-wide bins


def length_quality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card 2D histogram: doc-length bucket (power-of-2 token
    count, capped) x lexical-quality bucket (distinct-token ratio in
    0.2-wide bins). The axes are pure arithmetic on two per-doc
    scalars, so the whole heatmap is ONE grouped pass; bucket ids
    are exact integers on both engines (floor of a single division —
    no float accumulation)."""
    from parquet_generator_spark.operators import text as tx

    docs = load_table(spark, "documents", sf_dir)
    toks = F.expr(tx.toks_spark("text"))
    n = F.size(toks)
    n_dist = F.size(F.array_distinct(toks))
    len_b = F.least(
        F.lit(LQ_LEN_BUCKETS - 1),
        F.floor(F.log2(F.greatest(n, F.lit(1)).cast("double") / 16))
        .cast("int"))
    len_b = F.greatest(F.lit(0), len_b)
    # ratio in (0,1]: bucket floor(r*5), r=1 folds into the top bin
    q_b = F.least(F.lit(LQ_Q_BUCKETS - 1),
                  F.floor(n_dist * LQ_Q_BUCKETS / F.greatest(
                      n, F.lit(1))).cast("int"))
    return (docs.select(len_b.alias("len_bucket"),
                        q_b.alias("quality_bucket"))
            .groupBy("len_bucket", "quality_bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("len_bucket", "quality_bucket"))


def _lq_heatmap_oracle() -> str:
    from parquet_generator_spark.operators import text as tx

    toks = tx.toks_duck("text")
    return f"""
WITH per_doc AS (
  SELECT len({toks}) AS n, len(list_distinct({toks})) AS n_dist
  FROM documents),
b AS (
  SELECT greatest(0, least({LQ_LEN_BUCKETS - 1},
           CAST(floor(log2(CAST(greatest(n, 1) AS DOUBLE) / 16))
                AS INT))) AS len_bucket,
         least({LQ_Q_BUCKETS - 1},
           CAST(floor(n_dist * {LQ_Q_BUCKETS} / greatest(n, 1))
                AS INT)) AS quality_bucket
  FROM per_doc)
SELECT len_bucket, quality_bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM b GROUP BY len_bucket, quality_bucket
ORDER BY len_bucket, quality_bucket
"""


# ----------------------------------------------------- colbert_maxsim

MAXSIM_DOC_VECS = 4      # token vectors per multi-vector doc
MAXSIM_TOPK = 10


def colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late interaction: a document is a SET of token
    vectors; score(q, d) = sum over query tokens of the max cosine
    against any doc token. The embeddings table becomes multi-vector
    docs by grouping consecutive vec_ids; the two query token
    vectors are plan literals. Execution is max-sim as Catalyst
    aggregates: per-row cosines against each literal query vector
    (sequential-fold dot products, no UDF), ONE groupBy(doc) with a
    max() per query token, sum of the maxes, top-k via
    TakeOrderedAndProject. At corpus scale this is a single narrow
    map + one keyed aggregation — the late-interaction retrieval
    shape without any all-pairs stage."""
    from parquet_generator_spark.operators.similarity import (
        _plane_dot_sql,
        make_hyperplanes,
        norm,
    )

    qvecs = make_hyperplanes(64, 2, seed=31)
    emb = load_table(spark, "embeddings", sf_dir)
    doc = ((F.col("vec_id") - 1) / MAXSIM_DOC_VECS).cast("long")
    cols = [doc.alias("mv_doc_id")]
    for i, qv in enumerate(qvecs):
        qn = float(np.sqrt((qv * qv).sum()))
        cols.append(
            (F.expr(_plane_dot_sql("embedding", qv))
             / (norm("embedding") * F.lit(qn))).alias(f"cos_q{i}"))
    scored = emb.select(*cols)
    agg = (scored.groupBy("mv_doc_id")
           .agg(*[F.max(f"cos_q{i}").alias(f"max_q{i}")
                  for i in range(len(qvecs))]))
    score = F.round(sum(F.col(f"max_q{i}")
                        for i in range(len(qvecs))), 4)
    return (agg.select("mv_doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("mv_doc_id"))
            .limit(MAXSIM_TOPK))


def _maxsim_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        make_hyperplanes,
    )

    qvecs = make_hyperplanes(64, 2, seed=31)
    sels = []
    for i, qv in enumerate(qvecs):
        arr = "[" + ", ".join(repr(float(x)) for x in qv) + "]"
        qn = repr(float(np.sqrt((qv * qv).sum())))
        sels.append(
            f"list_dot_product(e, {arr}) / "
            f"(sqrt(list_dot_product(e, e)) * {qn}) AS cos_q{i}")
    return f"""
WITH v AS (
  SELECT CAST(floor((vec_id - 1) / {MAXSIM_DOC_VECS}) AS BIGINT)
           AS mv_doc_id,
         CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings),
scored AS (SELECT mv_doc_id, {', '.join(sels)} FROM v)
SELECT mv_doc_id,
       round(max(cos_q0) + max(cos_q1), 4) AS score
FROM scored GROUP BY mv_doc_id
ORDER BY score DESC, mv_doc_id ASC LIMIT {MAXSIM_TOPK}
"""


# --------------------------------------------------- lsh_bands_planner

BANDS_GRID = [(128, 1), (64, 2), (32, 4), (16, 8), (8, 16)]
PLANNER_MAX_ID = 200      # bounded, deterministic calibration sample
PLANNER_T = 0.5           # the near-dup threshold being tuned for


def lsh_bands_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven MinHash banding tuner: for each (bands, rows)
    split of a 128-perm signature, the expected candidate load and
    the recall at the target threshold, computed against the
    OBSERVED pair-similarity distribution of a bounded calibration
    sample (exact k-shingle Jaccard over docs with id <= 200 —
    constant cost regardless of corpus size). P(candidate | s) =
    1-(1-s^r)^b; summing it over observed sims prices each dial
    setting in actual pairs rather than textbook curves. Emits
    per-config: expected candidate pairs, recall over true pairs
    (s >= T), and the false-candidate rate. The exact-jaccard
    kernel over the bounded sample is deliberately pairwise
    (PAIRWISE_KERNELS allow-list, like ivf_recall_curve) — its cost
    is a constant set by PLANNER_MAX_ID, not the corpus."""
    from parquet_generator_spark.operators import dedup

    docs = (load_table(spark, "documents", sf_dir)
            .filter(F.col("doc_id") <= PLANNER_MAX_ID))
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", 0.0)
    # the (b, r) grid is a CONSTANT: explode a literal struct array
    # instead of cross-joining a grid frame (no nested-loop join in
    # the plan; the fan-out is len(BANDS_GRID) per pair)
    grid = F.explode(F.array(*[
        F.struct(F.lit(b).alias("b"), F.lit(r).alias("r"))
        for b, r in BANDS_GRID]))
    j = F.col("jaccard")
    p = F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(j, F.col("r")),
                           F.col("b"))
    x = (pairs.select("jaccard", grid.alias("g"))
         .select("jaccard", "g.b", "g.r"))
    true_pair = (j >= PLANNER_T).cast("int")
    return (x.groupBy("b", "r")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(true_pair.cast("long")).alias("n_true"),
                 F.round(F.sum(p), 3).alias("expected_candidates"),
                 # try_divide: a calibration sample with no true
                 # pairs at T (data-dependent) reports NULL recall
                 # instead of failing under ANSI mode — the oracle
                 # mirrors with an explicit zero-divisor CASE
                 F.round(F.try_divide(
                     F.sum(p * true_pair),
                     F.sum(true_pair.cast("double"))), 4)
                 .alias("recall_at_t"),
                 F.round(F.try_divide(
                     F.sum(p * (1 - true_pair)),
                     F.sum((1 - true_pair).cast("double"))), 6)
                 .alias("false_cand_rate"))
            .orderBy("r"))


def _bands_planner_oracle() -> str:
    from parquet_generator_spark.operators import text as tx

    sh = tx.shingles_duck("text", 3)
    grid = ", ".join(f"({b}, {r})" for b, r in BANDS_GRID)
    return f"""
WITH s AS (
  SELECT doc_id AS id, {sh} AS sh FROM documents
  WHERE doc_id <= {PLANNER_MAX_ID}),
p AS (
  SELECT round(CASE WHEN len(a.sh) + len(b.sh)
                         - len(list_intersect(a.sh, b.sh)) > 0
               THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh)))
               ELSE 0.0 END, 3) AS j
  FROM s a, s b WHERE a.id < b.id),
grid(b, r) AS (VALUES {grid}),
x AS (
  SELECT g.b, g.r, p.j,
         1.0 - pow(1.0 - pow(p.j, g.r), g.b) AS pc,
         CASE WHEN p.j >= {PLANNER_T} THEN 1 ELSE 0 END AS tp
  FROM p CROSS JOIN grid g)
SELECT b, r,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(tp) AS BIGINT) AS n_true,
       round(sum(pc), 3) AS expected_candidates,
       round(CASE WHEN sum(tp) = 0 THEN NULL
             ELSE sum(pc * tp) / sum(CAST(tp AS DOUBLE)) END, 4)
         AS recall_at_t,
       round(CASE WHEN sum(1 - tp) = 0 THEN NULL
             ELSE sum(pc * (1 - tp)) / sum(CAST(1 - tp AS DOUBLE))
             END, 6) AS false_cand_rate
FROM x GROUP BY b, r ORDER BY r
"""


# ------------------------------------------------------ doc_keywords

KW_TOPK = 3


def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF
    (tf * ln(N/df)). Two grouped passes build tf and df; the scalar
    doc count attaches as a scalar subquery; scores are ROUNDED TO 4
    BEFORE ranking so the rank window (partitioned per doc — fully
    parallel) breaks ties on the term, immune to cross-engine ln()
    last-ulp differences."""
    from pyspark.sql import Window

    from parquet_generator_spark.operators import text as tx
    from parquet_generator_spark.operators.util import broadcast_scalars

    docs = load_table(spark, "documents", sf_dir)
    dw = docs.select(
        "doc_id",
        F.explode(F.expr(tx.toks_spark("text"))).alias("w"))
    tf = dw.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (dw.distinct().groupBy("w")
             .agg(F.count(F.lit(1)).alias("df")))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = broadcast_scalars(tf.join(dfreq, "w"), n_docs)
    score = F.round(
        F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")),
        4)
    w = (Window.partitionBy("doc_id")
         .orderBy(F.desc("score"), F.asc("w")))
    return (scored.withColumn("score", score)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= KW_TOPK)
            .select("doc_id", "rank", F.col("w").alias("term"),
                    "score")
            .orderBy("doc_id", "rank"))


def _doc_keywords_oracle() -> str:
    from parquet_generator_spark.operators import text as tx

    return f"""
WITH dw AS (
  SELECT doc_id, unnest({tx.toks_duck('text')}) AS w
  FROM documents),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM dw GROUP BY doc_id, w),
dfreq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, w FROM dw) GROUP BY w),
n_docs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.w,
         round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 4)
           AS score
  FROM tf JOIN dfreq USING (w) CROSS JOIN n_docs n),
ranked AS (
  SELECT doc_id, w, score,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, w ASC) AS INT) AS rank
  FROM scored)
SELECT doc_id, rank, w AS term, score
FROM ranked WHERE rank <= {KW_TOPK}
ORDER BY doc_id, rank
"""


QUERIES.update({"jpeg_header_parse": jpeg_header_parse,
                "dedup_embedding_lsh_hi": dedup_embedding_lsh_hi,
                "hapax_doc_flags": hapax_doc_flags,
                "length_quality_heatmap": length_quality_heatmap,
                "lsh_bands_planner": lsh_bands_planner,
                "doc_keywords": doc_keywords,
                "gif_header_parse": gif_header_parse,
                "tiff_header_parse": tiff_header_parse,
                "colbert_maxsim": colbert_maxsim})
ORACLES.update({"jpeg_header_parse": JPEG_HEADER_ORACLE,
                "dedup_embedding_lsh_hi": _lsh_hi_oracle(),
                "hapax_doc_flags": _hapax_oracle(),
                "length_quality_heatmap": _lq_heatmap_oracle(),
                "lsh_bands_planner": _bands_planner_oracle(),
                "doc_keywords": _doc_keywords_oracle(),
                "gif_header_parse": GIF_HEADER_ORACLE,
                "tiff_header_parse": TIFF_HEADER_ORACLE,
                "colbert_maxsim": _maxsim_oracle()})
