"""Analytics, sixth wave: market-basket association mining.

Orders are baskets, parts are items: pair support / confidence /
lift over lineitem. Round 13: the pair expansion is no longer a
basket-key self-join — baskets are bounded (~4-7 items), so each
basket's C(k,2) pairs, its k items and one basket marker explode
from a single collect_set pass, and ONE grouped count yields the
pair table, the item-frequency table and the basket total together
(guide §1.2: the before-plan scanned lineitem four times — twice
for the self-join, twice for item frequencies — plus a fifth pass
for the scalar). Counts aggregate with map-side partials, and ratio
metrics are emitted as SINGLE divisions of exact int64 products so
both engines produce bit-identical doubles (no rounding step to
disagree on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache
from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}

BASKET_MIN_PAIR = 2     # min pair support (absolute baskets)
BASKET_TOPK = 20

# Per basket emit: one (NULL, NULL) marker row, one (item, NULL) row
# per distinct item, and one (a, b) row per a < b pair of distinct
# items (collect_set dedups; sort_array fixes a < b). A single
# groupBy(item_a, item_b) then carries three aggregates at once:
#   (NULL, NULL) count  = number of baskets,
#   (x, NULL)   counts  = baskets containing x  (item frequency),
#   (a, b)      counts  = baskets containing both (pair support).
_BASKET_ROWS = """
    concat(
      array(named_struct('a', CAST(NULL AS BIGINT),
                         'b', CAST(NULL AS BIGINT))),
      transform(items, x -> named_struct(
          'a', x, 'b', CAST(NULL AS BIGINT))),
      flatten(transform(items, (x, i) ->
          transform(slice(items, i + 2, size(items)),
                    y -> named_struct('a', x, 'b', y)))))
"""


def _basket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared one-pass basket model: (item_a, item_b, cnt) with
    the NULL-keyed marker/item rows described above. The result is
    the aggregated model table (distinct items + distinct
    co-occurring pairs + 1 row), bounded far below the corpus —
    checkpointed so the scalar subquery, the frequency lookups and
    the pair branch all read it without re-running the scan."""
    baskets = (load_table(spark, "lineitem", sf_dir)
               .groupBy(F.col("l_orderkey").alias("okey"))
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("items")))
    counts = (baskets.select(F.explode(F.expr(_BASKET_ROWS)).alias("r"))
              .groupBy(F.col("r.a").alias("item_a"),
                       F.col("r.b").alias("item_b"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    # EAGER: the basket-count scalar subquery and the main query
    # run as separate jobs that both read the model; materializing
    # it up front computes it once before either starts.
    return cache.checkpoint(counts)


def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchase pairs by lift. Plan: ONE lineitem scan ->
    per-basket distinct-item sets -> marker/item/pair explode -> one
    grouped count (map-side partials); the scalar basket count, the
    two item-frequency lookups and the pair table all read the
    checkpointed count model, and the frequency joins are plain
    equi-joins on the bounded model (AQE broadcasts them).
    Lift/confidence/support are single int64-product divisions —
    cross-engine bit-identical, unrounded."""
    counts = _basket_counts(spark, sf_dir)
    n_baskets = (counts.filter(F.col("item_a").isNull())
                 .select(F.col("cnt").alias("n")))
    items = (counts
             .filter(F.col("item_a").isNotNull()
                     & F.col("item_b").isNull())
             .select(F.col("item_a").alias("item"),
                     F.col("cnt").alias("item_cnt")))
    pairs = (counts.filter(F.col("item_b").isNotNull())
             .select("item_a", "item_b",
                     F.col("cnt").alias("pair_cnt"))
             .filter(F.col("pair_cnt") >= BASKET_MIN_PAIR))
    enriched = broadcast_scalars(
        pairs
        .join(items.select(F.col("item").alias("item_a"),
                           F.col("item_cnt").alias("cnt_a")),
              "item_a")
        .join(items.select(F.col("item").alias("item_b"),
                           F.col("item_cnt").alias("cnt_b")),
              "item_b"),
        n_baskets)
    support = F.col("pair_cnt").cast("double") / F.col("n")
    confidence = F.col("pair_cnt").cast("double") / F.col("cnt_a")
    lift = ((F.col("pair_cnt") * F.col("n")).cast("double")
            / (F.col("cnt_a") * F.col("cnt_b")))
    return (enriched.select(
        "item_a", "item_b", "pair_cnt", "cnt_a", "cnt_b",
        support.alias("support"), confidence.alias("confidence"),
        lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("item_a"), F.asc("item_b"))
        .limit(BASKET_TOPK))


BASKET_LIFT_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item
  FROM lineitem),
n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM li),
items AS (
  SELECT item, CAST(count(*) AS BIGINT) AS item_cnt
  FROM li GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS pair_cnt
  FROM li a JOIN li b ON a.okey = b.okey AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING count(*) >= {BASKET_MIN_PAIR})
SELECT p.item_a, p.item_b, p.pair_cnt,
       ia.item_cnt AS cnt_a, ib.item_cnt AS cnt_b,
       CAST(p.pair_cnt AS DOUBLE) / n.n AS support,
       CAST(p.pair_cnt AS DOUBLE) / ia.item_cnt AS confidence,
       CAST(p.pair_cnt * n.n AS DOUBLE)
         / (ia.item_cnt * ib.item_cnt) AS lift
FROM pairs p
JOIN items ia ON ia.item = p.item_a
JOIN items ib ON ib.item = p.item_b
CROSS JOIN n
ORDER BY lift DESC, item_a ASC, item_b ASC
LIMIT {BASKET_TOPK}
"""

FIS_MIN_SUPPORT = 8
FIS_TOPK = 15


def dsl_frequent_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.4 `frequent_item_sets` agg (bounded to set sizes 1-2 —
    the pairwise tier basket_lift prices; larger sets grow from
    frequent pairs by the apriori property and reuse the same
    bounded per-basket expansion). Emits each frequent set with its
    absolute support and support ratio; the ratio is one exact
    int64 division (unrounded, bit-identical). Rides the same
    one-pass basket count model as basket_lift (singles = the
    item-frequency rows, pairs = the pair rows, the total = the
    marker row)."""
    counts = _basket_counts(spark, sf_dir)
    n_baskets = (counts.filter(F.col("item_a").isNull())
                 .select(F.col("cnt").alias("n")))
    singles = (counts
               .filter(F.col("item_a").isNotNull()
                       & F.col("item_b").isNull())
               .select(F.col("item_a").cast("string").alias("items"),
                       F.lit(1).alias("set_size"),
                       F.col("cnt").alias("support")))
    pairs = (counts.filter(F.col("item_b").isNotNull())
             .select(F.concat_ws(",", "item_a", "item_b")
                     .alias("items"),
                     F.lit(2).alias("set_size"),
                     F.col("cnt").alias("support")))
    sets = broadcast_scalars(
        singles.unionAll(pairs)
        .filter(F.col("support") >= FIS_MIN_SUPPORT), n_baskets)
    return (sets.select(
        "items", "set_size", "support",
        (F.col("support").cast("double") / F.col("n"))
        .alias("support_ratio"))
        .orderBy(F.desc("support"), F.asc("set_size"), F.asc("items"))
        .limit(FIS_TOPK))


DSL_FREQUENT_ITEM_SETS_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item
  FROM lineitem),
n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM li),
singles AS (
  SELECT CAST(item AS VARCHAR) AS items, 1 AS set_size,
         CAST(count(*) AS BIGINT) AS support
  FROM li GROUP BY item),
pairs AS (
  SELECT concat_ws(',', a.item, b.item) AS items, 2 AS set_size,
         CAST(count(*) AS BIGINT) AS support
  FROM li a JOIN li b ON a.okey = b.okey AND a.item < b.item
  GROUP BY a.item, b.item),
sets AS (
  SELECT * FROM singles UNION ALL SELECT * FROM pairs)
SELECT items, set_size, support,
       CAST(support AS DOUBLE) / n.n AS support_ratio
FROM sets CROSS JOIN n
WHERE support >= {FIS_MIN_SUPPORT}
ORDER BY support DESC, set_size ASC, items ASC
LIMIT {FIS_TOPK}
"""

QUERIES.update({"basket_lift": basket_lift,
                "dsl_frequent_item_sets": dsl_frequent_item_sets})
ORACLES.update({"basket_lift": BASKET_LIFT_ORACLE,
                "dsl_frequent_item_sets": DSL_FREQUENT_ITEM_SETS_ORACLE})
