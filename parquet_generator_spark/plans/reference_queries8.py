"""ES-DSL seventh tranche: the remaining pipeline/bucket features a
real Kibana workload hits — sibling `percentiles_bucket`, the
`normalize` (rescale_0_1) pipeline agg, the `sampler` agg (metrics
over a bounded sample), `filters` with `other_bucket`, and
`date_histogram` with a calendar `offset`.

Scale posture: pipeline aggs operate over the BUCKET frame (bounded
by the calendar span, never data-cardinality); the sampler's sample
is TakeOrderedAndProject (per-partition top-k + k-row driver merge);
bucket min/max scalars attach as a scalar subquery, no global windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _daily(ev: DataFrame) -> DataFrame:
    return (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.sum("value"), 2).alias("revenue")))


def dsl_percentiles_bucket(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Sibling `percentiles_bucket` pipeline agg: exact p25/p50/p75
    of the daily doc-count bucket series — one grouped pass builds
    the (calendar-bounded) series, one scalar aggregate reduces it.
    The integer series keeps the interpolated quartiles on the
    dyadic-rational grid, so both engines agree bit-for-bit (a
    2-decimal metric lands interpolation midpoints on half-cent
    round boundaries where engine fp differs)."""
    ev = load_table(spark, "events", sf_dir)
    return (_daily(ev)
            .agg(F.expr("percentile(doc_count, "
                        "array(0.25, 0.5, 0.75))").alias("q"),
                 F.count(F.lit(1)).alias("n_buckets"))
            .select("n_buckets",
                    F.round(F.col("q")[0], 2).alias("p25"),
                    F.round(F.col("q")[1], 2).alias("p50"),
                    F.round(F.col("q")[2], 2).alias("p75")))


DSL_PERCENTILES_BUCKET_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS doc_count
  FROM events GROUP BY day)
SELECT count(*) AS n_buckets,
       round(quantile_cont(doc_count, 0.25), 2) AS p25,
       round(quantile_cont(doc_count, 0.5), 2) AS p50,
       round(quantile_cont(doc_count, 0.75), 2) AS p75
FROM daily
"""


def dsl_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`normalize` pipeline agg (ES 7.9+, method rescale_0_1): each
    daily bucket's revenue rescaled to [0, 1] over the series. The
    series min/max are a one-row scalar aggregate attached as plan
    literals — no global window over the bucket frame."""
    ev = load_table(spark, "events", sf_dir)
    daily = _daily(ev)
    mm = daily.agg(F.min("revenue").alias("_mn"),
                   F.max("revenue").alias("_mx"))
    out = broadcast_scalars(daily, mm)
    scaled = F.when(
        F.col("_mx") > F.col("_mn"),
        (F.col("revenue") - F.col("_mn"))
        / (F.col("_mx") - F.col("_mn"))).otherwise(0.0)
    return (out.select(
        F.date_format("day", "yyyy-MM-dd HH:mm:ss").alias("key"),
        "doc_count", "revenue",
        F.round(scaled, 4).alias("revenue_0_1"))
        .orderBy("key"))


DSL_NORMALIZE_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS doc_count,
         round(sum(value), 2) AS revenue
  FROM events GROUP BY day),
mm AS (SELECT min(revenue) AS mn, max(revenue) AS mx FROM daily)
SELECT strftime(d.day, '%Y-%m-%d %H:%M:%S') AS key, d.doc_count,
       d.revenue,
       round(CASE WHEN m.mx > m.mn
                  THEN (d.revenue - m.mn) / (m.mx - m.mn)
                  ELSE 0.0 END, 4) AS revenue_0_1
FROM daily d, mm m ORDER BY key
"""


SAMPLER_SIZE = 200


def dsl_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sampler` agg: metrics over a bounded SAMPLE of the matching
    docs. Documented adaptation: ES samples the top-scoring docs per
    shard (non-deterministic across refreshes); here the sample is
    the md5-ranked first SAMPLER_SIZE — deterministic and
    engine-reproducible (the stratified_sample convention), taken
    via TakeOrderedAndProject, never a global sort."""
    ev = load_table(spark, "events", sf_dir)
    sample = (ev.select("event_id", "value",
                        F.md5(F.col("event_id").cast("string"))
                        .alias("rk"))
              .orderBy("rk")
              .limit(SAMPLER_SIZE))
    return sample.agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.max("value"), 4).alias("max_value"))


DSL_SAMPLER_ORACLE = f"""
WITH sample AS (
  SELECT event_id, value
  FROM events
  ORDER BY md5(CAST(event_id AS VARCHAR))
  LIMIT {SAMPLER_SIZE})
SELECT count(*) AS doc_count,
       round(avg(value), 4) AS avg_value,
       round(max(value), 4) AS max_value
FROM sample
"""


def dsl_filters_other_bucket(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """`filters` agg with `other_bucket: true`: named buckets plus
    the ES `_other_` catch-all for docs matching none of them — one
    conditional-key grouped pass (the named filters here partition
    on event_type, so each doc lands in exactly one bucket)."""
    ev = load_table(spark, "events", sf_dir)
    key = (F.when(F.col("event_type") == "purchase", "purchases")
           .when(F.col("event_type") == "click", "clicks")
           .otherwise("_other_"))
    return (ev.groupBy(key.alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.avg("value"), 4).alias("avg_value"))
            .orderBy("key"))


DSL_FILTERS_OTHER_ORACLE = """
SELECT CASE WHEN event_type = 'purchase' THEN 'purchases'
            WHEN event_type = 'click' THEN 'clicks'
            ELSE '_other_' END AS key,
       count(*) AS doc_count,
       round(avg(value), 4) AS avg_value
FROM events GROUP BY key ORDER BY key
"""


HIST_OFFSET_HOURS = 6


def dsl_date_histogram_offset(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """`date_histogram` with `offset: "+6h"`: buckets start at 06:00
    instead of midnight (the log-rotation / business-day alignment
    use). Bucket key = trunc(ts - 6h, day) + 6h — still a pure
    projection, pushdown unaffected."""
    ev = load_table(spark, "events", sf_dir)
    shifted = F.date_trunc(
        "day", F.col("ts") - F.expr(f"INTERVAL {HIST_OFFSET_HOURS} HOURS"))
    key = F.date_format(
        shifted + F.expr(f"INTERVAL {HIST_OFFSET_HOURS} HOURS"),
        "yyyy-MM-dd HH:mm:ss")
    return (ev.groupBy(key.alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("key"))


DSL_DATE_HISTOGRAM_OFFSET_ORACLE = f"""
SELECT strftime(date_trunc('day', ts - INTERVAL {HIST_OFFSET_HOURS} HOURS)
                + INTERVAL {HIST_OFFSET_HOURS} HOURS,
                '%Y-%m-%d %H:%M:%S') AS key,
       count(*) AS doc_count
FROM events GROUP BY key ORDER BY key
"""

QUERIES.update({
    "dsl_percentiles_bucket": dsl_percentiles_bucket,
    "dsl_normalize": dsl_normalize,
    "dsl_sampler": dsl_sampler,
    "dsl_filters_other_bucket": dsl_filters_other_bucket,
    "dsl_date_histogram_offset": dsl_date_histogram_offset,
})
ORACLES.update({
    "dsl_percentiles_bucket": DSL_PERCENTILES_BUCKET_ORACLE,
    "dsl_normalize": DSL_NORMALIZE_ORACLE,
    "dsl_sampler": DSL_SAMPLER_ORACLE,
    "dsl_filters_other_bucket": DSL_FILTERS_OTHER_ORACLE,
    "dsl_date_histogram_offset": DSL_DATE_HISTOGRAM_OFFSET_ORACLE,
})
