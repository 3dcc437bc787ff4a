"""Fifth wave of analytics queries: event-sequence analytics over the
events table — Markov transition counts and first-touch attribution.
Both shuffle once on user_id (keyed windows, never a global sort) and
carry exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.sources.catalog import load_table

TRANSITIONS_TOP = 20


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type transition counts (the first-order Markov
    matrix of user behavior): per user, order events by time and
    count (event_type -> next event_type) pairs. One shuffle on
    user_id for the lead() window — per-user partitions, bounded by
    a user's event history, never a global sort — then a keyed count
    and a TakeOrderedAndProject top-k."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev
             .withColumn("next_type", F.lead("event_type").over(w))
             .filter(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("next_type").alias("to_type"))
             .agg(F.count(F.lit(1)).alias("n")))
    return (pairs.orderBy(F.desc("n"), F.asc("from_type"),
                          F.asc("to_type"))
            .limit(TRANSITIONS_TOP))


EVENT_TRANSITIONS_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT event_type AS from_type, next_type AS to_type,
       count(*) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY from_type, to_type
ORDER BY n DESC, from_type ASC, to_type ASC
LIMIT {TRANSITIONS_TOP}
"""


def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each user's lifetime value rolls up
    to the event type of their FIRST event (ts, event_id order).
    Two keyed aggregations on user_id — the first-event pick via a
    per-user window, the value total via groupBy — joined at user
    cardinality, then a tiny per-type rollup."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = (ev.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("user_id", F.col("event_type").alias("first_type")))
    totals = (ev.groupBy("user_id")
              .agg(F.sum("value").alias("ltv")))
    return (first.join(totals, "user_id")
            .groupBy("first_type")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.sum("ltv"), 2).alias("total_value"))
            .orderBy("first_type"))


FIRST_TOUCH_ORACLE = """
WITH first AS (
  SELECT user_id, event_type AS first_type
  FROM (SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events)
  WHERE rn = 1),
totals AS (
  SELECT user_id, sum(value) AS ltv FROM events GROUP BY user_id)
SELECT first_type, count(*) AS n_users,
       round(sum(ltv), 2) AS total_value
FROM first JOIN totals USING (user_id)
GROUP BY first_type ORDER BY first_type
"""


QUERIES = {
    "event_transitions": event_transitions,
    "first_touch_attribution": first_touch_attribution,
}

ORACLES = {
    "event_transitions": EVENT_TRANSITIONS_ORACLE,
    "first_touch_attribution": FIRST_TOUCH_ORACLE,
}


def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per return flag — the
    weighted quantile neither engine has built in: sort within each
    (bounded-cardinality) group, running weight vs half the group
    total, first row crossing the half-line wins. The windows are
    group-partitioned (parallel across groups) and the group totals
    ride the same window — no second scan, no global sort."""
    li = load_table(spark, "lineitem", sf_dir)
    w = Window.partitionBy("l_returnflag").orderBy(
        F.asc("l_extendedprice"), F.asc("l_orderkey"),
        F.asc("l_linenumber"))
    wall = Window.partitionBy("l_returnflag")
    x = (li.select("l_returnflag", "l_extendedprice", "l_quantity",
                   "l_orderkey", "l_linenumber")
         .withColumn("cw", F.sum("l_quantity").over(
             w.rowsBetween(Window.unboundedPreceding, 0)))
         .withColumn("tw", F.sum("l_quantity").over(wall)))
    return (x.filter(F.col("cw") >= F.col("tw") / 2)
            .groupBy("l_returnflag")
            .agg(F.round(F.min("l_extendedprice"), 2)
                 .alias("weighted_median_price"),
                 F.round(F.min_by(
                     F.col("cw") / F.col("tw"),
                     F.struct("l_extendedprice", "l_orderkey",
                              "l_linenumber")), 4)
                 .alias("crossing_frac"))
            .orderBy("l_returnflag"))


WEIGHTED_MEDIAN_ORACLE = """
WITH x AS (
  SELECT l_returnflag, l_extendedprice,
         sum(l_quantity) OVER (PARTITION BY l_returnflag
              ORDER BY l_extendedprice, l_orderkey, l_linenumber
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw,
         l_orderkey, l_linenumber
  FROM lineitem),
r AS (
  SELECT *, row_number() OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
  FROM x WHERE cw >= tw / 2)
SELECT l_returnflag,
       round(l_extendedprice, 2) AS weighted_median_price,
       round(cw / tw, 4) AS crossing_frac
FROM r WHERE rn = 1 ORDER BY l_returnflag
"""

QUERIES["weighted_median"] = weighted_median
ORACLES["weighted_median"] = WEIGHTED_MEDIAN_ORACLE


def scd2_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension merge exercised on customers: a snapshot
    where every 10th customer's balance moved by +100 merges against
    the day-one dimension; output = the DELTA timeline (closed rows +
    their replacement current rows). See streaming.scd2.scd2_merge —
    the join is current-rows x batch on the key, history rows never
    enter it."""
    from parquet_generator_spark.streaming.scd2 import scd2_merge
    cust = load_table(spark, "customer", sf_dir)
    t1 = "2024-01-01 00:00:00"
    t2 = "2024-02-01 00:00:00"
    existing = cust.select(
        "c_custkey", "c_acctbal",
        F.lit(t1).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"))
    batch = cust.select(
        "c_custkey",
        (F.col("c_acctbal")
         + F.when(F.col("c_custkey") % 10 == 0, 100.0)
         .otherwise(0.0)).alias("c_acctbal"),
        F.lit(t2).cast("timestamp").alias("ts"))
    merged = scd2_merge(existing, batch, ["c_custkey"],
                        ["c_acctbal"], "ts")
    delta = merged.filter(
        F.col("valid_to").isNotNull()
        | (F.col("valid_from") == F.lit(t2).cast("timestamp")))
    return (delta.select("c_custkey",
                         F.round("c_acctbal", 2).alias("bal"),
                         "valid_from", "valid_to")
            .orderBy("c_custkey", "valid_from"))


SCD2_CUSTOMER_ORACLE = """
SELECT c_custkey, round(c_acctbal, 2) AS bal,
       TIMESTAMP '2024-01-01' AS valid_from,
       TIMESTAMP '2024-02-01' AS valid_to
FROM customer WHERE c_custkey % 10 = 0
UNION ALL
SELECT c_custkey, round(c_acctbal + 100, 2),
       TIMESTAMP '2024-02-01', NULL
FROM customer WHERE c_custkey % 10 = 0
ORDER BY c_custkey, valid_from
"""

QUERIES["scd2_customer_merge"] = scd2_customer_merge
ORACLES["scd2_customer_merge"] = SCD2_CUSTOMER_ORACLE


TOP_PATHS = 15
PATH_LEN = 5


def top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the first 5 event types of each (user, day)
    session joined into a path string, counted corpus-wide. The
    per-session ordering happens ARRAY-SIDE (array_sort of
    (ts, event_id, type) structs inside one groupBy — bounded by a
    session's length, no window), then one keyed count and a
    TakeOrderedAndProject top-k."""
    ev = load_table(spark, "events", sf_dir)
    sess = (ev.groupBy("user_id", F.to_date("ts").alias("day"))
            .agg(F.expr(
                "array_join(transform(slice(array_sort("
                "collect_list(struct(ts, event_id, event_type))), "
                f"1, {PATH_LEN}), s -> s.event_type), '>')")
                .alias("path")))
    return (sess.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("path"))
            .limit(TOP_PATHS))


TOP_PATHS_ORACLE = f"""
WITH sess AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         array_to_string(
           (list(event_type ORDER BY ts, event_id))[1:{PATH_LEN}],
           '>') AS path
  FROM events GROUP BY user_id, day)
SELECT path, count(*) AS n FROM sess
GROUP BY path ORDER BY n DESC, path ASC LIMIT {TOP_PATHS}
"""


PSI_BIN = 50.0
PSI_NBINS = 10
PSI_SPLIT = "2024-01-08 00:00:00"


def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: the event-value
    distribution of week 1 vs the rest of the month over fixed-width
    bins, Laplace-smoothed so empty bins stay finite. Two conditional
    counts in ONE grouped pass (no second scan); totals attach as
    one scalar subquery. psi_i = (p_i - q_i) * ln(p_i / q_i); sum > 0.2 is
    the conventional 'drifted' alarm."""
    from parquet_generator_spark.operators.util import broadcast_scalars
    ev = load_table(spark, "events", sf_dir)
    split = F.lit(PSI_SPLIT).cast("timestamp")
    b = (ev.withColumn(
        "bucket",
        F.least(F.floor(F.col("value") / PSI_BIN),
                F.lit(PSI_NBINS - 1)).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.when(F.col("ts") < split, 1)).alias("n_a"),
             F.count(F.when(F.col("ts") >= split, 1)).alias("n_b")))
    totals = b.agg(F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"))
    p = (F.col("n_a") + 1) / (F.col("t_a") + PSI_NBINS)
    q = (F.col("n_b") + 1) / (F.col("t_b") + PSI_NBINS)
    return (broadcast_scalars(b, totals)
            .select("bucket", "n_a", "n_b",
                    F.round((p - q) * F.log(p / q), 6).alias("psi"))
            .orderBy("bucket"))


DRIFT_PSI_ORACLE = f"""
WITH b AS (
  SELECT least(CAST(floor(value / {PSI_BIN}) AS INT),
               {PSI_NBINS - 1}) AS bucket,
         count(*) FILTER (ts < TIMESTAMP '{PSI_SPLIT}') AS n_a,
         count(*) FILTER (ts >= TIMESTAMP '{PSI_SPLIT}') AS n_b
  FROM events GROUP BY 1),
t AS (SELECT sum(n_a) AS t_a, sum(n_b) AS t_b FROM b)
SELECT bucket, n_a, n_b,
       round(((n_a + 1) / CAST(t_a + {PSI_NBINS} AS DOUBLE)
              - (n_b + 1) / CAST(t_b + {PSI_NBINS} AS DOUBLE))
             * ln(((n_a + 1) / CAST(t_a + {PSI_NBINS} AS DOUBLE))
                  / ((n_b + 1) / CAST(t_b + {PSI_NBINS} AS DOUBLE))),
             6) AS psi
FROM b, t ORDER BY bucket
"""

QUERIES["top_paths"] = top_paths
QUERIES["drift_psi"] = drift_psi
ORACLES["top_paths"] = TOP_PATHS_ORACLE
ORACLES["drift_psi"] = DRIFT_PSI_ORACLE


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value (TWAP): each observation
    holds from its timestamp until the user's next event, so the
    mean weights by holding duration instead of sample count — the
    standard for irregularly-sampled series. One keyed lead window
    (partitioned by user, never global); microsecond-exact
    durations on both engines; single-event users have no holding
    interval and drop out."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = (ev.withColumn("next_us", F.unix_micros(F.lead("ts").over(w)))
         .withColumn("dt", F.col("next_us") - F.unix_micros("ts"))
         .filter(F.col("dt").isNotNull()))
    return (x.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_intervals"),
                 F.round(F.sum(F.col("value") * F.col("dt"))
                         / F.sum("dt"), 4).alias("twap"))
            .orderBy("user_id"))


TIME_WEIGHTED_AVG_ORACLE = """
WITH x AS (
  SELECT user_id, value,
         epoch_us(lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id))
           - epoch_us(ts) AS dt
  FROM events)
SELECT user_id, count(*) AS n_intervals,
       round(sum(value * dt) / sum(dt), 4) AS twap
FROM x WHERE dt IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


def ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars of purchase values: open/close via
    min_by/max_by over the (ts, event_id) order — one grouped pass,
    no window, no second scan (the classic candlestick rollup)."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.filter(F.col("event_type") == "purchase")
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.expr("min_by(value, struct(ts, event_id))")
                 .alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.expr("max_by(value, struct(ts, event_id))")
                 .alias("close"),
                 F.count(F.lit(1)).alias("n_trades"))
            .orderBy("day"))


OHLC_DAILY_ORACLE = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
r AS (
  SELECT CAST(ts AS DATE) AS day, value,
         row_number() OVER (PARTITION BY CAST(ts AS DATE)
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM p),
agg AS (
  SELECT CAST(ts AS DATE) AS day, max(value) AS high,
         min(value) AS low, count(*) AS n_trades
  FROM p GROUP BY 1)
SELECT a.day,
       o.value AS open, a.high, a.low, c.value AS close, a.n_trades
FROM agg a
JOIN r o ON o.day = a.day AND o.rn_a = 1
JOIN r c ON c.day = a.day AND c.rn_d = 1
ORDER BY a.day
"""

QUERIES["time_weighted_avg"] = time_weighted_avg
QUERIES["ohlc_daily"] = ohlc_daily
ORACLES["time_weighted_avg"] = TIME_WEIGHTED_AVG_ORACLE
ORACLES["ohlc_daily"] = OHLC_DAILY_ORACLE


def linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of an irregular series: purchase values
    are the knowns; every other event gets the time-proportional
    blend of its surrounding knowns (forward_fill's two-sided twin —
    the standard gap-fill for sensor/price series). Two keyed
    ignore-nulls windows per direction, both partitioned by user;
    boundary rows fall back to the single available side."""
    ev = load_table(spark, "events", sf_dir)
    is_known = F.col("event_type") == "purchase"
    x = (ev.withColumn("kv", F.when(is_known, F.col("value")))
         .withColumn("kt", F.when(is_known, F.unix_micros("ts"))))
    wb = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    wf = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(0, Window.unboundedFollowing))
    x = (x.withColumn("pv", F.last("kv", ignorenulls=True).over(wb))
         .withColumn("pt", F.last("kt", ignorenulls=True).over(wb))
         .withColumn("nv", F.first("kv", ignorenulls=True).over(wf))
         .withColumn("nt", F.first("kt", ignorenulls=True).over(wf)))
    t = F.unix_micros("ts")
    interp = (F.when(F.col("pv").isNotNull() & F.col("nv").isNotNull()
                     & (F.col("nt") > F.col("pt")),
                     F.col("pv") + (F.col("nv") - F.col("pv"))
                     * (t - F.col("pt"))
                     / (F.col("nt") - F.col("pt")))
              .when(F.col("pv").isNotNull(), F.col("pv"))
              .otherwise(F.col("nv")))
    return (x.filter(~is_known)
            .select("event_id", "user_id",
                    F.round(interp, 4).alias("interp"))
            .filter(F.col("interp").isNotNull())
            .orderBy("event_id"))


LINEAR_INTERPOLATE_ORACLE = """
WITH x AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'purchase' THEN value END AS kv,
         CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS kt
  FROM events),
w AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(kv IGNORE NULLS) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(kt IGNORE NULLS) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         first_value(kv IGNORE NULLS) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(kt IGNORE NULLS) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM x)
SELECT event_id, user_id,
       round(CASE
         WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt > pt
           THEN pv + (nv - pv) * (epoch_us(ts) - pt) / (nt - pt)
         WHEN pv IS NOT NULL THEN pv
         ELSE nv END, 4) AS interp
FROM w WHERE event_type != 'purchase'
  AND (pv IS NOT NULL OR nv IS NOT NULL)
ORDER BY event_id
"""


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency (days since last
    event vs the corpus max date), frequency, and monetary total,
    each scored 1-5 against quintile boundaries computed over the
    user frame and attached as a scalar subquery. Monetary sums are
    rounded BEFORE the boundary comparison so engine fold-order ulps
    cannot flip a user across a quintile edge. Output: segment-cell
    counts."""
    from parquet_generator_spark.operators.util import broadcast_scalars
    ev = load_table(spark, "events", sf_dir)
    per = (ev.groupBy("user_id")
           .agg(F.max(F.to_date("ts")).alias("last_day"),
                F.count(F.lit(1)).alias("freq"),
                F.round(F.sum("value"), 2).alias("money")))
    per = broadcast_scalars(per, per.agg(F.max("last_day").alias("d0")))
    per = per.withColumn("rec", F.datediff(F.col("d0"), F.col("last_day")))
    bounds = per.agg(*[
        F.expr(f"percentile({c}, array(0.2D, 0.4D, 0.6D, 0.8D))")
        .alias(f"b_{c}") for c in ("rec", "freq", "money")])
    per = broadcast_scalars(per, bounds)

    def score(c, invert):
        s = F.lit(1)
        for i in range(4):
            hit = (F.col(c) < F.col(f"b_{c}")[i]) if invert \
                else (F.col(c) > F.col(f"b_{c}")[i])
            s = s + hit.cast("int")
        return s

    scored = per.select(
        score("rec", invert=True).alias("r_score"),   # lower = better
        score("freq", invert=False).alias("f_score"),
        score("money", invert=False).alias("m_score"))
    return (scored.groupBy("r_score", "f_score", "m_score")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .orderBy("r_score", "f_score", "m_score"))


RFM_SEGMENTATION_ORACLE = """
WITH per AS (
  SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
         count(*) AS freq, round(sum(value), 2) AS money
  FROM events GROUP BY user_id),
d0 AS (SELECT max(last_day) AS d0 FROM per),
r AS (SELECT user_id, date_diff('day', last_day, d0) AS rec,
             freq, money FROM per, d0),
b AS (SELECT
  quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS b_rec,
  quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS b_freq,
  quantile_cont(money, [0.2, 0.4, 0.6, 0.8]) AS b_money FROM r),
s AS (
  SELECT 1 + CAST(rec < b_rec[1] AS INT) + CAST(rec < b_rec[2] AS INT)
           + CAST(rec < b_rec[3] AS INT) + CAST(rec < b_rec[4] AS INT)
           AS r_score,
         1 + CAST(freq > b_freq[1] AS INT) + CAST(freq > b_freq[2] AS INT)
           + CAST(freq > b_freq[3] AS INT) + CAST(freq > b_freq[4] AS INT)
           AS f_score,
         1 + CAST(money > b_money[1] AS INT)
           + CAST(money > b_money[2] AS INT)
           + CAST(money > b_money[3] AS INT)
           + CAST(money > b_money[4] AS INT) AS m_score
  FROM r, b)
SELECT r_score, f_score, m_score, count(*) AS n_users
FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""

QUERIES["linear_interpolate"] = linear_interpolate
QUERIES["rfm_segmentation"] = rfm_segmentation
ORACLES["linear_interpolate"] = LINEAR_INTERPOLATE_ORACLE
ORACLES["rfm_segmentation"] = RFM_SEGMENTATION_ORACLE


def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-to-purchase conversion latency: per user, minutes from
    their FIRST view to the first purchase at-or-after it, reduced
    to corpus percentiles — two user-keyed aggregates and a
    user-cardinality join, never a global sort."""
    ev = load_table(spark, "events", sf_dir)
    v0 = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("v0")))
    conv = (ev.filter(F.col("event_type") == "purchase")
            .join(v0, "user_id")
            .filter(F.col("ts") >= F.col("v0"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("p0"), F.min("v0").alias("v0")))
    delta = ((F.unix_micros("p0") - F.unix_micros("v0"))
             / F.lit(60_000_000.0))
    return (conv.select(delta.alias("mins"))
            .agg(F.count(F.lit(1)).alias("n_converted"),
                 F.round(F.expr("percentile(mins, 0.5D)"), 2)
                 .alias("p50_minutes"),
                 F.round(F.expr("percentile(mins, 0.9D)"), 2)
                 .alias("p90_minutes"),
                 F.round(F.avg("mins"), 2).alias("mean_minutes")))


TIME_TO_CONVERT_ORACLE = """
WITH v0 AS (
  SELECT user_id, min(ts) AS v0 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
conv AS (
  SELECT e.user_id, min(e.ts) AS p0, min(v0.v0) AS v0
  FROM events e JOIN v0 ON v0.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= v0.v0
  GROUP BY e.user_id),
d AS (SELECT (epoch_us(p0) - epoch_us(v0)) / 60000000.0 AS mins
      FROM conv)
SELECT count(*) AS n_converted,
       round(quantile_cont(mins, 0.5), 2) AS p50_minutes,
       round(quantile_cont(mins, 0.9), 2) AS p90_minutes,
       round(avg(mins), 2) AS mean_minutes
FROM d
"""

QUERIES["time_to_convert"] = time_to_convert
ORACLES["time_to_convert"] = TIME_TO_CONVERT_ORACLE
