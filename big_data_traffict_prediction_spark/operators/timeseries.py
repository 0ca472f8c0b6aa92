"""Time-series bucketing (SURVEY.md §2.4 A9/A10, §3.2).

The reference materializes a full range scan into Python dicts and
re-aggregates with ``int(ts // interval) * interval`` loops
(``app/routes.py:105-137``; in-memory variant with pre-allocated empty
buckets ``app/utils.py:567-689``). Here each chart is one grouped
aggregation; the dense variant left-joins a generated bucket spine
(``sequence()`` + ``explode``) so empty buckets appear zero-filled —
no driver-side loop, no collect.

Bucket arithmetic uses integer epoch seconds exclusively (compat
notes): a double epoch can flip a boundary row into the wrong bucket
by one ULP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import NOW_EPOCH, NOW_TS, bucket_epoch, constant_key
from ..registry import register
from ..tables import TRAFFIC_CTE, traffic_history, with_traffic

# Sparse /api/history period table (reference app/routes.py:76-103):
# period → (span_s, interval_s); labels %d/%m for 7d/30d, %H:%M otherwise.
ROUTES_PERIODS = {
    "30m": (1800, 60),
    "1h": (3600, 60),
    "6h": (21600, 300),
    "12h": (43200, 900),
    "24h": (86400, 1800),
    "7d": (604800, 14400),
    "30d": (2592000, 86400),
}

# Dense pre-allocated chart table (reference app/utils.py:613-646):
# period → (span_s, interval_s, spark_label_fmt, duckdb_label_fmt).
DENSE_PERIODS = {
    "30m": (1800, 60, "HH:mm", "%H:%M"),
    "1h": (3600, 120, "HH:mm", "%H:%M"),
    "6h": (21600, 900, "HH:mm", "%H:%M"),
    "12h": (43200, 1800, "HH:mm", "%H:%M"),
    "24h": (86400, 3600, "HH:mm", "%H:%M"),
    "7d": (604800, 86400, "EEEE, dd MMM", "%A, %d %b"),
    "30d": (2592000, 86400, "EEE, dd MMM", "%a, %d %b"),
}

# Legacy registered shapes (kept stable across rounds).
PERIODS = {
    "24h": (86400, 3600),
    "7d": (604800, 21600),
    "30d": (2592000, 86400),
}

SERIES_PERIOD = "24h"
DENSE_PERIOD = "7d"


def bucket_series(
    spark: SparkSession,
    sf_dir: str,
    span_s: int,
    interval_s: int,
    label_fmt: str = "HH:mm",
) -> DataFrame:
    """Tumbling-bucket sums over the trailing span ending at NOW."""
    h = traffic_history(spark, sf_dir)
    start = NOW_EPOCH - span_s
    return (
        h.filter(F.col("ts") >= F.timestamp_seconds(F.lit(start)))
        .groupBy(bucket_epoch("ts", interval_s).alias("bucket_epoch"))
        .agg(
            F.sum("new_count").alias("total_new_count"),
            F.sum("new_cars").alias("total_new_cars"),
            F.sum("new_motors").alias("total_new_motors"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .withColumn("bucket_ts", F.timestamp_seconds("bucket_epoch"))
        .withColumn("label", F.date_format("bucket_ts", label_fmt))
        .orderBy("bucket_epoch")
    )


def _series_oracle(span_s: int, interval_s: int, label_fmt: str) -> str:
    return with_traffic(f"""
SELECT
  CAST(FLOOR(epoch_us(ts) // 1000000 / {interval_s}) * {interval_s} AS BIGINT) AS bucket_epoch,
  CAST(SUM(new_count) AS BIGINT) AS total_new_count,
  CAST(SUM(new_cars) AS BIGINT) AS total_new_cars,
  CAST(SUM(new_motors) AS BIGINT) AS total_new_motors,
  COUNT(*) AS n_samples,
  make_timestamp(CAST(FLOOR(epoch_us(ts) // 1000000 / {interval_s}) * {interval_s} AS BIGINT) * 1000000) AS bucket_ts,
  strftime(make_timestamp(CAST(FLOOR(epoch_us(ts) // 1000000 / {interval_s}) * {interval_s} AS BIGINT) * 1000000), '{label_fmt}') AS label
FROM traffic
WHERE ts >= make_timestamp(CAST({NOW_EPOCH - span_s} AS BIGINT) * 1000000)
GROUP BY 1
ORDER BY bucket_epoch
""")


@register(oracle=_series_oracle(*PERIODS[SERIES_PERIOD], "%H:%M"))
def q_bucket_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: trailing-24h hourly buckets with HH:mm labels
    (reference app/routes.py:74-137)."""
    return bucket_series(spark, sf_dir, *PERIODS[SERIES_PERIOD])


@register(
    oracle=with_traffic(f"""
, spine AS (
  SELECT CAST(g AS BIGINT) AS bucket_epoch
  FROM (SELECT unnest(generate_series(
    {NOW_EPOCH - PERIODS[DENSE_PERIOD][0]}, {NOW_EPOCH - 1}, {PERIODS[DENSE_PERIOD][1]})) AS g)
),
agg AS (
  SELECT CAST(FLOOR(epoch_us(ts) // 1000000 / {PERIODS[DENSE_PERIOD][1]}) * {PERIODS[DENSE_PERIOD][1]} AS BIGINT) AS bucket_epoch,
         CAST(SUM(new_count) AS BIGINT) AS total_new_count,
         COUNT(*) AS n_samples
  FROM traffic
  WHERE ts >= make_timestamp(CAST({NOW_EPOCH - PERIODS[DENSE_PERIOD][0]} AS BIGINT) * 1000000)
  GROUP BY 1
)
SELECT s.bucket_epoch,
       make_timestamp(s.bucket_epoch * 1000000) AS bucket_ts,
       strftime(make_timestamp(s.bucket_epoch * 1000000), '%d/%m') AS label,
       COALESCE(a.total_new_count, 0) AS total_new_count,
       COALESCE(a.n_samples, 0) AS n_samples
FROM spine s LEFT JOIN agg a ON a.bucket_epoch = s.bucket_epoch
ORDER BY s.bucket_epoch
"""),
)
def q_bucket_series_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: trailing-7d 6h buckets with ZERO-FILLED empties — the
    reference pre-allocates empty buckets in a Python dict
    (app/utils.py:675-689); here a sequence() spine left-joins the
    aggregate. The aggregated side is ≤ span/interval rows after the
    groupBy, so IT is the broadcast side; the spine stays preserved
    (Spark cannot build the preserved side of a left outer join — a
    spine-side hint is silently discarded)."""
    span_s, interval_s = PERIODS[DENSE_PERIOD]
    start = NOW_EPOCH - span_s
    spine = spark.range(0, span_s // interval_s).select(
        (F.lit(start) + F.col("id") * interval_s).cast("long").alias("bucket_epoch")
    )
    agg = (
        traffic_history(spark, sf_dir)
        .filter(F.col("ts") >= F.timestamp_seconds(F.lit(start)))
        .groupBy(bucket_epoch("ts", interval_s).alias("bucket_epoch"))
        .agg(
            F.sum("new_count").alias("total_new_count"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    return (
        spine.join(F.broadcast(agg), "bucket_epoch", "left")
        .select(
            "bucket_epoch",
            F.timestamp_seconds("bucket_epoch").alias("bucket_ts"),
            F.date_format(F.timestamp_seconds("bucket_epoch"), "dd/MM").alias("label"),
            F.coalesce("total_new_count", F.lit(0)).alias("total_new_count"),
            F.coalesce("n_samples", F.lit(0)).alias("n_samples"),
        )
        .orderBy("bucket_epoch")
    )


@register(oracle=_series_oracle(*ROUTES_PERIODS["30m"], "%H:%M"))
def q_bucket_series_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference /api/history period=30m: trailing 30 min, 60 s buckets,
    %H:%M labels (app/routes.py:84-86, sparse dict form)."""
    return bucket_series(spark, sf_dir, *ROUTES_PERIODS["30m"])


@register(oracle=_series_oracle(*ROUTES_PERIODS["12h"], "%H:%M"))
def q_bucket_series_12h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference /api/history period=12h: trailing 12 h, 15 min buckets
    (app/routes.py:90-92)."""
    return bucket_series(spark, sf_dir, *ROUTES_PERIODS["12h"])


def _dense_series(
    spark: SparkSession,
    sf_dir: str,
    start: int,
    end: int,
    interval_s: int,
    label_fmt: str,
) -> DataFrame:
    """Zero-filled dense chart series over [start, end): generated spine
    left-joins the bucket aggregate; the aggregated side broadcasts
    (≤ span/interval rows post-groupBy). Mirrors the reference's
    pre-allocated bucket loop (app/utils.py:661-689) declaratively."""
    spine = spark.range(0, (end - start) // interval_s).select(
        (F.lit(start) + F.col("id") * interval_s).cast("long").alias("bucket_epoch")
    )
    agg = (
        traffic_history(spark, sf_dir)
        .filter(
            (F.col("ts") >= F.timestamp_seconds(F.lit(start)))
            & (F.col("ts") < F.timestamp_seconds(F.lit(end)))
        )
        .groupBy(bucket_epoch("ts", interval_s).alias("bucket_epoch"))
        .agg(
            F.sum("new_count").alias("total_new_count"),
            F.sum("new_cars").alias("total_new_cars"),
            F.sum("new_motors").alias("total_new_motors"),
        )
    )
    return (
        spine.join(F.broadcast(agg), "bucket_epoch", "left")
        .select(
            "bucket_epoch",
            F.timestamp_seconds("bucket_epoch").alias("bucket_ts"),
            F.date_format(F.timestamp_seconds("bucket_epoch"), label_fmt).alias("label"),
            F.coalesce("total_new_count", F.lit(0)).cast("long").alias("total_new_count"),
            F.coalesce("total_new_cars", F.lit(0)).cast("long").alias("total_new_cars"),
            F.coalesce("total_new_motors", F.lit(0)).cast("long").alias("total_new_motors"),
        )
        .orderBy("bucket_epoch")
    )


def _dense_oracle(start: int, end: int, interval_s: int, label_fmt: str) -> str:
    return with_traffic(f"""
, spine AS (
  SELECT CAST(g AS BIGINT) AS bucket_epoch
  FROM (SELECT unnest(generate_series({start}, {end - 1}, {interval_s})) AS g)
),
agg AS (
  SELECT CAST(FLOOR(epoch_us(ts) // 1000000 / {interval_s}) * {interval_s} AS BIGINT) AS bucket_epoch,
         CAST(SUM(new_count) AS BIGINT) AS total_new_count,
         CAST(SUM(new_cars) AS BIGINT) AS total_new_cars,
         CAST(SUM(new_motors) AS BIGINT) AS total_new_motors
  FROM traffic
  WHERE ts >= make_timestamp(CAST({start} AS BIGINT) * 1000000)
    AND ts < make_timestamp(CAST({end} AS BIGINT) * 1000000)
  GROUP BY 1
)
SELECT s.bucket_epoch,
       make_timestamp(s.bucket_epoch * 1000000) AS bucket_ts,
       strftime(make_timestamp(s.bucket_epoch * 1000000), '{label_fmt}') AS label,
       COALESCE(a.total_new_count, 0) AS total_new_count,
       COALESCE(a.total_new_cars, 0) AS total_new_cars,
       COALESCE(a.total_new_motors, 0) AS total_new_motors
FROM spine s LEFT JOIN agg a ON a.bucket_epoch = s.bucket_epoch
ORDER BY s.bucket_epoch
""")


# Custom-day view (reference app/utils.py:571-612): midnight-aligned
# 24×1h buckets for one specific day. NOW is exactly midnight in the
# testdata, so "the day being inspected" is the previous full day.
DAY_ALIGNED_START = NOW_EPOCH - (NOW_EPOCH % 86400) - 86400


@register(oracle=_dense_oracle(DAY_ALIGNED_START, DAY_ALIGNED_START + 86400, 3600, "%H:%M"))
def q_bucket_series_day_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-day chart (reference app/utils.py:571-612): start_ts
    aligned to 00:00 of its day, 24 one-hour buckets, zero-filled,
    %H:%M labels; events outside [00:00, 24:00) excluded. Also covers
    the reference's midnight-aligned special-case for period=24h
    (app/utils.py:651-656)."""
    return _dense_series(
        spark, sf_dir, DAY_ALIGNED_START, DAY_ALIGNED_START + 86400, 3600, "HH:mm"
    )


@register(
    oracle=_dense_oracle(
        NOW_EPOCH - DENSE_PERIODS["7d"][0], NOW_EPOCH, DENSE_PERIODS["7d"][1], "%A, %d %b"
    ),
)
def q_bucket_series_7d_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 7d chart: one point per day with the reference's FULL
    weekday labels 'Monday, 25 Jan' (app/utils.py:619-622,
    time_format='%A, %d %b')."""
    span_s, interval_s, fmt, _ = DENSE_PERIODS["7d"]
    return _dense_series(spark, sf_dir, NOW_EPOCH - span_s, NOW_EPOCH, interval_s, fmt)


@register(
    oracle=_dense_oracle(
        NOW_EPOCH - DENSE_PERIODS["30d"][0], NOW_EPOCH, DENSE_PERIODS["30d"][1], "%a, %d %b"
    ),
)
def q_bucket_series_30d_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 30d chart: one point per day with the reference's short
    weekday labels 'Mon, 25 Jan' (app/utils.py:615-618,
    time_format='%a, %d %b')."""
    span_s, interval_s, fmt, _ = DENSE_PERIODS["30d"]
    return _dense_series(spark, sf_dir, NOW_EPOCH - span_s, NOW_EPOCH, interval_s, fmt)


SESSION_GAP_S = 1800


@register(
    oracle=with_traffic(f"""
, seq AS (
  SELECT camera_id, ts, id, new_count,
         CASE WHEN epoch_us(ts) // 1000000
                   - epoch_us(LAG(ts) OVER (PARTITION BY camera_id ORDER BY ts, id)) // 1000000
                   > {SESSION_GAP_S}
              OR LAG(ts) OVER (PARTITION BY camera_id ORDER BY ts, id) IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM traffic
),
sess AS (
  SELECT camera_id, ts, id, new_count,
         CAST(SUM(is_new_session) OVER (PARTITION BY camera_id ORDER BY ts, id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM seq
)
SELECT camera_id, session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(new_count) AS BIGINT) AS session_total
FROM sess
GROUP BY camera_id, session_id
ORDER BY camera_id, session_id
"""),
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap > 30 min starts a new session (lag +
    running count). The reference has no session concept (SURVEY.md
    §2.9 St6) — included to round out the window surface; the
    streaming twin is streaming/windows.py session_window()."""
    from pyspark.sql import Window

    from ..compat import epoch_s

    w = Window.partitionBy("camera_id").orderBy("ts", "id")
    h = traffic_history(spark, sf_dir)
    seq = h.withColumn(
        "is_new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((epoch_s("ts") - epoch_s(F.lag("ts").over(w))) > SESSION_GAP_S),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = seq.withColumn(
        "session_id",
        F.sum("is_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return (
        sess.groupBy("camera_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("new_count").alias("session_total"),
        )
        .orderBy("camera_id", "session_id")
    )


# ------------------------------------------ exponential smoothing (SES)

SES_ALPHA = 0.3


@register(
    oracle=with_traffic(f"""
, daily AS (
  SELECT camera_id, CAST(ts AS DATE) AS d, CAST(SUM(new_count) AS DOUBLE) AS y
  FROM traffic GROUP BY 1, 2
), arr AS (
  SELECT camera_id, list(y ORDER BY d) AS ys FROM daily GROUP BY camera_id
)
SELECT camera_id, CAST(len(ys) AS BIGINT) AS n_days,
       ROUND(list_reduce(ys, (acc, x) ->
         x * CAST({SES_ALPHA} AS DOUBLE)
           + acc * (CAST(1.0 AS DOUBLE) - CAST({SES_ALPHA} AS DOUBLE))), 6)
         AS forecast_next
FROM arr ORDER BY camera_id
"""),
)
def q_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-camera simple exponential smoothing (α = 0.3, SES_ALPHA) over
    the daily totals — an inherently SEQUENTIAL per-key recurrence
    (level' = α·y + (1-α)·level) expressed as a higher-order
    ``aggregate`` fold over the date-sorted array: one shuffle to
    build the per-camera series, the recurrence runs in-row, no
    iteration driver-side (contrast q_dedup_clusters, whose recurrence
    is over the whole GRAPH and must iterate in rounds).

    Cross-engine exactness: both engines left-fold the identical
    double expression over the identical ordering, so every bit
    matches (hash-checked). State is deliberately SCALAR: DuckDB's
    struct-typed ``list_reduce`` evaluates struct fields
    non-atomically (found empirically — a Holt level+trend state
    diverges), so multi-component state is not oracle-safe."""
    h = traffic_history(spark, sf_dir)
    daily = h.groupBy("camera_id", F.to_date("ts").alias("d")).agg(
        F.sum("new_count").cast("double").alias("y")
    )
    arr = daily.groupBy("camera_id").agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("srt")
    )
    ys = F.transform("srt", lambda s: s["y"])
    level = F.aggregate(
        F.slice(ys, 2, F.greatest(F.size(ys) - 1, F.lit(0))),
        F.element_at(ys, 1),
        lambda acc, x: x * SES_ALPHA + acc * (1.0 - SES_ALPHA),
    )
    return arr.select(
        "camera_id",
        F.size("srt").cast("long").alias("n_days"),
        F.round(level, 6).alias("forecast_next"),
    ).orderBy("camera_id")


HOLT_BETA = 0.1


@register(
    oracle=f"""
WITH RECURSIVE {TRAFFIC_CTE},
daily AS (
  SELECT camera_id, CAST(ts AS DATE) AS d, CAST(SUM(new_count) AS DOUBLE) AS y
  FROM traffic GROUP BY 1, 2
),
seq AS (
  SELECT camera_id, y,
         ROW_NUMBER() OVER (PARTITION BY camera_id ORDER BY d) AS i,
         COUNT(*) OVER (PARTITION BY camera_id) AS n
  FROM daily
),
rec AS (
  SELECT camera_id, i, n, y AS level, CAST(0.0 AS DOUBLE) AS trend
  FROM seq WHERE i = 1
  UNION ALL
  SELECT s.camera_id, s.i, s.n,
         s.y * CAST({SES_ALPHA} AS DOUBLE)
           + (r.level + r.trend)
             * (CAST(1.0 AS DOUBLE) - CAST({SES_ALPHA} AS DOUBLE)) AS level,
         ((s.y * CAST({SES_ALPHA} AS DOUBLE)
             + (r.level + r.trend)
               * (CAST(1.0 AS DOUBLE) - CAST({SES_ALPHA} AS DOUBLE)))
            - r.level) * CAST({HOLT_BETA} AS DOUBLE)
           + r.trend * (CAST(1.0 AS DOUBLE) - CAST({HOLT_BETA} AS DOUBLE)) AS trend
  FROM rec r JOIN seq s ON s.camera_id = r.camera_id AND s.i = r.i + 1
)
SELECT camera_id, CAST(n AS BIGINT) AS n_days,
       ROUND(level, 6) AS level, ROUND(trend, 6) AS trend,
       ROUND(level + trend, 6) AS forecast_next
FROM rec WHERE i = n
ORDER BY camera_id
""",
)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing per camera: (level, trend) state
    folded over the date-sorted daily series, forecast = level + trend.
    Same in-row higher-order fold as q_ses_forecast, but the state is a
    STRUCT — which DuckDB's ``list_reduce`` cannot fold atomically (see
    q_ses_forecast docstring), so the oracle instead walks the same
    recurrence with a RECURSIVE CTE whose (level, trend) are two plain
    DOUBLE columns advanced one step per iteration: every IEEE op runs
    in the same order over the same operands, so the engines stay
    bit-identical (the new_level subexpression inlined into the trend
    update is the identical expression text — IEEE determinism makes
    re-evaluation exact). Recursion depth = days in the series, not
    data size. Also pinned against a plain-Python reference recurrence
    in tests/test_llm_ops.py."""
    h = traffic_history(spark, sf_dir)
    daily = h.groupBy("camera_id", F.to_date("ts").alias("d")).agg(
        F.sum("new_count").cast("double").alias("y")
    )
    arr = daily.groupBy("camera_id").agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("srt")
    )
    ys = F.transform("srt", lambda s: s["y"])

    def step(acc, x):
        new_level = x * SES_ALPHA + (acc["level"] + acc["trend"]) * (1.0 - SES_ALPHA)
        return F.struct(
            new_level.alias("level"),
            ((new_level - acc["level"]) * HOLT_BETA + acc["trend"] * (1.0 - HOLT_BETA)).alias(
                "trend"
            ),
        )

    state = F.aggregate(
        F.slice(ys, 2, F.greatest(F.size(ys) - 1, F.lit(0))),
        F.struct(F.element_at(ys, 1).alias("level"), F.lit(0.0).alias("trend")),
        step,
    )
    return arr.select(
        "camera_id",
        F.size("srt").cast("long").alias("n_days"),
        F.round(state["level"], 6).alias("level"),
        F.round(state["trend"], 6).alias("trend"),
        F.round(state["level"] + state["trend"], 6).alias("forecast_next"),
    ).orderBy("camera_id")


@register(
    oracle=with_traffic("""
, hourly AS (
  SELECT camera_id, CAST(ts AS DATE) AS d,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
         CAST(SUM(new_count) AS BIGINT) AS v
  FROM traffic GROUP BY 1, 2, 3
)
SELECT camera_id, strftime(d, '%Y-%m-%d') AS d, hour, v,
       v - LAG(v) OVER w AS dod_change,
       CASE WHEN LAG(v) OVER w > 0
            THEN CAST(FLOOR(CAST((v - LAG(v) OVER w) * 10000 AS DOUBLE)
                            / LAG(v) OVER w) AS BIGINT)
            END AS dod_change_bp,
       CAST(strftime(LAG(d) OVER w, '%Y-%m-%d') = strftime(d - INTERVAL 1 DAY, '%Y-%m-%d') AS INT)
         AS is_consecutive
FROM hourly
WINDOW w AS (PARTITION BY camera_id, hour ORDER BY d)
ORDER BY camera_id, d, hour
"""),
)
def q_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day comparison: each (camera, day, hour) cell against
    the SAME HOUR one observation back — the dashboard "vs yesterday"
    metric, computed as a lag window over (camera, hour) ordered by
    day, so the whole comparison needs NO self-join (the naive form
    joins the table to itself shifted by a day — twice the scan, one
    extra shuffle). Change ships as exact basis points (floor), and a
    flag marks whether the previous observation really was yesterday
    (gaps make it older). One (camera, day, hour) aggregate + one
    window on (camera, hour) — the same high-cardinality family.
    """
    h = (
        traffic_history(spark, sf_dir)
        .groupBy(
            "camera_id",
            F.to_date("ts").alias("dd"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(F.sum("new_count").cast("long").alias("v"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("camera_id", "hour").orderBy("dd")
    prev_v = F.lag("v").over(w)
    prev_d = F.lag("dd").over(w)
    return h.select(
        "camera_id",
        F.date_format("dd", "yyyy-MM-dd").alias("d"),
        "hour",
        "v",
        (F.col("v") - prev_v).alias("dod_change"),
        F.when(prev_v > 0, F.floor((F.col("v") - prev_v) * 10000 / prev_v).cast("long")).alias(
            "dod_change_bp"
        ),
        (prev_d == F.date_sub("dd", 1)).cast("int").alias("is_consecutive"),
    )  # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)


@register(
    oracle=with_traffic("""
, daily AS (
  SELECT camera_id, CAST(ts AS DATE) AS d, CAST(SUM(new_count) AS BIGINT) AS y
  FROM traffic GROUP BY 1, 2
),
z AS (
  SELECT camera_id, d, y,
         CAST(COUNT(*) OVER (PARTITION BY camera_id) AS BIGINT) AS n,
         CAST(SUM(y) OVER (PARTITION BY camera_id) AS BIGINT) AS s
  FROM daily
),
pre AS (
  SELECT camera_id, d, n, s,
         SUM(10 * n * y - 13 * s) OVER (
           PARTITION BY camera_id ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
  FROM z
),
cus AS (
  SELECT camera_id, d, n, s,
         CAST(prefix - LEAST(CAST(0 AS BIGINT),
           MIN(prefix) OVER (PARTITION BY camera_id ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS BIGINT) AS cusum_scaled
  FROM pre
)
SELECT camera_id,
       CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(MAX(cusum_scaled) AS BIGINT) AS max_cusum_scaled,
       CAST(MAX(s) * 30 AS BIGINT) AS threshold_scaled,
       CAST(MAX(cusum_scaled) > MAX(s) * 30 AS INT) AS is_breach,
       MIN(CASE WHEN cusum_scaled > s * 30 THEN strftime(d, '%Y-%m-%d') END)
         AS first_breach_day
FROM cus
GROUP BY camera_id
ORDER BY camera_id
"""),
)
def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection over each camera's daily
    series (has sustained volume DRIFTED above baseline, vs
    q_anomaly_zscore's single-point spikes). The textbook recurrence
    S_t = max(0, S_{t-1} + (y_t − μ − k)) is sequential — but the
    drawdown identity S_t = prefix_t − min(0, min_{j≤t} prefix_j)
    turns it into two stacked windows (prefix sum + running min), so
    the detector is pure windowed SQL: no fold, no struct state, no
    driver iteration (contrast q_ses_forecast's in-row fold).

    Exactness: μ = s/n, slack k = 0.3μ and threshold h = 3μ never
    materialize as doubles — the residual is scaled by 10n
    (z' = 10·n·y − 13·s, h' = 30·s), so every window value is an
    exact BIGINT (parameters tuned so the detector separates: 36/150
    cameras breach at sf0.01, not all or none).
    One (camera, day) aggregate + windows on camera — one shuffle
    family, ≤ days rows per partition.
    """
    from pyspark.sql import Window

    h = traffic_history(spark, sf_dir)
    daily = h.groupBy("camera_id", F.to_date("ts").alias("d")).agg(
        F.sum("new_count").cast("long").alias("y")
    )
    wp = Window.partitionBy("camera_id")
    z = daily.select(
        "camera_id",
        "d",
        "y",
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
        F.sum("y").over(wp).cast("long").alias("s"),
    )
    wo = (
        Window.partitionBy("camera_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = z.select(
        "camera_id",
        "d",
        "n",
        "s",
        F.sum(10 * F.col("n") * F.col("y") - 13 * F.col("s")).over(wo).alias("prefix"),
    )
    cus = pre.select(
        "camera_id",
        "d",
        "n",
        "s",
        (F.col("prefix") - F.least(F.lit(0).cast("long"), F.min("prefix").over(wo)))
        .cast("long")
        .alias("cusum_scaled"),
    )
    return (
        cus.groupBy("camera_id")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            F.max("cusum_scaled").cast("long").alias("max_cusum_scaled"),
            (F.max("s") * 30).cast("long").alias("threshold_scaled"),
            (F.max("cusum_scaled") > F.max("s") * 30).cast("int").alias("is_breach"),
            F.min(
                F.when(
                    F.col("cusum_scaled") > F.col("s") * 30,
                    F.date_format("d", "yyyy-MM-dd"),
                )
            ).alias("first_breach_day"),
        )
        .orderBy("camera_id")
    )


@register(
    oracle=with_traffic("""
, daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(SUM(new_count) AS BIGINT) AS y,
         CAST(dayofweek(CAST(ts AS DATE)) AS INT) AS dow
  FROM traffic GROUP BY 1, 3
),
tr AS (
  SELECT d, y, dow,
         SUM(y) OVER w AS trend7,
         COUNT(*) OVER w AS w_n
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
interior AS (
  SELECT d, y, dow,
         CAST(trend7 AS BIGINT) AS trend7,
         CAST(7 * y - trend7 AS BIGINT) AS detr_scaled
  FROM tr WHERE w_n = 7
),
seas AS (
  SELECT dow, CAST(SUM(detr_scaled) AS BIGINT) AS s_sum, COUNT(*) AS c_d
  FROM interior GROUP BY dow
)
SELECT strftime(i.d, '%Y-%m-%d') AS d, i.y, i.dow,
       CAST(i.trend7 AS DOUBLE) / 7 AS trend,
       CAST(s.s_sum AS DOUBLE) / (7 * CAST(s.c_d AS DOUBLE)) AS seasonal,
       i.y - CAST(i.trend7 AS DOUBLE) / 7
           - CAST(s.s_sum AS DOUBLE) / (7 * CAST(s.c_d AS DOUBLE)) AS remainder
FROM interior i JOIN seas s ON s.dow = i.dow
ORDER BY d
"""),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the global daily series
    (STL-lite): trend = centered 7-day moving average (interior days
    only), weekly seasonal = per-weekday mean of the detrended values,
    remainder = the rest. Every aggregate runs on SCALED integers
    (detrended' = 7·y − Σ₇y), so the three output components are each
    ONE fixed double expression over exact ints — partition-proof.

    The global series is calendar-sized (days), so the unpartitioned
    centered window and the 7-row seasonal table are dimension work;
    only the daily aggregate touches facts (one shuffle). A per-camera
    variant partitions every window by camera_id with the same
    algebra.
    """
    from pyspark.sql import Window

    from ..compat import dow0

    h = traffic_history(spark, sf_dir)
    daily = h.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum("new_count").cast("long").alias("y")
    )
    daily = daily.withColumn("dow", dow0(F.col("d").cast("timestamp")))
    # calendar-bounded frame (one row per DAY): a single window
    # partition is correct by design (see compat.constant_key)
    w = (
        Window.partitionBy(constant_key(F.year("d")))
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "d",
        "y",
        "dow",
        F.sum("y").over(w).cast("long").alias("trend7"),
        F.count(F.lit(1)).over(w).alias("w_n"),
    )
    interior = tr.filter(F.col("w_n") == 7).select(
        "d", "y", "dow", "trend7", (7 * F.col("y") - F.col("trend7")).cast("long").alias("detr_scaled")
    )
    seas = interior.groupBy("dow").agg(
        F.sum("detr_scaled").cast("long").alias("s_sum"), F.count(F.lit(1)).alias("c_d")
    )
    trend = F.col("trend7").cast("double") / 7
    seasonal = F.col("s_sum").cast("double") / (7 * F.col("c_d").cast("double"))
    return (
        interior.join(F.broadcast(seas), "dow")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "y",
            "dow",
            trend.alias("trend"),
            seasonal.alias("seasonal"),
            (F.col("y") - trend - seasonal).alias("remainder"),
        )
        .orderBy("d")
    )


# Time-decayed trending: 1-day half-life over a bounded lookback, so
# the per-row weight 2^(window-1-age) stays exact int64.
TREND_DAYS = 14
TREND_TOP = 25


@register(
    oracle=with_traffic(f"""
, rows_w AS (
  SELECT camera_id, new_count,
         ({NOW_EPOCH} - epoch_us(ts) // 1000000) // 86400 AS age
  FROM traffic
  -- the window's FIRST second is excluded: an event there floors to
  -- age = TREND_DAYS, whose shift amount would be -1 (both engines
  -- fault on negative shifts); ages run 0..TREND_DAYS-1 exactly
  WHERE ts >= make_timestamp(CAST({NOW_EPOCH - TREND_DAYS * 86400 + 1}
                             AS BIGINT) * 1000000)
)
SELECT camera_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT age) AS BIGINT) AS n_days,
       CAST(SUM(new_count) AS BIGINT) AS total_count,
       CAST(SUM(new_count * (1::BIGINT << CAST({TREND_DAYS} - 1 - age AS INT)))
            AS BIGINT) AS decay_score
FROM rows_w
GROUP BY camera_id
ORDER BY decay_score DESC, camera_id
LIMIT {TREND_TOP}
"""),
)
def q_trending_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed trending ranking — the feed/leaderboard operator:
    each observation contributes its count weighted by 2^(−age_days)
    (a one-day half-life), so yesterday counts double tomorrow's
    nothing and a recently-busy camera outranks a historically-busy
    one. The weight is computed as an int64 SHIFT against the window
    bound (2^(TREND_DAYS−1−age)) — exact integer arithmetic, no
    pow() floats — which is what makes a decayed score hash-checkable
    at all; dividing by 2^(TREND_DAYS−1) recovers the conventional
    half-life units downstream.

    Scale shape: the lookback predicate pushes to the scan; ONE
    conditional aggregation (weight computed per row map-side) reduces
    the window to |cameras| rows; top movers plan as
    TakeOrderedAndProject. Decayed scores are also mergeable across
    partitions (weighted sums add) — the same property the zone-map /
    MV maintenance operators exploit."""
    from ..compat import epoch_s

    h = traffic_history(spark, sf_dir)
    # start+1s: the boundary second would floor to age TREND_DAYS and a
    # NEGATIVE shift (Spark masks shiftleft(1,-1) to 2^63 then ANSI-
    # overflows; DuckDB rejects the shift) — ages are 0..TREND_DAYS-1
    start = F.timestamp_seconds(F.lit(NOW_EPOCH - TREND_DAYS * 86400 + 1))
    age = F.call_function(
        "div", F.lit(NOW_EPOCH) - epoch_s("ts"), F.lit(86400)
    )
    weight = F.call_function(
        "shiftleft",
        F.lit(1).cast("long"),
        (F.lit(TREND_DAYS) - 1 - age).cast("int"),
    )
    return (
        h.filter(F.col("ts") >= start)
        .select("camera_id", "new_count", age.alias("age"), weight.alias("w"))
        .groupBy("camera_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("age").cast("long").alias("n_days"),
            F.sum("new_count").cast("long").alias("total_count"),
            F.sum(F.col("new_count") * F.col("w")).cast("long").alias(
                "decay_score"
            ),
        )
        .orderBy(F.desc("decay_score"), "camera_id")
        .limit(TREND_TOP)
    )
