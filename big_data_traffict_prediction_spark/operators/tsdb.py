"""Hypertable-style time-series analytics (beyond the reference surface).

The reference's charts are plain tumbling-bucket sums (SURVEY.md §2.4
A9/A10). A time-series *engine* serving the same fact table at 100 TB
needs the operator family TimescaleDB/Prometheus users reach for next:
time-weighted averages over irregular samples, gap filling (LOCF and
linear interpolation), OHLC candles, finite-difference deltas/rates, a
cold-rollup + hot-raw serving union, and heavy-hitter extraction.
Each is one or two shuffles on (camera_id[, bucket]) — high-cardinality
keys first, no driver-side loops, every aggregate exact-integer so the
DuckDB oracle hash-matches bit-for-bit (compat.py rules).

All operate on the trailing windows ending at the pinned NOW
(compat.NOW_EPOCH) like every other trailing query in the repo.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import NOW_EPOCH, bucket_epoch, epoch_s, fixed_point, md5_hash, md5_hash_sql
from ..registry import register
from ..tables import traffic_history, with_traffic

TWA_SPAN_S = 7 * 86400
TWA_SCALE = 10_000

# Day-aligned previous full day (same instant as timeseries.py's
# custom-day chart): NOW is midnight in the testdata.
DAY_START = NOW_EPOCH - (NOW_EPOCH % 86400) - 86400


@register(
    oracle=with_traffic(f"""
, f AS (
  SELECT camera_id, id, ts,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS e,
         CAST(FLOOR(value * {TWA_SCALE}) AS BIGINT) AS v_fp
  FROM traffic
  WHERE ts >= make_timestamp(CAST({NOW_EPOCH - TWA_SPAN_S} AS BIGINT) * 1000000)
),
wgt AS (
  SELECT camera_id, v_fp,
         COALESCE(LEAD(e) OVER (PARTITION BY camera_id ORDER BY ts, id),
                  {NOW_EPOCH}) - e AS w_s
  FROM f
)
SELECT camera_id,
       COUNT(*) AS n_samples,
       CAST(SUM(w_s) AS BIGINT) AS covered_s,
       ROUND(CAST(SUM(v_fp * w_s) AS DOUBLE)
             / ({TWA_SCALE} * CAST(SUM(w_s) AS DOUBLE)), 6) AS twa
FROM wgt
GROUP BY camera_id
ORDER BY camera_id
"""),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the density gauge over the trailing 7
    days, LOCF weighting: each sample holds until the next sample (or
    NOW), so irregular sampling doesn't bias the mean toward busy
    periods — the aggregate a plain AVG gets wrong on event streams.

    One window pass per camera (lead) + one grouped aggregate; weights
    are integer seconds and values fixed-point ints, so the single
    final division is the only floating-point op (bit-exact cross
    engine). At 100 TB both the window and the groupBy partition on
    camera_id — high cardinality, one shuffle total.
    """
    h = traffic_history(spark, sf_dir)
    start = NOW_EPOCH - TWA_SPAN_S
    f = h.filter(F.col("ts") >= F.timestamp_seconds(F.lit(start))).select(
        "camera_id",
        "id",
        "ts",
        epoch_s("ts").alias("e"),
        fixed_point("value", TWA_SCALE).alias("v_fp"),
    )
    w = Window.partitionBy("camera_id").orderBy("ts", "id")
    wgt = f.select(
        "camera_id",
        "v_fp",
        (F.coalesce(F.lead("e").over(w), F.lit(NOW_EPOCH)) - F.col("e")).alias("w_s"),
    )
    return (
        wgt.groupBy("camera_id")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("w_s").cast("long").alias("covered_s"),
            F.round(
                F.sum(F.col("v_fp") * F.col("w_s")).cast("double")
                / (F.lit(TWA_SCALE) * F.sum("w_s").cast("double")),
                6,
            ).alias("twa"),
        )
        .orderBy("camera_id")
    )


OHLC_SPAN_S = 86400
OHLC_INTERVAL_S = 3600


@register(
    oracle=with_traffic(f"""
, f AS (
  SELECT camera_id, id, ts, value,
         CAST(FLOOR(epoch_us(ts) // 1000000 / {OHLC_INTERVAL_S}) * {OHLC_INTERVAL_S} AS BIGINT)
           AS bucket_epoch
  FROM traffic
  WHERE ts >= make_timestamp(CAST({NOW_EPOCH - OHLC_SPAN_S} AS BIGINT) * 1000000)
),
seq AS (
  SELECT camera_id, bucket_epoch, value,
         first_value(value) OVER (PARTITION BY camera_id, bucket_epoch
                                  ORDER BY ts, id) AS o,
         first_value(value) OVER (PARTITION BY camera_id, bucket_epoch
                                  ORDER BY ts DESC, id DESC) AS c
  FROM f
)
SELECT camera_id, bucket_epoch,
       MIN(o) AS open, MAX(value) AS high, MIN(value) AS low, MIN(c) AS close,
       COUNT(*) AS n_samples
FROM seq
GROUP BY camera_id, bucket_epoch
ORDER BY camera_id, bucket_epoch
"""),
)
def q_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-camera hourly OHLC candles of the density gauge over the
    trailing 24 h — the downsampling shape every charting stack asks a
    time-series store for. Open/close are ORDER-based picks, not
    aggregates of doubles, so they hash exactly.

    Spark side: one grouped aggregate; open/close via lexicographic
    struct min/max on (ts, id, value) — no window, no self-join, one
    shuffle on the high-cardinality (camera, bucket) key. The oracle
    reproduces the same picks with first_value windows.
    """
    h = traffic_history(spark, sf_dir)
    start = NOW_EPOCH - OHLC_SPAN_S
    f = h.filter(F.col("ts") >= F.timestamp_seconds(F.lit(start))).select(
        "camera_id",
        "id",
        "ts",
        "value",
        bucket_epoch("ts", OHLC_INTERVAL_S).alias("bucket_epoch"),
    )
    return (
        f.groupBy("camera_id", "bucket_epoch")
        .agg(
            F.min(F.struct("ts", "id", "value"))["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "id", "value"))["value"].alias("close"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .orderBy("camera_id", "bucket_epoch")
    )


def _gap_fill_base(spark: SparkSession, sf_dir: str):
    """Shared spine-join for the gap-fill family: distinct cameras ×
    24 hourly buckets of the previous full day, left-joined with the
    bucket totals. Only the 24-row bucket table carries a broadcast
    hint; the aggregated side is (cameras × 24) rows — it GROWS with
    the fleet, so it joins on the (camera, bucket) key without a hint
    and AQE broadcasts only while the measured size allows."""
    h = traffic_history(spark, sf_dir)
    cams = h.select("camera_id").distinct()
    buckets = spark.range(0, 24).select(
        (F.lit(DAY_START) + F.col("id") * 3600).cast("long").alias("bucket_epoch")
    )
    spine = cams.crossJoin(F.broadcast(buckets))
    agg = (
        h.filter(
            (F.col("ts") >= F.timestamp_seconds(F.lit(DAY_START)))
            & (F.col("ts") < F.timestamp_seconds(F.lit(DAY_START + 86400)))
        )
        .groupBy("camera_id", bucket_epoch("ts", 3600).alias("bucket_epoch"))
        .agg(F.sum("new_count").alias("total"))
    )
    return spine.join(agg, ["camera_id", "bucket_epoch"], "left")


_GAP_FILL_ORACLE_BASE = f"""
, spine AS (
  SELECT c.camera_id, CAST(g AS BIGINT) AS bucket_epoch
  FROM (SELECT DISTINCT camera_id FROM traffic) c
  CROSS JOIN (SELECT unnest(generate_series(
    {DAY_START}, {DAY_START + 86400 - 1}, 3600)) AS g)
),
agg AS (
  SELECT camera_id,
         CAST(FLOOR(epoch_us(ts) // 1000000 / 3600) * 3600 AS BIGINT) AS bucket_epoch,
         CAST(SUM(new_count) AS BIGINT) AS total
  FROM traffic
  WHERE ts >= make_timestamp(CAST({DAY_START} AS BIGINT) * 1000000)
    AND ts <  make_timestamp(CAST({DAY_START + 86400} AS BIGINT) * 1000000)
  GROUP BY 1, 2
),
j AS (
  SELECT s.camera_id, s.bucket_epoch, a.total
  FROM spine s LEFT JOIN agg a
    ON a.camera_id = s.camera_id AND a.bucket_epoch = s.bucket_epoch
)
"""


@register(
    oracle=with_traffic(_GAP_FILL_ORACLE_BASE + """
SELECT camera_id, bucket_epoch,
       COALESCE(last_value(total IGNORE NULLS) OVER (
         PARTITION BY camera_id ORDER BY bucket_epoch
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS value_locf,
       CAST(total IS NULL AS INT) AS is_gap
FROM j
ORDER BY camera_id, bucket_epoch
"""),
)
def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling, last-observation-carried-forward: dense per-camera
    hourly spine over the previous full day; empty buckets inherit the
    most recent observed total (leading gaps → 0) and are flagged.
    TimescaleDB's ``locf(time_bucket_gapfill(...))`` shape.

    One (camera, bucket) aggregate shuffle + a per-camera ordered
    window over ≤24 rows; the spine join broadcasts both tiny sides.
    """
    j = _gap_fill_base(spark, sf_dir)
    w = (
        Window.partitionBy("camera_id")
        .orderBy("bucket_epoch")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "camera_id",
        "bucket_epoch",
        F.coalesce(F.last("total", ignorenulls=True).over(w), F.lit(0))
        .cast("long")
        .alias("value_locf"),
        F.col("total").isNull().cast("int").alias("is_gap"),
    )  # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)


@register(
    oracle=with_traffic(_GAP_FILL_ORACLE_BASE + """
, marked AS (
  SELECT camera_id, bucket_epoch, total,
         last_value(total IGNORE NULLS) OVER (
           PARTITION BY camera_id ORDER BY bucket_epoch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN total IS NOT NULL THEN bucket_epoch END IGNORE NULLS)
           OVER (PARTITION BY camera_id ORDER BY bucket_epoch
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
         first_value(total IGNORE NULLS) OVER (
           PARTITION BY camera_id ORDER BY bucket_epoch
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN total IS NOT NULL THEN bucket_epoch END IGNORE NULLS)
           OVER (PARTITION BY camera_id ORDER BY bucket_epoch
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
  FROM j
)
SELECT camera_id, bucket_epoch,
       ROUND(CASE
         WHEN total IS NOT NULL THEN CAST(total AS DOUBLE)
         WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
           CAST(prev_v AS DOUBLE)
             + CAST(next_v - prev_v AS DOUBLE)
               * CAST(bucket_epoch - prev_b AS DOUBLE)
               / CAST(next_b - prev_b AS DOUBLE)
         WHEN prev_v IS NOT NULL THEN CAST(prev_v AS DOUBLE)
         WHEN next_v IS NOT NULL THEN CAST(next_v AS DOUBLE)
         ELSE 0.0 END, 6) AS value_interp,
       CAST(total IS NULL AS INT) AS is_gap
FROM marked
ORDER BY camera_id, bucket_epoch
"""),
)
def q_gap_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling, linear interpolation: empty buckets take the value
    linearly interpolated between the nearest observed buckets on each
    side (edges fall back to LOCF/NOCB, fully-empty cameras to 0) —
    TimescaleDB's ``interpolate(time_bucket_gapfill(...))``.

    Two per-camera ordered windows (backward and forward ignore-null
    scans) over the ≤24-row dense series; all interpolation inputs are
    exact integers so the one double expression hashes identically.
    """
    j = _gap_fill_base(spark, sf_dir)
    wb = (
        Window.partitionBy("camera_id")
        .orderBy("bucket_epoch")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("camera_id")
        .orderBy("bucket_epoch")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    non_null_b = F.when(F.col("total").isNotNull(), F.col("bucket_epoch"))
    marked = j.select(
        "camera_id",
        "bucket_epoch",
        "total",
        F.last("total", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(non_null_b, ignorenulls=True).over(wb).alias("prev_b"),
        F.first("total", ignorenulls=True).over(wf).alias("next_v"),
        F.first(non_null_b, ignorenulls=True).over(wf).alias("next_b"),
    )
    interp = (
        F.when(F.col("total").isNotNull(), F.col("total").cast("double"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v").cast("double")
            + (F.col("next_v") - F.col("prev_v")).cast("double")
            * (F.col("bucket_epoch") - F.col("prev_b")).cast("double")
            / (F.col("next_b") - F.col("prev_b")).cast("double"),
        )
        .when(F.col("prev_v").isNotNull(), F.col("prev_v").cast("double"))
        .when(F.col("next_v").isNotNull(), F.col("next_v").cast("double"))
        .otherwise(F.lit(0.0))
    )
    return marked.select(
        "camera_id",
        "bucket_epoch",
        F.round(interp, 6).alias("value_interp"),
        F.col("total").isNull().cast("int").alias("is_gap"),
    )  # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)


DELTA_SPAN_S = 86400


@register(
    oracle=with_traffic(f"""
, f AS (
  SELECT camera_id, id, ts, value,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS e,
         CAST(FLOOR(value * {TWA_SCALE}) AS BIGINT) AS v_fp
  FROM traffic
  WHERE ts >= make_timestamp(CAST({NOW_EPOCH - DELTA_SPAN_S} AS BIGINT) * 1000000)
),
d AS (
  SELECT camera_id, id, ts, value,
         v_fp - LAG(v_fp) OVER (PARTITION BY camera_id ORDER BY ts, id) AS d_fp,
         e - LAG(e) OVER (PARTITION BY camera_id ORDER BY ts, id) AS dt_s
  FROM f
)
SELECT camera_id, id, ts, value,
       ROUND(CAST(d_fp AS DOUBLE) / {TWA_SCALE}, 6) AS delta,
       CAST(dt_s AS BIGINT) AS dt_s,
       CASE WHEN dt_s > 0
            THEN ROUND(CAST(d_fp AS DOUBLE) / ({TWA_SCALE} * CAST(dt_s AS DOUBLE)), 6)
            END AS rate_per_s
FROM d
ORDER BY camera_id, ts, id
"""),
)
def q_delta_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-difference series over the trailing 24 h: per-sample
    delta of the density gauge and its per-second rate (Timescale
    ``delta()``/``rate()``; Prometheus ``deriv`` ancestor). First
    sample per camera → NULL delta; dt == 0 (same-second pair) → NULL
    rate rather than a division blow-up.

    One lag window per camera — single shuffle, no join; deltas are
    computed on the fixed-point image so they hash exactly.
    """
    h = traffic_history(spark, sf_dir)
    start = NOW_EPOCH - DELTA_SPAN_S
    f = h.filter(F.col("ts") >= F.timestamp_seconds(F.lit(start))).select(
        "camera_id",
        "id",
        "ts",
        "value",
        epoch_s("ts").alias("e"),
        fixed_point("value", TWA_SCALE).alias("v_fp"),
    )
    w = Window.partitionBy("camera_id").orderBy("ts", "id")
    d = f.select(
        "camera_id",
        "id",
        "ts",
        "value",
        (F.col("v_fp") - F.lag("v_fp").over(w)).alias("d_fp"),
        (F.col("e") - F.lag("e").over(w)).alias("dt_s"),
    )
    return d.select(
        "camera_id",
        "id",
        "ts",
        "value",
        F.round(F.col("d_fp").cast("double") / TWA_SCALE, 6).alias("delta"),
        F.col("dt_s").cast("long").alias("dt_s"),
        F.when(
            F.col("dt_s") > 0,
            F.round(F.col("d_fp").cast("double") / (TWA_SCALE * F.col("dt_s").cast("double")), 6),
        ).alias("rate_per_s"),
    ).orderBy("camera_id", "ts", "id")


ROLLUP_SPAN_S = 30 * 86400
# Cold/hot boundary: day-aligned NOW-7d — older days come from the
# (conceptually materialized) daily rollup, newer from raw facts.
ROLLUP_CUTOFF = NOW_EPOCH - (NOW_EPOCH % 86400) - 7 * 86400


@register(
    oracle=with_traffic(f"""
, cold AS (
  SELECT camera_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
         CAST(SUM(new_count) AS BIGINT) AS total_new_count,
         COUNT(*) AS n_events, 'rollup' AS source_tier
  FROM traffic
  WHERE ts >= make_timestamp(CAST({NOW_EPOCH - ROLLUP_SPAN_S} AS BIGINT) * 1000000)
    AND ts <  make_timestamp(CAST({ROLLUP_CUTOFF} AS BIGINT) * 1000000)
  GROUP BY 1, 2
),
hot AS (
  SELECT camera_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
         CAST(SUM(new_count) AS BIGINT) AS total_new_count,
         COUNT(*) AS n_events, 'raw' AS source_tier
  FROM traffic
  WHERE ts >= make_timestamp(CAST({ROLLUP_CUTOFF} AS BIGINT) * 1000000)
  GROUP BY 1, 2
)
SELECT * FROM cold UNION ALL SELECT * FROM hot
ORDER BY camera_id, d
"""),
)
def q_hybrid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered serving union (continuous-aggregate pattern): the 30-day
    per-camera daily series is answered from a COLD pre-aggregated
    daily rollup for days older than the cutoff and from HOT raw facts
    for the last 7 days, `unionByName`d into one frame. At 100 TB the
    cold branch reads the (cameras × days)-sized rollup table instead
    of re-scanning history — here both branches derive from the fact
    view so the oracle can check the stitched result exactly; the tier
    tag makes the split observable.
    """
    h = traffic_history(spark, sf_dir)

    def daily(df: DataFrame, tier: str) -> DataFrame:
        return df.groupBy(
            "camera_id", F.date_format("ts", "yyyy-MM-dd").alias("d")
        ).agg(
            F.sum("new_count").alias("total_new_count"),
            F.count(F.lit(1)).alias("n_events"),
            F.lit(tier).alias("source_tier"),
        )

    cold = daily(
        h.filter(
            (F.col("ts") >= F.timestamp_seconds(F.lit(NOW_EPOCH - ROLLUP_SPAN_S)))
            & (F.col("ts") < F.timestamp_seconds(F.lit(ROLLUP_CUTOFF)))
        ),
        "rollup",
    )
    hot = daily(
        h.filter(F.col("ts") >= F.timestamp_seconds(F.lit(ROLLUP_CUTOFF))),
        "raw",
    )
    # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)
    return cold.unionByName(hot)


@register(
    oracle=with_traffic("""
, per_cam AS (
  SELECT camera_id,
         CAST(SUM(new_count) AS BIGINT) AS total_new_count,
         COUNT(*) AS n_events
  FROM traffic GROUP BY camera_id
),
tot AS (
  SELECT camera_id, total_new_count, n_events,
         SUM(total_new_count) OVER () AS grand_total,
         COUNT(*) OVER () AS n_cameras
  FROM per_cam
)
SELECT camera_id, total_new_count, n_events,
       ROUND(100.0 * CAST(total_new_count AS DOUBLE)
             / CAST(grand_total AS DOUBLE), 4) AS share_pct
FROM tot
WHERE total_new_count * n_cameras > grand_total
ORDER BY total_new_count DESC, camera_id
"""),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter cameras: those contributing more than the average
    per-camera share of lifetime volume (share > 1/n_cameras — a
    scale-free threshold, no magic constant). One fact shuffle on
    camera_id; the grand total/camera count come from a ONE-ROW scalar
    aggregate broadcast back as a crossJoin (the q15/q11 pattern) —
    the per-camera table scales with the FLEET, so no single-partition
    window pass over it, even an unordered one.
    """
    h = traffic_history(spark, sf_dir)
    per_cam = h.groupBy("camera_id").agg(
        F.sum("new_count").cast("long").alias("total_new_count"),
        F.count(F.lit(1)).alias("n_events"),
    )
    scalar = per_cam.agg(
        F.sum("total_new_count").alias("grand_total"),
        F.count(F.lit(1)).alias("n_cameras"),
    )
    tot = per_cam.crossJoin(F.broadcast(scalar))
    return (
        tot.filter(F.col("total_new_count") * F.col("n_cameras") > F.col("grand_total"))
        .select(
            "camera_id",
            "total_new_count",
            "n_events",
            F.round(
                100.0
                * F.col("total_new_count").cast("double")
                / F.col("grand_total").cast("double"),
                4,
            ).alias("share_pct"),
        )
        .orderBy(F.desc("total_new_count"), "camera_id")
    )


# ------------------------------------------- count-min sketch

CM_DEPTH = 4  # independent hash rows
CM_WIDTH = 512  # buckets per row


def _cm_bucket() -> Column:
    """Count-min cell of the (d, camera_id) row: salted by the depth row."""
    return F.pmod(
        md5_hash(F.concat(F.col("d").cast("string"), F.lit("#"), F.col("camera_id")), 15),
        F.lit(CM_WIDTH),
    )


@register(
    oracle=with_traffic(f"""
, ex AS (
  SELECT camera_id, new_count, d
  FROM traffic, (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS d)
),
sk AS (
  SELECT d,
         {md5_hash_sql("CAST(d AS VARCHAR) || '#' || camera_id", 15)}
           % {CM_WIDTH} AS bucket,
         CAST(SUM(new_count) AS BIGINT) AS cell
  FROM ex GROUP BY 1, 2
),
cams AS (
  SELECT camera_id, CAST(SUM(new_count) AS BIGINT) AS exact_total
  FROM traffic GROUP BY camera_id
),
probe AS (
  SELECT c.camera_id, c.exact_total, g.d,
         {md5_hash_sql("CAST(g.d AS VARCHAR) || '#' || c.camera_id", 15)}
           % {CM_WIDTH} AS bucket
  FROM cams c, (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS d) g
)
SELECT p.camera_id, p.exact_total,
       CAST(MIN(s.cell) AS BIGINT) AS cm_estimate,
       CAST(MIN(s.cell) - p.exact_total AS BIGINT) AS overcount
FROM probe p JOIN sk s ON s.d = p.d AND s.bucket = p.bucket
GROUP BY p.camera_id, p.exact_total
ORDER BY p.camera_id
"""),
)
def q_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation next to the exact answer:
    a {CM_DEPTH}×{CM_WIDTH} counter grid (md5-derived row hashes —
    identical in both engines) estimates each camera's lifetime volume
    as the MIN over its {CM_DEPTH} cells; overcount ≥ 0 always (the
    sketch never underestimates — pinned in tests).

    The 100 TB point: the sketch is FIXED-SIZE regardless of key
    cardinality — the grid aggregate's exchange carries at most
    depth×width rows per task (map-side combine), and the estimate
    probe joins against a broadcast 2k-cell table. The exact_total
    column is the verification twin a production run would drop.
    """
    h = traffic_history(spark, sf_dir)
    d_col = F.explode(F.array(*[F.lit(d) for d in range(CM_DEPTH)])).alias("d")

    ex = h.select("camera_id", "new_count", d_col)
    sk = (
        ex.withColumn("bucket", _cm_bucket())
        .groupBy("d", "bucket")
        .agg(F.sum("new_count").cast("long").alias("cell"))
    )
    cams = h.groupBy("camera_id").agg(
        F.sum("new_count").cast("long").alias("exact_total")
    )
    probe = cams.select("camera_id", "exact_total", d_col).withColumn(
        "bucket", _cm_bucket()
    )
    return (
        probe.join(F.broadcast(sk), ["d", "bucket"])
        .groupBy("camera_id", "exact_total")
        .agg(F.min("cell").cast("long").alias("cm_estimate"))
        .select(
            "camera_id",
            "exact_total",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_total")).cast("long").alias("overcount"),
        )
        .orderBy("camera_id")
    )


# AM-events ⋈ PM-events ON camera_id — the shared join question both
# join-cardinality estimators (CM sketch below, MCV histogram next)
# answer against the same exact witness. SQL + Spark twins.
_SIDES_CTE = """
sides AS (
  SELECT camera_id,
         CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 1 ELSE 0 END AS am,
         CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 0 ELSE 1 END AS pm
  FROM traffic
)
""".strip()

_CM_JOIN_CTES = f"""
grid AS (
  SELECT d,
         {md5_hash_sql("CAST(d AS VARCHAR) || '#' || camera_id", 15)}
           % {CM_WIDTH} AS bucket,
         CAST(SUM(am) AS BIGINT) AS ca,
         CAST(SUM(pm) AS BIGINT) AS cb
  FROM sides, (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS d)
  GROUP BY 1, 2
),
est AS (
  SELECT CAST(MIN(ip) AS BIGINT) AS cm_estimate
  FROM (SELECT d, SUM(ca * cb) AS ip FROM grid GROUP BY d)
)
""".strip()


def am_pm_from(df: DataFrame) -> DataFrame:
    """Per-event AM/PM indicator columns from any frame carrying
    (camera_id, ts) — batch table or the detection stream (the
    streaming twin feeds `read_stream` output through this same
    projection, keeping both estimators in lock-step with _SIDES_CTE).
    """
    return df.select(
        "camera_id",
        F.when(F.hour("ts") < 12, 1).otherwise(0).alias("am"),
        F.when(F.hour("ts") < 12, 0).otherwise(1).alias("pm"),
    )


def am_pm_sides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SIDES_CTE: per-event AM/PM indicator columns."""
    return am_pm_from(traffic_history(spark, sf_dir))


def cm_join_grid(h: DataFrame) -> DataFrame:
    """The CM_DEPTH×CM_WIDTH dual-count grid (d, bucket, ca, cb) from an
    AM/PM sides frame — the MERGEABLE sufficient statistic of the CM
    join-size estimate: cells are plain sums, so grids of data slices
    combine by cell-wise addition (and accumulate as complete-mode
    streaming state — q_stream_join_size_sketch reuses this builder on
    the stream). Works on batch and streaming frames alike: one
    map-side-combined aggregation to 2·CM_DEPTH·CM_WIDTH cells."""
    d_col = F.explode(F.array(*[F.lit(d) for d in range(CM_DEPTH)])).alias("d")
    return (
        h.select("camera_id", "am", "pm", d_col)
        .withColumn("bucket", _cm_bucket())
        .groupBy("d", "bucket")
        .agg(
            F.sum("am").cast("long").alias("ca"),
            F.sum("pm").cast("long").alias("cb"),
        )
    )


def cm_estimate_from_grid(grid: DataFrame) -> DataFrame:
    """One-row (cm_estimate) from a (d, bucket, ca, cb) grid: min over
    depth rows of the per-row inner product Σ_b cellA[b]·cellB[b]."""
    return (
        grid.groupBy("d")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
        .agg(F.min("ip").cast("long").alias("cm_estimate"))
    )


def cm_join_estimate(h: DataFrame) -> DataFrame:
    """One-row (cm_estimate) CM inner-product join-size estimate from
    the AM/PM sides frame — the Spark twin of _CM_JOIN_CTES."""
    return cm_estimate_from_grid(cm_join_grid(h))


# Shared by the batch estimator and its streaming twin
# (q_stream_join_size_sketch): the drained streaming grid equals the
# batch grid cell for cell (counts are additive), so BOTH hash-check
# against this one text — streaming maintenance == batch rebuild.
_JOIN_SKETCH_ORACLE = with_traffic(f"""
, {_SIDES_CTE},
exact AS (
  SELECT CAST(SUM(na * npm) AS BIGINT) AS exact_pairs,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM (
    SELECT camera_id, SUM(am) AS na, SUM(pm) AS npm
    FROM sides GROUP BY camera_id
  )
),
{_CM_JOIN_CTES}
SELECT x.exact_pairs, x.n_keys, e.cm_estimate,
       CAST(e.cm_estimate - x.exact_pairs AS BIGINT) AS overcount,
       CAST((e.cm_estimate - x.exact_pairs) * 1000000 // x.exact_pairs AS BIGINT)
         AS over_ppm
FROM exact x, est e
""")


def cm_sketch_vs_exact(h: DataFrame, est: DataFrame) -> DataFrame:
    """One row (exact_pairs, n_keys, cm_estimate, overcount, over_ppm):
    the exact per-key join size of the AM/PM sides frame ``h`` next to
    a one-row CM ``est`` (however maintained — batch pass or drained
    streaming state). Spark twin of _JOIN_SKETCH_ORACLE's final SELECT.
    """
    per_key = h.groupBy("camera_id").agg(
        F.sum("am").alias("na"), F.sum("pm").alias("npm")
    )
    exact = per_key.agg(
        F.sum(F.col("na") * F.col("npm")).cast("long").alias("exact_pairs"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    over = (F.col("cm_estimate") - F.col("exact_pairs")).cast("long")
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_pairs",
        "n_keys",
        "cm_estimate",
        over.alias("overcount"),
        F.call_function(
            "div", over * F.lit(1_000_000), F.col("exact_pairs")
        ).alias("over_ppm"),
    )


@register(oracle=_JOIN_SKETCH_ORACLE)
def q_join_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation by count-min inner product (the
    AMS / Cormode-Muthukrishnan F2-style estimator every
    cost-based optimizer variant of this uses): how many row pairs
    would `morning-events ⋈ evening-events ON camera_id` produce?
    Each side streams into the SAME CM_DEPTH×CM_WIDTH (4×512) hash grid
    as q_heavy_hitters_sketch; the estimate is min over rows of the
    per-row inner product Σ_b cellA[b]·cellB[b] — never below the
    exact answer (inner-product collisions only ADD), pinned by test
    next to the exact twin a production planner never computes.

    The 100 TB point: the planner question "how big is this join"
    is answered from two FIXED-SIZE (depth×width) grids built in one
    map-side-combined pass per side — no per-key frame, no join, no
    shuffle beyond 2·depth·width cells — while the exact answer
    needs the full per-key count materialization."""
    h = am_pm_sides(spark, sf_dir)
    return cm_sketch_vs_exact(h, cm_join_estimate(h))


# End-biased histogram (most-common-values list) size — PostgreSQL's
# default_statistics_target order of magnitude, scaled to this fleet.
MCV_K = 16


def join_size_estimates(per_key: DataFrame) -> DataFrame:
    """One-row (exact_pairs, n_keys, tot_a, tot_b, est_uniform, est_mcv)
    join-size estimates from a per-key count frame (camera_id, na, npm).

    est_uniform is the zero-statistics System-R estimate tot_a·tot_b/ndv
    (attribute-value uniformity over the key); est_mcv is the END-BIASED
    histogram estimate — the MCV_K most frequent keys kept as exact
    singleton buckets (value, na, npm), the tail assumed uniform — i.e.
    PostgreSQL's eqjoinsel with an MCV list. Factored out of
    q_join_size_histogram so tests can feed a PLANTED skewed per-key
    frame (testdata cameras are near-uniform; see the test)."""
    pk = per_key.localCheckpoint(eager=False)  # referenced by both aggs
    tot = pk.agg(
        F.sum(F.col("na") * F.col("npm")).cast("long").alias("exact_pairs"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("na").cast("long").alias("tot_a"),
        F.sum("npm").cast("long").alias("tot_b"),
    )
    mcv = pk.orderBy(F.desc(F.col("na") + F.col("npm")), "camera_id").limit(MCV_K)
    ms = mcv.agg(
        F.coalesce(F.sum(F.col("na") * F.col("npm")), F.lit(0))
        .cast("long")
        .alias("mcv_pairs"),
        F.coalesce(F.sum("na"), F.lit(0)).cast("long").alias("mcv_a"),
        F.coalesce(F.sum("npm"), F.lit(0)).cast("long").alias("mcv_b"),
        F.count(F.lit(1)).cast("long").alias("mcv_k"),
    )
    est_uniform = F.call_function(
        "div",
        F.col("tot_a") * F.col("tot_b"),
        F.greatest(F.col("n_keys"), F.lit(1)),
    )
    est_mcv = F.col("mcv_pairs") + F.call_function(
        "div",
        (F.col("tot_a") - F.col("mcv_a")) * (F.col("tot_b") - F.col("mcv_b")),
        F.greatest(F.col("n_keys") - F.col("mcv_k"), F.lit(1)),
    )
    return tot.crossJoin(F.broadcast(ms)).select(
        "exact_pairs",
        "n_keys",
        "tot_a",
        "tot_b",
        est_uniform.cast("long").alias("est_uniform"),
        est_mcv.cast("long").alias("est_mcv"),
    )


@register(
    oracle=with_traffic(f"""
, {_SIDES_CTE},
pk AS (
  SELECT camera_id, SUM(am) AS na, SUM(pm) AS npm
  FROM sides GROUP BY camera_id
),
tot AS (
  SELECT CAST(SUM(na * npm) AS BIGINT) AS exact_pairs,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(na) AS BIGINT) AS tot_a,
         CAST(SUM(npm) AS BIGINT) AS tot_b
  FROM pk
),
mcv AS (
  SELECT * FROM pk ORDER BY na + npm DESC, camera_id LIMIT {MCV_K}
),
ms AS (
  SELECT CAST(COALESCE(SUM(na * npm), 0) AS BIGINT) AS mcv_pairs,
         CAST(COALESCE(SUM(na), 0) AS BIGINT) AS mcv_a,
         CAST(COALESCE(SUM(npm), 0) AS BIGINT) AS mcv_b,
         CAST(COUNT(*) AS BIGINT) AS mcv_k
  FROM mcv
),
{_CM_JOIN_CTES},
ests AS (
  SELECT t.exact_pairs, t.n_keys,
         CAST(t.tot_a * t.tot_b // GREATEST(t.n_keys, 1) AS BIGINT)
           AS est_uniform,
         CAST(m.mcv_pairs + (t.tot_a - m.mcv_a) * (t.tot_b - m.mcv_b)
              // GREATEST(t.n_keys - m.mcv_k, 1) AS BIGINT) AS est_mcv,
         e.cm_estimate
  FROM tot t, ms m, est e
)
SELECT exact_pairs, n_keys, est_uniform, est_mcv, cm_estimate,
       CAST(ABS(est_uniform - exact_pairs) * 1000000
            // GREATEST(exact_pairs, 1) AS BIGINT) AS err_uniform_ppm,
       CAST(ABS(est_mcv - exact_pairs) * 1000000
            // GREATEST(exact_pairs, 1) AS BIGINT) AS err_mcv_ppm,
       CAST(ABS(cm_estimate - exact_pairs) * 1000000
            // GREATEST(exact_pairs, 1) AS BIGINT) AS err_cm_ppm
FROM ests
"""),
)
def q_join_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based JOIN-cardinality estimation — the CBO rung the
    r12 single-table estimator ladder (uniform → equi-depth histogram →
    zone sketch, operators/scans.py) was missing: estimate
    |AM-events ⋈ PM-events ON camera_id| from stored statistics, next
    to the CM-sketch estimator (q_join_size_sketch) and the exact
    witness, all in ONE row with an err_ppm per estimator — the same
    three-way honest-comparison discipline as q_selectivity_zone_sketch.

    The histogram estimator is END-BIASED (Ioannidis' optimality
    result: for equality-join size under multiplicative error, the
    histogram worth storing keeps the heaviest values EXACT): the
    MCV_K most frequent keys are singleton buckets joined exactly,
    the remainder assumed uniform — PostgreSQL's eqjoinsel(MCV) +
    uniform-tail formula. A plain equi-depth histogram over a HASHED
    key domain degenerates to est_uniform for equality joins (buckets
    partition keys in hash order, i.e. randomly, so every per-bucket
    product is the uniform product scaled down — only value-ORDER
    locality, which range predicates have and equality keys don't,
    makes bucket products informative); the MCV list is the part of
    the histogram that carries join information, so that is what this
    estimator stores.

    Honest result on this fleet (pinned by test): testdata cameras are
    NEAR-UNIFORM (49–86 rows/camera at sf0.01), so est_uniform is
    already ~800 ppm and the MCV refinement is a wash — while on a
    PLANTED 512×-amplified camera (the AQE skew fixture shape)
    est_uniform collapses to ~1% of the true size and est_mcv stays
    ppm-exact (tests/test_analytics.py::
    test_join_size_mcv_beats_uniform_on_skew). The CM sketch reads
    ~16% high here (collision overcount, never under). That triple is
    the planner guidance: uniform stats suffice until key skew appears,
    then the MCV list is load-bearing and costs only K rows.

    Scale shape: one map-side-combined pass to the per-key frame
    (key-domain-sized — at 100 TB this is ANALYZE's stored output,
    not a query-time scan), a TakeOrderedAndProject top-K off it, one
    CM grid pass (fixed 4×512 cells), then scalar algebra on broadcast
    one-row frames. No reference analog (SURVEY.md §2 notes the engine
    owns its statistics)."""
    h = am_pm_sides(spark, sf_dir)
    per_key = h.groupBy("camera_id").agg(
        F.sum("am").alias("na"), F.sum("pm").alias("npm")
    )
    est = join_size_estimates(per_key).crossJoin(F.broadcast(cm_join_estimate(h)))

    def err_ppm(col: str, tag: str):
        return (
            F.call_function(
                "div",
                F.abs(F.col(col) - F.col("exact_pairs")) * F.lit(1_000_000),
                F.greatest(F.col("exact_pairs"), F.lit(1)),
            )
            .cast("long")
            .alias(f"err_{tag}_ppm")
        )

    return est.select(
        "exact_pairs",
        "n_keys",
        "est_uniform",
        "est_mcv",
        F.col("cm_estimate"),
        err_ppm("est_uniform", "uniform"),
        err_ppm("est_mcv", "mcv"),
        err_ppm("cm_estimate", "cm"),
    )


# Join-order choice demo: a star on lineitem with two filtered dims.
JO_DATE = "1998-01-01 00:00:00"  # keeps ~half the orders
JO_PSIZE = 15  # keeps ~30% of parts


def join_order_rank(lf: DataFrame, of: DataFrame, pf: DataFrame) -> DataFrame:
    """One-row join-order comparison for the star
    ``lf ⋈ of ON l_orderkey  /  lf ⋈ pf ON l_partkey``: the uniform-
    containment estimate |A|·|B| / max(ndv_A(k), ndv_B(k)) of each
    candidate first join, the exact intermediate sizes, err_ppm per
    estimate, and both picks (estimated vs exact cheapest first join,
    ties → orders_first in both engines). Factored from
    q_join_order_rank so tests can feed PLANTED frames — the planted
    skew test shows the uniform estimator mis-ranking orders that the
    exact witness ranks the other way (the case histograms/MCVs exist
    to fix, q_join_size_histogram)."""
    l = lf.localCheckpoint(eager=False)  # sides feed stats AND witnesses
    o = of.localCheckpoint(eager=False)
    p = pf.localCheckpoint(eager=False)
    ls = l.agg(
        F.count(F.lit(1)).cast("long").alias("n_l"),
        F.countDistinct("l_orderkey").cast("long").alias("ndv_lo"),
        F.countDistinct("l_partkey").cast("long").alias("ndv_lp"),
    )
    os_ = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_o"),
        F.countDistinct("o_orderkey").cast("long").alias("ndv_o"),
    )
    ps = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_p"),
        F.countDistinct("p_partkey").cast("long").alias("ndv_p"),
    )
    x1 = l.join(o, l["l_orderkey"] == o["o_orderkey"]).agg(
        F.count(F.lit(1)).cast("long").alias("exact_lo")
    )
    x2 = l.join(p, l["l_partkey"] == p["p_partkey"]).agg(
        F.count(F.lit(1)).cast("long").alias("exact_lp")
    )
    from ..compat import idiv as div
    row = (
        ls.crossJoin(F.broadcast(os_))
        .crossJoin(F.broadcast(ps))
        .crossJoin(F.broadcast(x1))
        .crossJoin(F.broadcast(x2))
    )
    est_lo = div(
        F.col("n_l") * F.col("n_o"),
        F.greatest(F.greatest(F.col("ndv_lo"), F.col("ndv_o")), F.lit(1)),
    ).cast("long")
    est_lp = div(
        F.col("n_l") * F.col("n_p"),
        F.greatest(F.greatest(F.col("ndv_lp"), F.col("ndv_p")), F.lit(1)),
    ).cast("long")

    def err_ppm(est, exact):
        return div(
            F.abs(est - F.col(exact)) * F.lit(1_000_000),
            F.greatest(F.col(exact), F.lit(1)),
        ).cast("long")

    pick = lambda a, b: F.when(a <= b, F.lit("orders_first")).otherwise(  # noqa: E731
        F.lit("part_first")
    )
    return row.select(
        est_lo.alias("est_orders_first"),
        F.col("exact_lo").alias("exact_orders_first"),
        err_ppm(est_lo, "exact_lo").alias("err_orders_ppm"),
        est_lp.alias("est_part_first"),
        F.col("exact_lp").alias("exact_part_first"),
        err_ppm(est_lp, "exact_lp").alias("err_part_ppm"),
        pick(est_lo, est_lp).alias("pick_est"),
        pick(F.col("exact_lo"), F.col("exact_lp")).alias("pick_exact"),
        (pick(est_lo, est_lp) == pick(F.col("exact_lo"), F.col("exact_lp"))).alias(
            "agree"
        ),
    )


@register(
    oracle=f"""
WITH lf AS (SELECT l_orderkey, l_partkey FROM lineitem),
ofo AS (SELECT o_orderkey FROM orders
        WHERE o_orderdate < TIMESTAMP '{JO_DATE}'),
pf AS (SELECT p_partkey FROM part WHERE p_size <= {JO_PSIZE}),
ls AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_l,
              CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv_lo,
              CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv_lp
       FROM lf),
os AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_o,
              CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv_o
       FROM ofo),
ps AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_p,
              CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS ndv_p
       FROM pf),
x1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_lo
       FROM lf JOIN ofo ON l_orderkey = o_orderkey),
x2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_lp
       FROM lf JOIN pf ON l_partkey = p_partkey),
est AS (
  SELECT CAST(n_l * n_o // GREATEST(ndv_lo, ndv_o, 1) AS BIGINT) AS est_lo,
         CAST(n_l * n_p // GREATEST(ndv_lp, ndv_p, 1) AS BIGINT) AS est_lp,
         exact_lo, exact_lp
  FROM ls, os, ps, x1, x2
)
SELECT est_lo AS est_orders_first, exact_lo AS exact_orders_first,
       CAST(ABS(est_lo - exact_lo) * 1000000 // GREATEST(exact_lo, 1)
         AS BIGINT) AS err_orders_ppm,
       est_lp AS est_part_first, exact_lp AS exact_part_first,
       CAST(ABS(est_lp - exact_lp) * 1000000 // GREATEST(exact_lp, 1)
         AS BIGINT) AS err_part_ppm,
       CASE WHEN est_lo <= est_lp THEN 'orders_first'
            ELSE 'part_first' END AS pick_est,
       CASE WHEN exact_lo <= exact_lp THEN 'orders_first'
            ELSE 'part_first' END AS pick_exact,
       (CASE WHEN est_lo <= est_lp THEN 'orders_first'
             ELSE 'part_first' END)
         = (CASE WHEN exact_lo <= exact_lp THEN 'orders_first'
                 ELSE 'part_first' END) AS agree
FROM est
""",
)
def q_join_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-ORDER choice from statistics — the decision the whole CBO
    estimator ladder exists to make: for the star
    ``lineitem ⋈ orders(filtered) / lineitem ⋈ part(filtered)`` there
    are two cross-product-free left-deep orders, and the planner must
    pick which dim to join FIRST so the intermediate stays small. Each
    candidate's first-join size is estimated with the System-R
    uniform-containment formula |A|·|B| / max(ndv_A(k), ndv_B(k)) from
    exactly the statistics ANALYZE stores (side counts + join-key
    NDVs), then ranked next to the EXACT intermediate sizes — one row
    with both picks, an agreement flag, and err_ppm per estimate.
    On this data the filtered part side is ~30% of parts while the
    filtered orders side is ~half of orders, and both estimates land
    within ~2% (unique-ish keys), so est and exact agree on
    part_first; the planted-skew test (tests/test_analytics.py) feeds
    a 512×-amplified part key where the uniform estimate still says
    part_first while the exact witness flips to orders_first — the
    mis-rank that q_join_size_histogram's MCV rung exists to catch.

    Scale shape: statistics are three map-side-combined one-row aggs
    (at 100 TB these are ANALYZE's stored outputs, not query-time
    scans) plus scalar algebra on broadcast one-row frames; the exact
    intermediate counts are test-scale honesty witnesses a production
    planner never computes. Cites reference scope: SURVEY.md §2 notes
    the engine owns its planning statistics."""
    from ..tables import load_table

    lf = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    of = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(JO_DATE).cast("timestamp"))
        .select("o_orderkey")
    )
    pf = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= JO_PSIZE)
        .select("p_partkey")
    )
    return join_order_rank(lf, of, pf)
