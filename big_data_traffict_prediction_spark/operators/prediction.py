"""Traffic prediction — the reference's flagship query surface.

Reference lifecycle (SURVEY.md §3.1): ``POST /api/predict_traffic`` →
per-camera SQLite CTE "avg of per-date hourly sums for a (dow, hour)
slot" (``app/database.py:109-145``), an N+1 loop over all cameras
(``app/routes.py:254-317``), threshold join with per-column defaults
(``app/routes.py:286``), then a CASE ladder producing
status/recommendation/color (``app/routes.py:288-307``).

Spark-first shape: the N+1 loop disappears — ONE plan computes every
camera (and, in ``q_pattern_matrix``, every slot) with a two-level
aggregation that Catalyst executes as partial+final hash aggregates
over a single shuffle on (camera_id, date); the dimension joins are
broadcasts. At 100 TB the only shuffle is the grouped agg, keyed by
(camera_id, d) which is high-cardinality and evenly spread — no hot
key, AQE coalesces the post-agg partitions.

Cross-engine notes: dow is SQLite ``%w`` 0=Sunday semantics
(``compat.dow0``); averages are exact-integer sums divided by counts,
so DuckDB and Spark produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import dow0
from ..registry import register
from ..tables import traffic_history, with_traffic

# The flagship slot: Thursday 18:00 (dense at every SF in testdata).
FLAGSHIP_DOW = 4
FLAGSHIP_HOUR = 18

# Default thresholds applied when a camera has no thresholds row
# (reference app/routes.py:286).
DEFAULT_P50, DEFAULT_P75, DEFAULT_P90 = 100.0, 200.0, 300.0


def _daily_slot_sums(spark: SparkSession, sf_dir: str, dow: int, hour: int) -> DataFrame:
    """Per (camera, date) sum of new_count within one (dow, hour) slot —
    the inner CTE of reference app/database.py:120-133."""
    h = traffic_history(spark, sf_dir)
    return (
        h.filter((dow0("ts") == dow) & (F.hour("ts") == hour))
        .groupBy("camera_id", F.to_date("ts").alias("d"))
        .agg(F.sum("new_count").alias("hourly_total"))
    )


def predict_dow_hour(spark: SparkSession, sf_dir: str, dow: int, hour: int) -> DataFrame:
    """Average hourly volume for a (dow, hour) slot, every camera at
    once (kills the reference's N+1 loop, app/routes.py:272-273)."""
    return (
        _daily_slot_sums(spark, sf_dir, dow, hour)
        .groupBy("camera_id")
        .agg(
            F.avg("hourly_total").alias("avg_hourly_volume"),
            F.count(F.lit(1)).alias("days_observed"),
        )
        .orderBy("camera_id")
    )


@register(
    oracle=with_traffic(f"""
, daily AS (
  SELECT camera_id, CAST(ts AS DATE) AS d,
         CAST(SUM(new_count) AS BIGINT) AS hourly_total
  FROM traffic
  WHERE dayofweek(ts) = {FLAGSHIP_DOW} AND EXTRACT(hour FROM ts) = {FLAGSHIP_HOUR}
  GROUP BY camera_id, CAST(ts AS DATE)
)
SELECT camera_id,
       AVG(hourly_total) AS avg_hourly_volume,
       COUNT(*) AS days_observed
FROM daily
GROUP BY camera_id
ORDER BY camera_id
"""),
)
def q_predict_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: avg-of-daily-sums for the Thursday-18:00 slot
    (reference app/database.py:109-145, SURVEY.md §2.4 A3)."""
    return predict_dow_hour(spark, sf_dir, FLAGSHIP_DOW, FLAGSHIP_HOUR)


@register(
    oracle=with_traffic("""
, daily AS (
  SELECT camera_id,
         dayofweek(ts) AS dow,
         EXTRACT(hour FROM ts) AS hour_of_day,
         CAST(ts AS DATE) AS d,
         CAST(SUM(new_count) AS BIGINT) AS hourly_total
  FROM traffic
  GROUP BY 1, 2, 3, 4
)
SELECT camera_id, dow, hour_of_day,
       AVG(hourly_total) AS avg_hourly_volume,
       COUNT(*) AS days_observed
FROM daily
GROUP BY camera_id, dow, hour_of_day
ORDER BY camera_id, dow, hour_of_day
"""),
)
def q_pattern_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full traffic-pattern matrix: the flagship generalized to every
    (camera, dow, hour) slot in one plan — what the reference would
    need 37×7×24 SQLite queries for."""
    h = traffic_history(spark, sf_dir)
    daily = (
        h.groupBy(
            "camera_id",
            dow0("ts").alias("dow"),
            F.hour("ts").cast("long").alias("hour_of_day"),
            F.to_date("ts").alias("d"),
        )
        .agg(F.sum("new_count").alias("hourly_total"))
    )
    # No final orderBy: the output is data-sized (every populated
    # (camera, dow, hour) slot) and the sort exists only to make
    # display order deterministic — the driver gate canonicalizes
    # order-insensitively, so the global range exchange + sort is pure
    # cost (guide §2.4; measured 0.85 → 0.65 s at sf0.1). The oracle
    # text keeps its ORDER BY harmlessly.
    return daily.groupBy("camera_id", "dow", "hour_of_day").agg(
        F.avg("hourly_total").alias("avg_hourly_volume"),
        F.count(F.lit(1)).alias("days_observed"),
    )


# Thresholds subset rule: cameras whose numeric id is divisible by 3
# have NO thresholds row, so the decision query exercises the
# default-thresholds fallback (reference app/routes.py:286; fixture
# guidance FIXTURES.md §3).
_THRESHOLD_SUBSET_PRED = "CAST(camera_id AS BIGINT) % 3 <> 0"


def hourly_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-camera per-hour sums (reference scripts/analyze_thresholds.py:33-44)."""
    h = traffic_history(spark, sf_dir)
    return (
        h.groupBy("camera_id", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.sum("new_count").alias("hourly_total"))
    )


def camera_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p75/p90/max of each camera's hourly sums (reference
    scripts/analyze_thresholds.py:50-60; numpy linear interpolation ==
    Spark `percentile` == DuckDB `quantile_cont`)."""
    pct = F.percentile("hourly_total", F.array(F.lit(0.5), F.lit(0.75), F.lit(0.9)))
    return (
        hourly_sums(spark, sf_dir)
        .groupBy("camera_id")
        .agg(
            F.round(pct[0], 6).alias("p50"),
            F.round(pct[1], 6).alias("p75"),
            F.round(pct[2], 6).alias("p90"),
            F.max("hourly_total").alias("max_hourly"),
        )
    )


_THRESHOLDS_CTE = """
hourly AS (
  SELECT camera_id, date_trunc('hour', ts) AS hour_ts,
         CAST(SUM(new_count) AS BIGINT) AS hourly_total
  FROM traffic
  GROUP BY 1, 2
),
thresholds AS (
  SELECT camera_id,
         ROUND(q[1], 6) AS p50, ROUND(q[2], 6) AS p75, ROUND(q[3], 6) AS p90,
         max_hourly
  FROM (
    SELECT camera_id,
           quantile_cont(hourly_total, [0.5, 0.75, 0.9]) AS q,
           CAST(MAX(hourly_total) AS BIGINT) AS max_hourly
    FROM hourly {SUBSET}
    GROUP BY camera_id
  )
)
""".strip()


@register(
    oracle=with_traffic(
        "SELECT camera_id, p50, p75, p90, max_hourly FROM thresholds ORDER BY camera_id",
        extra_ctes=_THRESHOLDS_CTE.replace("{SUBSET}", ""),
    ),
)
def q_camera_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile thresholds per camera (SURVEY.md §2.4 A6)."""
    return camera_thresholds(spark, sf_dir).orderBy("camera_id")


@register(
    oracle=with_traffic(
        f"""
SELECT p.camera_id,
       ROUND(p.avg_hourly_volume, 6) AS predicted_volume,
       (t.camera_id IS NULL) AS used_default_thresholds,
       CASE WHEN p.avg_hourly_volume > COALESCE(t.p90, {DEFAULT_P90}) THEN 'MACET TOTAL'
            WHEN p.avg_hourly_volume > COALESCE(t.p75, {DEFAULT_P75}) THEN 'MACET'
            WHEN p.avg_hourly_volume > COALESCE(t.p50, {DEFAULT_P50}) THEN 'PADAT LANCAR'
            ELSE 'LANCAR' END AS status,
       CASE WHEN p.avg_hourly_volume > COALESCE(t.p90, {DEFAULT_P90}) THEN 'Hindari area ini, cari rute alternatif'
            WHEN p.avg_hourly_volume > COALESCE(t.p75, {DEFAULT_P75}) THEN 'Pertimbangkan rute alternatif'
            WHEN p.avg_hourly_volume > COALESCE(t.p50, {DEFAULT_P50}) THEN 'Waspada perlambatan'
            ELSE 'Lalu lintas lancar' END AS recommendation,
       CASE WHEN p.avg_hourly_volume > COALESCE(t.p90, {DEFAULT_P90}) THEN '#d32f2f'
            WHEN p.avg_hourly_volume > COALESCE(t.p75, {DEFAULT_P75}) THEN '#f57c00'
            WHEN p.avg_hourly_volume > COALESCE(t.p50, {DEFAULT_P50}) THEN '#fbc02d'
            ELSE '#388e3c' END AS color
FROM (
  SELECT camera_id, AVG(hourly_total) AS avg_hourly_volume
  FROM (
    SELECT camera_id, CAST(ts AS DATE) AS d,
           CAST(SUM(new_count) AS BIGINT) AS hourly_total
    FROM traffic
    WHERE dayofweek(ts) = {FLAGSHIP_DOW} AND EXTRACT(hour FROM ts) = {FLAGSHIP_HOUR}
    GROUP BY camera_id, CAST(ts AS DATE)
  )
  GROUP BY camera_id
) p
LEFT JOIN thresholds t ON t.camera_id = p.camera_id
ORDER BY p.camera_id
""",
        extra_ctes=_THRESHOLDS_CTE.replace(
            "{SUBSET}", f"WHERE {_THRESHOLD_SUBSET_PRED}"
        ),
    ),
)
def q_predict_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction + threshold ladder → status/recommendation/color
    (reference app/routes.py:284-307). Thresholds exist only for a
    camera subset so the default-thresholds path is exercised.

    Single-pass plan: the flagship slot average and the percentile
    thresholds both derive from per-camera *hourly sums* (a Thursday
    18:00 daily sum IS the 18:00 hourly sum of that date), so one scan
    → one (camera, hour) aggregation → one per-camera conditional
    aggregation computes both — no second scan, no join at all.
    """
    slot = (dow0("hour_ts") == FLAGSHIP_DOW) & (F.hour("hour_ts") == FLAGSHIP_HOUR)
    in_subset = F.expr(_THRESHOLD_SUBSET_PRED)
    pct = F.percentile("hourly_total", F.array(F.lit(0.5), F.lit(0.75), F.lit(0.9)))
    per_cam = (
        hourly_sums(spark, sf_dir)
        .groupBy("camera_id")
        .agg(
            F.avg(F.when(slot, F.col("hourly_total"))).alias("avg_hourly_volume"),
            F.round(pct[0], 6).alias("t50"),
            F.round(pct[1], 6).alias("t75"),
            F.round(pct[2], 6).alias("t90"),
        )
        .filter(F.col("avg_hourly_volume").isNotNull())
    )
    vol = F.col("avg_hourly_volume")
    p50 = F.when(in_subset, F.col("t50")).otherwise(F.lit(DEFAULT_P50))
    p75 = F.when(in_subset, F.col("t75")).otherwise(F.lit(DEFAULT_P75))
    p90 = F.when(in_subset, F.col("t90")).otherwise(F.lit(DEFAULT_P90))

    def ladder(over90, over75, over50, base):
        return (
            F.when(vol > p90, F.lit(over90))
            .when(vol > p75, F.lit(over75))
            .when(vol > p50, F.lit(over50))
            .otherwise(F.lit(base))
        )

    return (
        per_cam.select(
            "camera_id",
            F.round(vol, 6).alias("predicted_volume"),
            (~in_subset).alias("used_default_thresholds"),
            ladder("MACET TOTAL", "MACET", "PADAT LANCAR", "LANCAR").alias("status"),
            ladder(
                "Hindari area ini, cari rute alternatif",
                "Pertimbangkan rute alternatif",
                "Waspada perlambatan",
                "Lalu lintas lancar",
            ).alias("recommendation"),
            ladder("#d32f2f", "#f57c00", "#fbc02d", "#388e3c").alias("color"),
        )
        .orderBy("camera_id")
    )


@register(
    oracle=with_traffic(f"""
, camera_dim AS (
  SELECT c_custkey AS cam_key, c_name AS cam_name
  FROM customer WHERE c_custkey % 4 <> 0
),
daily AS (
  SELECT camera_id, CAST(ts AS DATE) AS d,
         CAST(SUM(new_count) AS BIGINT) AS hourly_total
  FROM traffic
  WHERE dayofweek(ts) = {FLAGSHIP_DOW} AND EXTRACT(hour FROM ts) = {FLAGSHIP_HOUR}
  GROUP BY camera_id, CAST(ts AS DATE)
),
pred AS (
  SELECT camera_id, AVG(hourly_total) AS v, COUNT(*) AS n
  FROM daily GROUP BY camera_id
)
SELECT CAST(d.cam_key AS VARCHAR) AS camera_id,
       d.cam_name,
       ROUND(COALESCE(p.v, 0), 6) AS predicted_volume,
       CAST(COALESCE(p.n, 0) AS BIGINT) AS days_observed,
       (p.camera_id IS NOT NULL) AS has_history
FROM camera_dim d
LEFT JOIN pred p ON p.camera_id = CAST(d.cam_key AS VARCHAR)
ORDER BY d.cam_key
"""),
)
def q_predict_all_cameras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: prediction fan-out over EVERY configured camera — including
    cameras with no history, which predict 0 (the reference loops one
    SQLite query per camera, app/routes.py:254-317, and maps empty
    history to 0 not null, app/database.py:138). One plan: grouped agg
    + left join from the dimension side — the prediction side is a
    PER-CAMERA aggregate (fleet-sized, grows with data), so no forced
    broadcast; AQE picks one only while the measured size allows."""
    from .joins import camera_dim

    pred = (
        _daily_slot_sums(spark, sf_dir, FLAGSHIP_DOW, FLAGSHIP_HOUR)
        .groupBy("camera_id")
        .agg(F.avg("hourly_total").alias("v"), F.count(F.lit(1)).alias("n"))
    )
    d = camera_dim(spark, sf_dir)
    return (
        d.join(pred, pred.camera_id == d.cam_key.cast("string"), "left")
        .select(
            d.cam_key.cast("string").alias("camera_id"),
            "cam_name",
            F.round(F.coalesce("v", F.lit(0.0)), 6).alias("predicted_volume"),
            F.coalesce("n", F.lit(0)).cast("long").alias("days_observed"),
            pred.camera_id.isNotNull().alias("has_history"),
        )
        .orderBy(F.col("camera_id").cast("long"))
    )


# Demo-scenario injection (reference app/routes.py:269-282): the
# high-traffic scenario floors the prediction at random.randint(250,
# 400) — a demo randomizer, pinned here to the draw's midpoint so the
# override is deterministic and oracle-checkable; low-traffic caps at
# the reference's literal 50.
SCENARIO_HIGH_FLOOR = 325.0
SCENARIO_LOW_CAP = 50.0
_SCENARIOS = ["baseline", "high_traffic", "low_traffic"]


@register(
    oracle=with_traffic(f"""
, camera_dim AS (
  SELECT c_custkey AS cam_key, c_name AS cam_name
  FROM customer WHERE c_custkey % 4 <> 0
),
daily AS (
  SELECT camera_id, CAST(ts AS DATE) AS d,
         CAST(SUM(new_count) AS BIGINT) AS hourly_total
  FROM traffic
  WHERE dayofweek(ts) = {FLAGSHIP_DOW} AND EXTRACT(hour FROM ts) = {FLAGSHIP_HOUR}
  GROUP BY camera_id, CAST(ts AS DATE)
),
pred AS (
  SELECT camera_id, AVG(hourly_total) AS v FROM daily GROUP BY camera_id
),
base AS (
  SELECT CAST(d.cam_key AS BIGINT) AS cam_key,
         CAST(d.cam_key AS VARCHAR) AS camera_id,
         d.cam_name,
         ROUND(COALESCE(p.v, 0), 6) AS predicted_volume
  FROM camera_dim d
  LEFT JOIN pred p ON p.camera_id = CAST(d.cam_key AS VARCHAR)
),
fanned AS (
  SELECT b.*, s.scenario,
         CASE WHEN s.scenario = 'high_traffic'
              THEN GREATEST(b.predicted_volume, {SCENARIO_HIGH_FLOOR})
              WHEN s.scenario = 'low_traffic'
              THEN LEAST(b.predicted_volume, {SCENARIO_LOW_CAP})
              ELSE b.predicted_volume END AS scenario_volume
  FROM base b
  CROSS JOIN (VALUES ('baseline'), ('high_traffic'), ('low_traffic')) s(scenario)
)
SELECT camera_id, cam_name, scenario, predicted_volume, scenario_volume,
       CASE WHEN scenario_volume > {DEFAULT_P90} THEN 'MACET TOTAL'
            WHEN scenario_volume > {DEFAULT_P75} THEN 'MACET'
            WHEN scenario_volume > {DEFAULT_P50} THEN 'PADAT LANCAR'
            ELSE 'LANCAR' END AS status
FROM fanned
ORDER BY cam_key, scenario
"""),
)
def q_predict_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demo-scenario override (reference app/routes.py:269-282): fan
    every camera's flagship prediction out to the three demo scenarios
    and re-run the decision ladder on the clamped volume —
    ``high_traffic`` floors the prediction (``greatest``) at the
    pinned boost, ``low_traffic`` caps it (``least``) at 50, baseline
    passes through. Pure column arithmetic over the
    ``q_predict_all_cameras`` plan (one explode of a 3-literal array —
    no extra scan, shuffle, or join), so the 100 TB cost is identical
    to the underlying fan-out query."""
    base = q_predict_all_cameras(spark, sf_dir)
    pv = F.col("predicted_volume")
    sv = (
        F.when(
            F.col("scenario") == "high_traffic",
            F.greatest(pv, F.lit(SCENARIO_HIGH_FLOOR)),
        )
        .when(F.col("scenario") == "low_traffic", F.least(pv, F.lit(SCENARIO_LOW_CAP)))
        .otherwise(pv)
    )
    vol = F.col("scenario_volume")
    status = (
        F.when(vol > DEFAULT_P90, F.lit("MACET TOTAL"))
        .when(vol > DEFAULT_P75, F.lit("MACET"))
        .when(vol > DEFAULT_P50, F.lit("PADAT LANCAR"))
        .otherwise(F.lit("LANCAR"))
    )
    return (
        base.select(
            "camera_id",
            "cam_name",
            "predicted_volume",
            F.explode(F.array(*[F.lit(s) for s in _SCENARIOS])).alias("scenario"),
        )
        .withColumn("scenario_volume", sv)
        .withColumn("status", status)
        .select(
            "camera_id",
            "cam_name",
            "scenario",
            "predicted_volume",
            "scenario_volume",
            "status",
        )
        # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)
    )
