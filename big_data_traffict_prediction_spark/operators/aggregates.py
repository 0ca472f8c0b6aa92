"""Aggregations (SURVEY.md §2.4).

Every aggregate here is a single declarative plan: Catalyst executes
partial (map-side) + final hash aggregation, so at 100 TB the shuffle
carries one row per group per task, not the raw data. The trailing-
window stats (A8) are ONE conditional-aggregation scan instead of the
reference's five passes over a pooled in-memory list
(``app/utils.py:523-565``).

"now" is a pinned parameter (compat.NOW_TS) — the reference hardwires
wall-clock ``time.time()``, which is unreproducible by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import NOW_EPOCH, NOW_TS, exact_ppm
from ..registry import register
from ..tables import traffic_history, with_traffic

_SUMS = """
CAST(COALESCE(SUM(new_count), 0) AS BIGINT) AS total_new_count,
CAST(COALESCE(SUM(new_cars), 0) AS BIGINT) AS total_new_cars,
CAST(COALESCE(SUM(new_motors), 0) AS BIGINT) AS total_new_motors,
COUNT(*) AS n_samples
""".strip()


def _sum_aggs():
    return [
        F.coalesce(F.sum("new_count"), F.lit(0)).cast("long").alias("total_new_count"),
        F.coalesce(F.sum("new_cars"), F.lit(0)).cast("long").alias("total_new_cars"),
        F.coalesce(F.sum("new_motors"), F.lit(0)).cast("long").alias("total_new_motors"),
        F.count(F.lit(1)).alias("n_samples"),
    ]


@register(oracle=with_traffic(f"SELECT {_SUMS} FROM traffic"))
def q_lifetime_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: global lifetime totals with COALESCE-0 defaults
    (reference app/database.py:147-167)."""
    return traffic_history(spark, sf_dir).agg(*_sum_aggs())


TRAILING_DAYS = 7


@register(
    oracle=with_traffic(f"""
SELECT {_SUMS}
FROM traffic
WHERE ts >= TIMESTAMP '{NOW_TS}' - INTERVAL {TRAILING_DAYS} DAY
"""),
)
def q_trailing_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: trailing-N-day totals at pinned `now`
    (reference app/database.py:169-195)."""
    cutoff = F.lit(NOW_TS).cast("timestamp") - F.expr(f"INTERVAL {TRAILING_DAYS} DAYS")
    return traffic_history(spark, sf_dir).filter(F.col("ts") >= cutoff).agg(*_sum_aggs())


@register(
    oracle=with_traffic(f"""
SELECT camera_id, {_SUMS}
FROM traffic GROUP BY camera_id ORDER BY camera_id
"""),
)
def q_per_camera_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-camera grouped totals (reference scripts/sync_stats_db.py:41-49).
    Invariant: these roll up exactly to q_lifetime_totals — the
    consistency the reference needs a repair script for."""
    return (
        traffic_history(spark, sf_dir).groupBy("camera_id").agg(*_sum_aggs()).orderBy("camera_id")
    )


@register(
    oracle=with_traffic(f"""
SELECT camera_id, CAST(GROUPING(camera_id) AS INT) AS is_total_row, {_SUMS}
FROM traffic GROUP BY ROLLUP(camera_id) ORDER BY is_total_row, camera_id
"""),
)
def q_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A4 fused with ROLLUP: per-camera and global totals from one
    scan (SURVEY.md §2.4 note) — the reference computes these as two
    separate queries plus a reconciliation script."""
    return (
        traffic_history(spark, sf_dir)
        .rollup("camera_id")
        .agg(F.grouping("camera_id").cast("int").alias("is_total_row"), *_sum_aggs())
        .select(
            "camera_id",
            "is_total_row",
            "total_new_count",
            "total_new_cars",
            "total_new_motors",
            "n_samples",
        )
        .orderBy("is_total_row", "camera_id")
    )


@register(oracle=with_traffic("SELECT DISTINCT camera_id FROM traffic ORDER BY camera_id"))
def q_distinct_cameras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: DISTINCT camera ids (reference scripts/analyze_thresholds.py:25).
    Partial-aggregate dedup per partition before the shuffle."""
    return traffic_history(spark, sf_dir).select("camera_id").distinct().orderBy("camera_id")


@register(
    oracle=with_traffic("""
SELECT camera_id, date_trunc('hour', ts) AS hour_ts,
       CAST(SUM(new_count) AS BIGINT) AS hourly_total,
       COUNT(*) AS n_samples
FROM traffic GROUP BY 1, 2 ORDER BY camera_id, hour_ts
"""),
)
def q_hourly_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-camera hourly sums (reference scripts/analyze_thresholds.py:33-44)."""
    return (
        traffic_history(spark, sf_dir)
        .groupBy("camera_id", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.sum("new_count").alias("hourly_total"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .orderBy("camera_id", "hour_ts")
    )


# Trailing windows of the reference's save_stats (app/utils.py:523-565):
# {10s, 30m, 1h, 5h, 24h} there; wider set here because the testdata is
# 60 s-grained: {1h, 6h, 24h, 7d, 30d}.
WINDOWS_S = {"1h": 3600, "6h": 21600, "24h": 86400, "7d": 604800, "30d": 2592000}


@register(
    oracle=with_traffic(
        "SELECT\n"
        + ",\n".join(
            f"""  CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{NOW_TS}' - INTERVAL {s} SECOND THEN new_count END), 0) AS BIGINT) AS w{label}_new_count,
  CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{NOW_TS}' - INTERVAL {s} SECOND THEN 1 END), 0) AS BIGINT) AS w{label}_samples"""
            for label, s in WINDOWS_S.items()
        )
        + "\nFROM traffic"
    ),
)
def q_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: multi-window trailing stats as ONE conditional-aggregation
    scan — the idiomatic replacement for the reference's five passes
    over pooled history (app/utils.py:523-565)."""
    now = F.lit(NOW_TS).cast("timestamp")
    aggs = []
    for label, s in WINDOWS_S.items():
        in_w = F.col("ts") >= now - F.expr(f"INTERVAL {s} SECONDS")
        aggs.append(
            F.coalesce(F.sum(F.when(in_w, F.col("new_count"))), F.lit(0))
            .cast("long")
            .alias(f"w{label}_new_count")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(in_w, F.lit(1))), F.lit(0))
            .cast("long")
            .alias(f"w{label}_samples")
        )
    return traffic_history(spark, sf_dir).agg(*aggs)


# Data-lake daily aggregate (S6+A11): one "partition day" of event-level
# rows counted per camera × class. The reference lists a YYYY/MM/DD
# directory and loops over CSVs (app/utils.py:329-384); here the date
# predicate partition-prunes and the pivot is a grouped conditional count.
LAKE_DAY = "2024-01-15"


@register(
    oracle=with_traffic(f"""
SELECT camera_id AS source_name,
       CAST(COALESCE(SUM(CASE WHEN new_cars > 0 THEN 1 END), 0) AS BIGINT) AS car,
       CAST(COALESCE(SUM(CASE WHEN new_cars = 0 THEN 1 END), 0) AS BIGINT) AS motorcycle,
       COUNT(*) AS total
FROM traffic
WHERE CAST(ts AS DATE) = DATE '{LAKE_DAY}'
GROUP BY camera_id
ORDER BY source_name
"""),
)
def q_datalake_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A11: per-camera × class counts for one lake partition day
    (reference app/utils.py:361-380), via groupBy().pivot()."""
    h = traffic_history(spark, sf_dir)
    cls = F.when(F.col("new_cars") > 0, F.lit("car")).otherwise(F.lit("motorcycle"))
    return (
        h.filter(F.to_date("ts") == F.lit(LAKE_DAY).cast("date"))
        .withColumn("cls", cls)
        .groupBy(F.col("camera_id").alias("source_name"))
        .pivot("cls", ["car", "motorcycle"])
        .count()
        .select(
            "source_name",
            F.coalesce("car", F.lit(0)).alias("car"),
            F.coalesce("motorcycle", F.lit(0)).alias("motorcycle"),
            (F.coalesce("car", F.lit(0)) + F.coalesce("motorcycle", F.lit(0))).alias("total"),
        )
        .orderBy("source_name")
    )


@register(
    oracle=with_traffic("""
SELECT event_type,
       CAST(SUM(new_count) AS BIGINT) AS type_total,
       CAST(SUM(new_count) AS DOUBLE)
         / CAST(SUM(CAST(SUM(new_count) AS BIGINT)) OVER () AS DOUBLE) AS share
FROM traffic
GROUP BY event_type
ORDER BY event_type
"""),
)
def q_bucket_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: percent-of-total shares via an analytic window over an
    aggregate (reference computes this client-side,
    index.html:1045-1060).

    The empty-partition window is DELIBERATE — it is the §2.5
    "percent shares" window shape, and it runs over the ≤|event_types|
    aggregate (a handful of rows), so WindowExec's single-partition
    move is free; a fact-sized input would use the broadcast-scalar
    form instead (see q_lang_mixture)."""
    from pyspark.sql import Window

    totals = (
        traffic_history(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.sum("new_count").alias("type_total"))
    )
    return (
        totals.withColumn(
            "share",
            F.col("type_total").cast("double")
            / F.sum("type_total").over(Window.partitionBy()).cast("double"),
        )
        .orderBy("event_type")
    )


@register(
    oracle=with_traffic("""
SELECT CAST(COUNT(DISTINCT camera_id) AS BIGINT) AS n_sources,
       CAST(COALESCE(SUM(new_count), 0) AS BIGINT) AS accumulated_count,
       CAST(COALESCE(SUM(new_cars), 0) AS BIGINT) AS accumulated_cars,
       CAST(COALESCE(SUM(new_motors), 0) AS BIGINT) AS accumulated_motors,
       MAX(ts) AS last_update
FROM traffic
"""),
)
def q_stats_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: the global_total section of the reference's periodic stats
    snapshot ({sources, global_total, last_update},
    app/utils.py:443-511) as one single-row aggregate. The snapshot
    file's atomic tmp+bak+rename dance is Spark's output-commit
    protocol (sources/lake.write_snapshot); this query is the
    content."""
    return traffic_history(spark, sf_dir).agg(
        F.countDistinct("camera_id").alias("n_sources"),
        F.coalesce(F.sum("new_count"), F.lit(0)).cast("long").alias("accumulated_count"),
        F.coalesce(F.sum("new_cars"), F.lit(0)).cast("long").alias("accumulated_cars"),
        F.coalesce(F.sum("new_motors"), F.lit(0)).cast("long").alias("accumulated_motors"),
        F.max("ts").alias("last_update"),
    )


@register(
    oracle=with_traffic("""
SELECT event_type,
       dayofweek(ts) AS dow,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING(dayofweek(ts)) AS BIGINT) AS g_dow,
       CAST(COALESCE(SUM(new_count), 0) AS BIGINT) AS total_new_count,
       COUNT(*) AS n
FROM traffic
GROUP BY CUBE(event_type, dayofweek(ts))
ORDER BY g_type, g_dow, event_type NULLS FIRST, dow NULLS FIRST
"""),
)
def q_cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, dow): every marginal in one pass —
    grouping-sets completion of the rollup variant (no reference
    analog; the natural Spark extension, SURVEY.md §2.4 note).
    GROUPING() flags disambiguate real nulls from subtotal rows."""
    from ..compat import dow0

    h = traffic_history(spark, sf_dir).withColumn("dow", dow0("ts"))
    return (
        h.cube("event_type", "dow")
        .agg(
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("dow").cast("long").alias("g_dow"),
            F.coalesce(F.sum("new_count"), F.lit(0)).cast("long").alias("total_new_count"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("event_type", "dow", "g_type", "g_dow", "total_new_count", "n")
        .orderBy("g_type", "g_dow", F.asc_nulls_first("event_type"), F.asc_nulls_first("dow"))
    )


@register(
    oracle="""
WITH first_seen AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT f.cohort_week,
       CAST(FLOOR(date_diff('day', f.cohort_week, a.active_week) / 7) AS BIGINT) AS week_no,
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM activity a JOIN first_seen f ON f.user_id = a.user_id
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-seen
    week, counted in each subsequent active week — the standard
    product-analytics triangle. Three aggregates, all keyed on
    user_id then (cohort, week): the distinct-activity reduction
    happens BEFORE the cohort join, so the join carries one row per
    (user, week), not per event. date_trunc('week') is Monday-aligned
    in both engines."""
    from ..tables import load_table

    e = load_table(spark, sf_dir, "events")
    weekly = e.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    first_seen = weekly.groupBy("user_id").agg(
        F.min("active_week").alias("cohort_week")
    )
    return (
        weekly.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff("active_week", "cohort_week") / 7
            ).cast("long").alias("week_no"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .orderBy("cohort_week", "week_no")
    )


@register(
    oracle=with_traffic(f"""
SELECT camera_id, event_type,
       CAST(GROUPING(camera_id) AS INT) AS g_camera,
       CAST(GROUPING(event_type) AS INT) AS g_event,
       {_SUMS}
FROM traffic
GROUP BY GROUPING SETS ((camera_id, event_type), (camera_id), ())
ORDER BY g_camera, g_event, camera_id, event_type
"""),
)
def q_grouping_sets_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the generalization ROLLUP/CUBE (both
    already registered) can't express: per-(camera, event_type),
    per-camera, and grand totals in ONE pass, but *without* the
    per-event_type-only slice a CUBE would add. One scan, one shuffle;
    Spark expands the sets map-side so partial aggregation still
    applies. GROUPING() flags disambiguate the null-as-total rows
    exactly as both engines define them."""
    return (
        traffic_history(spark, sf_dir)
        .groupingSets(
            [["camera_id", "event_type"], ["camera_id"], []],
            "camera_id",
            "event_type",
        )
        .agg(
            F.grouping("camera_id").cast("int").alias("g_camera"),
            F.grouping("event_type").cast("int").alias("g_event"),
            *_sum_aggs(),
        )
        .select(
            "camera_id", "event_type", "g_camera", "g_event",
            "total_new_count", "total_new_cars", "total_new_motors", "n_samples",
        )
        .orderBy("g_camera", "g_event", "camera_id", "event_type")
    )


SALT_BUCKETS = 8


@register(
    oracle=with_traffic("""
SELECT camera_id,
       CAST(SUM(new_count) AS BIGINT) AS total_new_count,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM traffic GROUP BY camera_id ORDER BY camera_id
"""),
)
def q_salted_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-defeating salted aggregation, spelled out: per-camera
    totals computed as (camera, salt) partials first — a hot camera's
    rows spread across {SALT_BUCKETS} reducers — then combined in a
    second, dimension-sized aggregate. The oracle is the PLAIN
    one-stage aggregate: salting must be invisible in the result (sum
    and count re-associate exactly over integers; this is also why the
    pattern is NOT safe for raw double sums — see compat.fixed_point).
    AQE's skew handling makes this manual form unnecessary for joins,
    but a single pathological group key inside an aggregation is still
    the operator author's job at 100 TB.
    """
    h = traffic_history(spark, sf_dir)
    stage1 = (
        h.withColumn("salt", F.pmod(F.col("id"), F.lit(SALT_BUCKETS)))
        .groupBy("camera_id", "salt")
        .agg(
            F.sum("new_count").alias("part_sum"),
            F.count(F.lit(1)).alias("part_n"),
        )
    )
    return (
        stage1.groupBy("camera_id")
        .agg(
            F.sum("part_sum").cast("long").alias("total_new_count"),
            F.sum("part_n").cast("long").alias("n_events"),
        )
        .orderBy("camera_id")
    )


SNAP_T1_EPOCH = NOW_EPOCH - 7 * 86400  # NOW - 7d
SNAP_T2_EPOCH = NOW_EPOCH  # NOW


@register(
    oracle=with_traffic(f"""
, states AS (
  SELECT camera_id,
         MAX(CASE WHEN ts < make_timestamp(CAST({SNAP_T1_EPOCH} AS BIGINT) * 1000000)
                  THEN {{'ts': ts, 'id': id, 'new_count': new_count}} END) AS s1,
         MAX(CASE WHEN ts < make_timestamp(CAST({SNAP_T2_EPOCH} AS BIGINT) * 1000000)
                  THEN {{'ts': ts, 'id': id, 'new_count': new_count}} END) AS s2
  FROM traffic GROUP BY camera_id
)
SELECT camera_id,
       s1.new_count AS count_t1,
       s2.new_count AS count_t2,
       CASE WHEN s1 IS NULL AND s2 IS NOT NULL THEN 'added'
            WHEN s1 IS NOT NULL AND s2 IS NULL THEN 'removed'
            WHEN s1.new_count = s2.new_count THEN 'unchanged'
            ELSE 'changed' END AS status
FROM states
ORDER BY camera_id
"""),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: each camera's latest state as of two cutoffs
    (NOW−7d vs NOW), classified added / removed / changed / unchanged
    — the reconciliation view for comparing two materialized snapshot
    generations (reference S9's snapshot file, diffed across time).
    ONE aggregate does both snapshots via conditional lexicographic
    struct maxes — no self-join, no second scan; the "latest row per
    camera per cutoff" never materializes.
    """
    h = traffic_history(spark, sf_dir)
    t1 = F.timestamp_seconds(F.lit(SNAP_T1_EPOCH))
    t2 = F.timestamp_seconds(F.lit(SNAP_T2_EPOCH))
    s1 = F.max(F.when(F.col("ts") < t1, F.struct("ts", "id", "new_count")))
    s2 = F.max(F.when(F.col("ts") < t2, F.struct("ts", "id", "new_count")))
    states = h.groupBy("camera_id").agg(s1.alias("s1"), s2.alias("s2"))
    return states.select(
        "camera_id",
        F.col("s1.new_count").alias("count_t1"),
        F.col("s2.new_count").alias("count_t2"),
        F.when(F.col("s1").isNull() & F.col("s2").isNotNull(), F.lit("added"))
        .when(F.col("s1").isNotNull() & F.col("s2").isNull(), F.lit("removed"))
        .when(F.col("s1.new_count") == F.col("s2.new_count"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    ).orderBy("camera_id")


@register(
    oracle=with_traffic("""
, daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(DISTINCT camera_id) AS dau
  FROM traffic GROUP BY 1
),
monthly AS (
  SELECT date_trunc('month', ts) AS m, COUNT(DISTINCT camera_id) AS mau
  FROM traffic GROUP BY 1
)
SELECT strftime(d.d, '%Y-%m-%d') AS d,
       CAST(d.dau AS BIGINT) AS dau,
       CAST(m.mau AS BIGINT) AS mau,
       CAST(d.dau * 1000000 // m.mau AS BIGINT) AS stickiness_ppm
FROM daily d JOIN monthly m ON m.m = date_trunc('month', CAST(d.d AS TIMESTAMP))
ORDER BY d
"""),
)
def q_engagement_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement ratio every
    activity dashboard leads with (here "users" are reporting
    cameras: the liveness view over time). Two distinct-count
    aggregates at different grains; the month side is calendar-sized
    and broadcasts back onto the daily series; the ratio ships as
    exact integer ppm (positive operands, so DuckDB's truncating //
    agrees with floor).

    At 100 TB exact COUNT(DISTINCT) dominates — the documented swap
    is approx_count_distinct (q_approx_distinct's HLL) at the same
    plan shape.
    """
    h = traffic_history(spark, sf_dir)
    daily = h.groupBy(F.to_date("ts").alias("dd")).agg(
        F.countDistinct("camera_id").alias("dau")
    )
    monthly = h.groupBy(F.date_trunc("month", "ts").alias("m")).agg(
        F.countDistinct("camera_id").alias("mau")
    )
    return (
        daily.join(
            F.broadcast(monthly),
            F.date_trunc("month", F.col("dd").cast("timestamp")) == F.col("m"),
        )
        .select(
            F.date_format("dd", "yyyy-MM-dd").alias("d"),
            F.col("dau").cast("long").alias("dau"),
            F.col("mau").cast("long").alias("mau"),
            exact_ppm(F.col("dau"), F.col("mau")).cast("long").alias("stickiness_ppm"),
        )
        .orderBy("d")
    )


# Materialized-view refresh window: the MV "as stored" covers events
# before T1; one refresh batch [T1, T2) is folded in incrementally.
MV_T1_EPOCH = NOW_EPOCH - 6 * 86400
MV_T2_EPOCH = NOW_EPOCH - 1 * 86400


@register(
    oracle=with_traffic(f"""
SELECT camera_id, strftime(ts, '%Y-%m-%d') AS d,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(new_count) AS BIGINT) AS total_count,
       CAST(MAX(new_count) AS BIGINT) AS peak_count
FROM traffic
WHERE ts < make_timestamp(CAST({MV_T2_EPOCH} AS BIGINT) * 1000000)
GROUP BY 1, 2
ORDER BY camera_id, d
"""),
)
def q_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW refresh — the third leg of the
    maintenance trilogy (index: q_zone_map_merge, dimension:
    q_scd2_apply, aggregate: this): the stored per-(camera, day) MV is
    brought current by folding in ONE delta batch of raw events — the
    delta aggregates at MV grain and merges into the stored rows via a
    co-partitioned full-outer join (counts and sums ADD, peaks fold by
    GREATEST; all self-maintainable for insert-only deltas, which is
    why real engines restrict incremental view maintenance to such
    algebras).

    The oracle is the FULL RECOMPUTE over everything before T2, so the
    driver's hash check is the incremental-equals-recompute theorem
    for this view — same discipline as q_scd2_apply.

    Scale shape: the base side stands in for reading the stored MV
    (|camera × day| rows); the delta aggregates once (map-side
    partial) and the merge join adds ZERO exchanges beyond the two
    aggregations (both hash-partition on exactly the view key,
    plan-asserted). Nightly cost is O(delta + view), not O(history)."""
    h = traffic_history(spark, sf_dir)
    t1 = F.timestamp_seconds(F.lit(MV_T1_EPOCH))
    t2 = F.timestamp_seconds(F.lit(MV_T2_EPOCH))

    def mv_grain(side: DataFrame, tag: str) -> DataFrame:
        return (
            side.select(
                "camera_id",
                F.date_format("ts", "yyyy-MM-dd").alias("d"),
                "new_count",
            )
            .groupBy("camera_id", "d")
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"{tag}_n"),
                F.sum("new_count").cast("long").alias(f"{tag}_sum"),
                F.max("new_count").cast("long").alias(f"{tag}_peak"),
            )
        )

    stored = mv_grain(h.filter(F.col("ts") < t1), "b")
    delta = mv_grain(h.filter((F.col("ts") >= t1) & (F.col("ts") < t2)), "dl")
    return (
        stored.join(delta, ["camera_id", "d"], "full_outer")
        .select(
            "camera_id",
            "d",
            (F.coalesce("b_n", F.lit(0)) + F.coalesce("dl_n", F.lit(0)))
            .cast("long")
            .alias("n_rows"),
            (F.coalesce("b_sum", F.lit(0)) + F.coalesce("dl_sum", F.lit(0)))
            .cast("long")
            .alias("total_count"),
            F.greatest("b_peak", "dl_peak").cast("long").alias("peak_count"),
        )
        # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)
    )
