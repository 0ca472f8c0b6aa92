"""Joins (SURVEY.md §2.3).

The reference never issues a SQL JOIN — every join is a Python dict
lookup against a whole-file-loaded dimension. All of them are a big
fact against a KB-sized dimension → **broadcast hash join** (no
shuffle of the fact side); verified by plans/explain audits.

The customer table stands in for the camera-config dimension; it is
deliberately restricted to ``c_custkey % 4 != 0`` so the left-join
fallback ("Unknown Camera" / id passthrough, reference
``scripts/export_data.py:69``, ``scripts/sync_stats_db.py:73-77``) and
the anti-join "zombie" path (``app/utils.py:513-521``) are exercised
at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import NOW_EPOCH, epoch_s
from ..registry import register
from ..tables import load_table, traffic_history, with_traffic

TOPN_EXPORT = 1000

# Camera-config dimension := customers whose key survives the subset
# predicate; numeric join key of traffic.camera_id.
_DIM_CTE = """
camera_dim AS (
  SELECT c_custkey AS cam_key, c_name AS cam_name
  FROM customer WHERE c_custkey % 4 <> 0
)
""".strip()


def camera_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 != 0)
        .select(F.col("c_custkey").alias("cam_key"), F.col("c_name").alias("cam_name"))
    )


@register(
    oracle=with_traffic(
        f"""
SELECT t.id, t.ts, t.camera_id,
       COALESCE(d.cam_name, t.camera_id) AS location_name,
       t.new_count, t.new_cars, t.new_motors
FROM (
  SELECT * FROM traffic ORDER BY ts DESC, id DESC LIMIT {TOPN_EXPORT}
) t
LEFT JOIN camera_dim d ON d.cam_key = CAST(t.camera_id AS BIGINT)
ORDER BY t.ts DESC, t.id DESC
""",
        extra_ctes=_DIM_CTE,
    ),
)
def q_topn_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/J1/O3: latest-N export with dimension name join and
    id-passthrough fallback (reference scripts/export_data.py:24-86).
    orderBy+limit plans as TakeOrderedAndProject (no global sort);
    the dim join is broadcast."""
    t = (
        traffic_history(spark, sf_dir)
        .orderBy(F.desc("ts"), F.desc("id"))
        .limit(TOPN_EXPORT)
    )
    d = camera_dim(spark, sf_dir)
    return (
        t.join(F.broadcast(d), d.cam_key == t.camera_id.cast("long"), "left")
        .select(
            "id",
            "ts",
            "camera_id",
            F.coalesce("cam_name", "camera_id").alias("location_name"),
            "new_count",
            "new_cars",
            "new_motors",
        )
        # reference export orders by (ts, id) DESC — id kept in the
        # projection so the emitted ordering is reproducible on ties
        .orderBy(F.desc("ts"), F.desc("id"))
    )


@register(
    oracle=with_traffic(
        """
SELECT DISTINCT t.camera_id
FROM traffic t
LEFT JOIN camera_dim d ON d.cam_key = CAST(t.camera_id AS BIGINT)
WHERE d.cam_key IS NULL
ORDER BY camera_id
""",
        extra_ctes=_DIM_CTE,
    ),
)
def q_zombie_cameras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 anti-join: camera ids with history but no config row —
    the reference's zombie-stats cleanup set arithmetic
    (app/utils.py:513-521) as a broadcast LEFT ANTI join."""
    t = traffic_history(spark, sf_dir).select("camera_id").distinct()
    d = camera_dim(spark, sf_dir)
    return (
        t.join(F.broadcast(d), d.cam_key == t.camera_id.cast("long"), "left_anti")
        .orderBy("camera_id")
    )


@register(
    oracle=with_traffic(
        """
SELECT DISTINCT t.camera_id
FROM traffic t
JOIN camera_dim d ON d.cam_key = CAST(t.camera_id AS BIGINT)
ORDER BY camera_id
""",
        extra_ctes=_DIM_CTE,
    ),
)
def q_configured_cameras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 semi-join twin of q_zombie_cameras: cameras present in both
    history and config (broadcast LEFT SEMI)."""
    t = traffic_history(spark, sf_dir).select("camera_id").distinct()
    d = camera_dim(spark, sf_dir)
    return (
        t.join(F.broadcast(d), d.cam_key == t.camera_id.cast("long"), "left_semi")
        .orderBy("camera_id")
    )


@register(
    oracle=with_traffic("""
, latest AS (
  SELECT camera_id, ts, new_count
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY camera_id ORDER BY ts DESC, id DESC) AS rn
    FROM traffic
  ) WHERE rn = 1
)
SELECT l.camera_id,
       CAST(xor(CAST(l.camera_id AS BIGINT), 1) AS VARCHAR) AS mirror_id,
       l.new_count AS own_count,
       COALESCE(m.new_count, l.new_count) AS mirrored_count,
       (m.camera_id IS NOT NULL) AS mirror_found
FROM latest l
LEFT JOIN latest m ON m.camera_id = CAST(xor(CAST(l.camera_id AS BIGINT), 1) AS VARCHAR)
ORDER BY l.camera_id
"""),
)
def q_mirror_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: mirror-camera stats — a camera configured with mirror_id
    serves another camera's live stats (reference
    app/services/camera.py:140-154). Mirror pairing: numeric id XOR 1
    (0↔1, 2↔3, …) so every SF has both matched and unmatched cameras.
    Self-join of the latest-stats view."""
    w = Window.partitionBy("camera_id").orderBy(F.desc("ts"), F.desc("id"))
    latest = (
        traffic_history(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("camera_id", "ts", "new_count")
    )
    mirror_key = (
        F.col("l.camera_id").cast("long").bitwiseXOR(F.lit(1)).cast("string")
    )
    l, m = latest.alias("l"), latest.alias("m")
    return (
        l.join(m, F.col("m.camera_id") == mirror_key, "left")
        .select(
            F.col("l.camera_id").alias("camera_id"),
            mirror_key.alias("mirror_id"),
            F.col("l.new_count").alias("own_count"),
            F.coalesce(F.col("m.new_count"), F.col("l.new_count")).alias("mirrored_count"),
            F.col("m.camera_id").isNotNull().alias("mirror_found"),
        )
        .orderBy("camera_id")
    )


# Backfill replay (J4): copy one camera's daily pattern onto synthetic
# future dates (reference app/utils.py:201-297 re-times a template
# camera's history). Template = camera '1', replayed onto 7 days.
TEMPLATE_CAMERA = "1"
REPLAY_START = "2024-02-01"
REPLAY_DAYS = 7


@register(
    oracle=with_traffic(f"""
, pattern AS (
  SELECT EXTRACT(hour FROM ts) AS hour_of_day,
         AVG(CAST(new_count AS BIGINT)) AS avg_count
  FROM traffic WHERE camera_id = '{TEMPLATE_CAMERA}'
  GROUP BY 1
),
days AS (
  SELECT CAST(unnest(generate_series(0, {REPLAY_DAYS - 1})) AS BIGINT) AS day_offset
)
SELECT d.day_offset,
       CAST(p.hour_of_day AS BIGINT) AS hour_of_day,
       make_timestamp((epoch_us(CAST(DATE '{REPLAY_START}' AS TIMESTAMP))
           + (d.day_offset * 86400 + p.hour_of_day * 3600) * 1000000)) AS replay_ts,
       CAST(FLOOR(p.avg_count) AS BIGINT) AS synthetic_count
FROM days d CROSS JOIN pattern p
ORDER BY replay_ts
"""),
)
def q_backfill_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: template-camera daily pattern replayed onto a date range
    (reference app/utils.py:201-297). The pattern extraction is one
    small agg; the fan-out is a broadcast cross join against a
    generated date spine; counts truncated with int() semantics."""
    h = traffic_history(spark, sf_dir)
    pattern = (
        h.filter(F.col("camera_id") == TEMPLATE_CAMERA)
        .groupBy(F.hour("ts").cast("long").alias("hour_of_day"))
        .agg(F.avg("new_count").alias("avg_count"))
    )
    days = spark.range(0, REPLAY_DAYS).select(F.col("id").alias("day_offset"))
    start_date = F.lit(REPLAY_START).cast("date")
    replay_ts = F.timestamp_seconds(
        F.unix_timestamp(start_date.cast("timestamp"))
        + F.col("day_offset") * 86400
        + F.col("hour_of_day") * 3600
    )
    return (
        F.broadcast(days)
        .crossJoin(pattern)
        .select(
            "day_offset",
            "hour_of_day",
            replay_ts.alias("replay_ts"),
            F.floor("avg_count").cast("long").alias("synthetic_count"),
        )
        .orderBy("replay_ts")
    )


# Camera profile classifier (reference app/utils.py:16-30): name
# keywords → traffic profile with a synthetic-load multiplier
# (EXTREME 'gedebage|soekarno hatta', HEAVY, ARTERIAL, RESIDENTIAL,
# DEFAULT). Here the keyword source is the dimension's market
# segment — the same string-match CASE ladder, fully JVM-side.
_PROFILE_RULES = [
    ("automobile|machinery", "EXTREME", 3.0),
    ("building", "HEAVY", 2.0),
    ("furniture", "ARTERIAL", 1.5),
    ("household", "RESIDENTIAL", 0.8),
]
_PROFILE_DEFAULT = ("DEFAULT", 1.0)


@register(
    oracle=f"""
SELECT CAST(c_custkey AS VARCHAR) AS camera_id,
       c_name AS cam_name,
       CASE {' '.join(f"WHEN regexp_matches(lower(c_mktsegment), '{pat}') THEN '{prof}'" for pat, prof, _ in _PROFILE_RULES)}
            ELSE '{_PROFILE_DEFAULT[0]}' END AS profile,
       CASE {' '.join(f"WHEN regexp_matches(lower(c_mktsegment), '{pat}') THEN {mult}" for pat, _, mult in _PROFILE_RULES)}
            ELSE {_PROFILE_DEFAULT[1]} END AS multiplier
FROM customer WHERE c_custkey % 4 <> 0
ORDER BY c_custkey
""",
)
def q_camera_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: keyword → profile classifier as a native when/rlike
    ladder over the camera dimension (reference app/utils.py:16-30).
    No UDF: lower+rlike stays inside whole-stage codegen."""
    d = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 != 0)
        .select("c_custkey", "c_name", F.lower("c_mktsegment").alias("seg"))
    )
    profile = F.lit(_PROFILE_DEFAULT[0])
    multiplier = F.lit(_PROFILE_DEFAULT[1])
    for pat, prof, mult in reversed(_PROFILE_RULES):
        profile = F.when(F.col("seg").rlike(pat), F.lit(prof)).otherwise(profile)
        multiplier = F.when(F.col("seg").rlike(pat), F.lit(mult)).otherwise(multiplier)
    return (
        d.select(
            F.col("c_custkey").cast("string").alias("camera_id"),
            F.col("c_name").alias("cam_name"),
            profile.alias("profile"),
            multiplier.alias("multiplier"),
        )
        .orderBy(F.col("camera_id").cast("long"))
    )


# As-of join (SURVEY.md §2.3 closing note: absent from the reference
# and from Spark's built-ins). Canonical time-series op: attach to each
# observation the most recent config version at or before its ts.
# Config versions are synthesized deterministically (3 versions per
# camera, 10 days apart) so both engines derive the same dimension.
ASOF_VERSIONS = 3
ASOF_EPOCH = "2024-01-01 00:00:00"
ASOF_STEP_DAYS = 10


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Generic point-in-time (as-of) join: attach to each left row the
    LATEST right row with ``right_ts <= left_ts`` for the same key.
    Spark has no native ASOF; this is the scalable union +
    carry-forward-window composition:

    1. union both sides onto a shared (key, ts) axis,
    2. one window per key ordered by (ts, side) carries the last seen
       right payload forward (``last ignoreNulls``) — right rows sort
       BEFORE left rows at equal ts, so a right row effective exactly
       at a left row's ts applies (inclusive semantics, matching
       DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts``),
    3. keep the left rows that have a payload in effect (inner).

    ONE shuffle on the key — never a per-row range probe; window state
    per key is a single payload struct. Returns the left columns plus
    the right payload columns (right minus key and timestamp).
    Verified against DuckDB's native ASOF JOIN on random inputs in
    tests/test_asof_property.py."""
    payload = [c for c in right.columns if c not in (on, right_ts)]
    l_struct = F.struct(*[F.col(c) for c in left.columns])
    r_struct = F.struct(*[F.col(c) for c in payload])
    l_type = left.select(l_struct.alias("x")).schema["x"].dataType
    r_type = right.select(r_struct.alias("x")).schema["x"].dataType
    lu = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_l"),
        l_struct.alias("_lrow"),
        F.lit(None).cast(r_type).alias("_pay"),
    )
    ru = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_l"),
        F.lit(None).cast(l_type).alias("_lrow"),
        r_struct.alias("_pay"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_is_l")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = (
        lu.unionByName(ru)
        .withColumn("_eff", F.last("_pay", ignorenulls=True).over(w))
        .filter((F.col("_is_l") == 1) & F.col("_eff").isNotNull())
    )
    return u.select(
        *[F.col(f"_lrow.{c}").alias(c) for c in left.columns],
        *[F.col(f"_eff.{c}").alias(c) for c in payload],
    )


def config_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cam_key, config_ts, speed_limit): a slowly-changing camera
    config dimension."""
    d = camera_dim(spark, sf_dir)
    v = spark.range(ASOF_VERSIONS).select(F.col("id").alias("version"))
    return (
        d.crossJoin(F.broadcast(v))
        .select(
            "cam_key",
            "version",
            (
                F.lit(ASOF_EPOCH).cast("timestamp")
                + F.make_interval(days=F.col("version").cast("int") * ASOF_STEP_DAYS)
            ).alias("config_ts"),
            (F.lit(50) + F.col("version") * 10 + F.col("cam_key") % 3).cast("long").alias(
                "speed_limit"
            ),
        )
    )


@register(
    oracle=with_traffic(f"""
, config_versions AS (
  SELECT c_custkey AS cam_key,
         v.version,
         TIMESTAMP '{ASOF_EPOCH}' + INTERVAL ({ASOF_STEP_DAYS}) DAY * v.version AS config_ts,
         CAST(50 + v.version * 10 + c_custkey % 3 AS BIGINT) AS speed_limit
  FROM customer
  CROSS JOIN (SELECT CAST(unnest(generate_series(0, {ASOF_VERSIONS - 1})) AS BIGINT) AS version) v
  WHERE c_custkey % 4 <> 0
)
SELECT t.camera_id,
       cv.version AS config_version,
       cv.speed_limit,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(t.new_count) AS BIGINT) AS total_new_count
FROM traffic t
ASOF JOIN config_versions cv
  ON CAST(t.camera_id AS BIGINT) = cv.cam_key AND t.ts >= cv.config_ts
GROUP BY t.camera_id, cv.version, cv.speed_limit
ORDER BY CAST(t.camera_id AS BIGINT), cv.version
"""),
)
def q_asof_config_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join of observations to their in-effect config version —
    built on the generic ``asof_join`` composition above (union +
    carry-forward window, one key shuffle; see its docstring). DuckDB's
    native ASOF JOIN is the oracle, so the composition is verified
    against a reference implementation of the semantics."""
    t = traffic_history(spark, sf_dir).select(
        F.col("camera_id").cast("long").alias("cam_key"),
        "ts",
        "new_count",
    )
    c = config_versions(spark, sf_dir)
    joined = asof_join(t, c, on="cam_key", left_ts="ts", right_ts="config_ts")
    return (
        joined.groupBy(
            F.col("cam_key"),
            F.col("version").alias("config_version"),
            F.col("speed_limit"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("new_count").cast("long").alias("total_new_count"),
        )
        .select(
            F.col("cam_key").cast("string").alias("camera_id"),
            "config_version",
            "speed_limit",
            "n_obs",
            "total_new_count",
        )
        .orderBy(F.col("camera_id").cast("long"), "config_version")
    )


_CONFIG_CTE = f"""
config_versions AS (
  SELECT c_custkey AS cam_key,
         v.version,
         TIMESTAMP '{ASOF_EPOCH}' + INTERVAL ({ASOF_STEP_DAYS}) DAY * v.version AS config_ts,
         CAST(50 + v.version * 10 + c_custkey % 3 AS BIGINT) AS speed_limit
  FROM customer
  CROSS JOIN (SELECT CAST(unnest(generate_series(0, {ASOF_VERSIONS - 1})) AS BIGINT) AS version) v
  WHERE c_custkey % 4 <> 0
)
""".strip()


@register(
    oracle=f"""
WITH {_CONFIG_CTE}
SELECT cam_key, version, speed_limit,
       config_ts AS valid_from,
       LEAD(config_ts) OVER (PARTITION BY cam_key ORDER BY config_ts) AS valid_to,
       LEAD(config_ts) OVER (PARTITION BY cam_key ORDER BY config_ts) IS NULL AS is_current
FROM config_versions
ORDER BY cam_key, version
""",
)
def q_scd2_config_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 interval build: turn a change-event stream (config
    versions) into [valid_from, valid_to) effectivity intervals with a
    single LEAD window per key — the standard lake-dimension build.
    valid_to of the latest version is NULL (open interval) and flags
    is_current. One shuffle on the dimension key; no join."""
    w = Window.partitionBy("cam_key").orderBy("config_ts")
    nxt = F.lead("config_ts").over(w)
    return (
        config_versions(spark, sf_dir)
        .select(
            "cam_key",
            "version",
            "speed_limit",
            F.col("config_ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("cam_key", "version")
    )


ALERT_THRESHOLD = 300
ALERT_LOOKBACK_MIN = 15


@register(
    oracle=with_traffic(f"""
SELECT o.camera_id, a.id AS alert_id, a.ts AS alert_ts,
       a.new_count AS alert_count, o.id, o.ts, o.new_count
FROM traffic o
JOIN traffic a
  ON o.camera_id = a.camera_id
 AND a.new_count >= {ALERT_THRESHOLD}
 AND o.ts >= a.ts - INTERVAL ({ALERT_LOOKBACK_MIN}) MINUTE
 AND o.ts <= a.ts
ORDER BY o.camera_id, alert_id, o.id
"""),
)
def q_interval_join_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval (range) join — the oracle-checked twin of
    streaming's `q_stream_stream_join`: every observation within the
    15-minute window before a congestion alert on the same camera.
    Equi-key on camera plus a two-sided time-range predicate: Spark
    plans the equi part as the join key (hash/sort-merge on camera)
    and applies the range as a join filter, so there is no nested
    loop; the alert side is pre-filtered (≥ threshold) before the
    join, shrinking the build side to the rare-event subset."""
    t = traffic_history(spark, sf_dir)
    obs = t.select("camera_id", "id", "ts", "new_count")
    alerts = (
        traffic_history(spark, sf_dir)
        .filter(F.col("new_count") >= ALERT_THRESHOLD)
        .select(
            F.col("camera_id").alias("a_camera"),
            F.col("id").alias("alert_id"),
            F.col("ts").alias("alert_ts"),
            F.col("new_count").alias("alert_count"),
        )
    )
    return (
        obs.join(
            alerts,
            (F.col("camera_id") == F.col("a_camera"))
            & (
                F.col("ts")
                >= F.col("alert_ts") - F.expr(f"INTERVAL {ALERT_LOOKBACK_MIN} MINUTES")
            )
            & (F.col("ts") <= F.col("alert_ts")),
        )
        .select(
            "camera_id", "alert_id", "alert_ts", "alert_count",
            "id", "ts", "new_count",
        )
        .orderBy("camera_id", "alert_id", "id")
    )


# The interval length IS the bin length, so every alert window spans
# exactly two consecutive bins — the explode factor is a constant 2.
_BIN_S = ALERT_LOOKBACK_MIN * 60


@register(
    oracle=with_traffic(f"""
SELECT o.camera_id, a.id AS alert_id, a.ts AS alert_ts,
       a.new_count AS alert_count, o.id, o.ts, o.new_count
FROM traffic o
JOIN traffic a
  ON o.camera_id = a.camera_id
 AND a.new_count >= {ALERT_THRESHOLD}
 AND o.ts >= a.ts - INTERVAL ({ALERT_LOOKBACK_MIN}) MINUTE
 AND o.ts <= a.ts
ORDER BY o.camera_id, alert_id, o.id
"""),
)
def q_interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH twin of `q_interval_join_alerts` (same rows,
    same oracle): time-bin blocking turns the range join into a pure
    equi-join on (camera, bin).

    Why it exists: Spark plans a range-join as an equi-join on the
    camera key with the time predicate as a post-join FILTER — fine
    when every camera is small, but one hot camera with k alerts and
    n observations builds k·n filter-input pairs on a single
    shuffle partition. Binning by the lookback length L fixes both
    failure modes at once: each alert's (ts−L, ts] window spans
    exactly TWO L-sized bins (constant explode factor), each
    observation lands in ONE bin, so the join key becomes
    (camera_id, bin) — candidate pairs only form within ±one bin of
    each other (the intermediate is output-proportional, not k·n),
    and a hot camera's year of history spreads over year/L bins
    instead of one reducer. Every matched pair is produced exactly
    once (the obs bin is unique), so no post-join dedup is needed —
    the hash check against the naive oracle proves the rewrite
    changes nothing."""
    t = traffic_history(spark, sf_dir)
    obs = t.select(
        "camera_id", "id", "ts", "new_count",
        F.call_function("div", epoch_s("ts"), F.lit(_BIN_S)).alias("bin"),
    )
    alerts = (
        traffic_history(spark, sf_dir)
        .filter(F.col("new_count") >= ALERT_THRESHOLD)
        .select(
            F.col("camera_id").alias("a_camera"),
            F.col("id").alias("alert_id"),
            F.col("ts").alias("alert_ts"),
            F.col("new_count").alias("alert_count"),
            F.explode(
                F.array(
                    F.call_function("div", epoch_s("ts"), F.lit(_BIN_S)) - 1,
                    F.call_function("div", epoch_s("ts"), F.lit(_BIN_S)),
                )
            ).alias("bin"),
        )
    )
    return (
        obs.join(
            alerts,
            (F.col("camera_id") == F.col("a_camera"))
            & (obs["bin"] == alerts["bin"])
            & (
                F.col("ts")
                >= F.col("alert_ts") - F.expr(f"INTERVAL {ALERT_LOOKBACK_MIN} MINUTES")
            )
            & (F.col("ts") <= F.col("alert_ts")),
        )
        .select(
            "camera_id", "alert_id", "alert_ts", "alert_count",
            "id", "ts", "new_count",
        )
        .orderBy("camera_id", "alert_id", "id")
    )


@register(
    oracle=with_traffic(
        """
, tot AS (
  SELECT camera_id, CAST(sum(new_count) AS BIGINT) AS total_count,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM traffic GROUP BY camera_id
)
SELECT COALESCE(t.camera_id, CAST(d.cam_key AS VARCHAR)) AS camera_id,
       COALESCE(t.total_count, 0) AS total_count,
       COALESCE(t.n_rows, 0) AS n_rows,
       d.cam_name,
       CASE WHEN t.camera_id IS NOT NULL AND d.cam_key IS NOT NULL THEN 'both'
            WHEN t.camera_id IS NOT NULL THEN 'history_only'
            ELSE 'config_only' END AS status
FROM tot t FULL OUTER JOIN camera_dim d ON d.cam_key = CAST(t.camera_id AS BIGINT)
ORDER BY camera_id
""",
        extra_ctes=_DIM_CTE,
    ),
)
def q_camera_reconcile_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric store reconciliation in ONE pass: FULL OUTER join of
    per-camera history totals against the camera config, classifying
    every camera as both / history_only / config_only.

    Generalizes the reference's two set differences (zombie cleanup +
    configured check, app/utils.py:513-521 — q_zombie_cameras and
    q_configured_cameras each produce one direction) into a single
    join that also carries the matched totals.

    Scale: the fact side collapses to per-camera totals BEFORE the
    join, so the full-outer runs over two dimension-sized inputs (full
    outer cannot broadcast — it must see both sides' unmatched rows —
    but post-aggregation both sides are ~cameras rows, so the one
    sort-merge exchange is trivial)."""
    t = traffic_history(spark, sf_dir)
    tot = t.groupBy("camera_id").agg(
        F.sum("new_count").alias("total_count"),
        F.count("*").alias("n_rows"),
    )
    d = camera_dim(spark, sf_dir)
    return (
        tot.join(d, d.cam_key == tot.camera_id.cast("long"), "full_outer")
        .select(
            F.coalesce(tot.camera_id, d.cam_key.cast("string")).alias("camera_id"),
            F.coalesce(F.col("total_count"), F.lit(0).cast("long")).alias(
                "total_count"
            ),
            F.coalesce(F.col("n_rows"), F.lit(0).cast("long")).alias("n_rows"),
            F.col("cam_name"),
            F.when(
                tot.camera_id.isNotNull() & d.cam_key.isNotNull(), F.lit("both")
            )
            .when(tot.camera_id.isNotNull(), F.lit("history_only"))
            .otherwise(F.lit("config_only"))
            .alias("status"),
        )
        .orderBy("camera_id")
    )


# CDC merge window: target state as of T1, one change batch [T1, T2).
CDC_T1_EPOCH = NOW_EPOCH - 28 * 86400
CDC_T2_EPOCH = CDC_T1_EPOCH + 3 * 86400

# The MERGE rule, shared by the audit query and the property tests
# (idempotence / batch composition in tests/test_joins.py): one
# definition so the tombstone/update/keep semantics cannot drift.
CDC_KEY = ["camera_id", "event_type"]


def cdc_latest_per_key(rows: DataFrame, col: str = "s") -> DataFrame:
    """Compact a change set to its latest row per key — max(struct) is
    commutative + idempotent, so the compaction is chunk-invariant."""
    return rows.groupBy(*CDC_KEY).agg(
        F.max(F.struct("ts", "id", "new_count")).alias(col)
    )


def cdc_joined(tgt: DataFrame, feed: DataFrame) -> DataFrame:
    """Full-outer target×feed with the post-merge state ``s_next``
    (NULL = row absent after the merge: a zero count tombstones)."""
    return tgt.join(feed, CDC_KEY, "full_outer").select(
        *CDC_KEY,
        "s",
        "f",
        F.when(F.col("f").isNull(), F.col("s"))
        .when(F.col("f.new_count") == 0, F.lit(None))
        .otherwise(F.col("f"))
        .alias("s_next"),
    )


def cdc_post_state(tgt: DataFrame, feed: DataFrame) -> DataFrame:
    """The merged target STATE — what the next batch merges into."""
    return (
        cdc_joined(tgt, feed)
        .filter(F.col("s_next").isNotNull())
        .select(*CDC_KEY, F.col("s_next").alias("s"))
    )


@register(
    oracle=with_traffic(f"""
, tgt AS (
  SELECT camera_id, event_type,
         MAX({{'ts': ts, 'id': id, 'new_count': new_count}}) AS s
  FROM traffic
  WHERE ts < make_timestamp(CAST({CDC_T1_EPOCH} AS BIGINT) * 1000000)
  GROUP BY 1, 2
),
feed AS (
  SELECT camera_id, event_type,
         MAX({{'ts': ts, 'id': id, 'new_count': new_count}}) AS f
  FROM traffic
  WHERE ts >= make_timestamp(CAST({CDC_T1_EPOCH} AS BIGINT) * 1000000)
    AND ts <  make_timestamp(CAST({CDC_T2_EPOCH} AS BIGINT) * 1000000)
  GROUP BY 1, 2
)
SELECT camera_id, event_type,
       t.s.new_count AS old_cnt,
       f.f.new_count AS feed_cnt,
       CASE WHEN f.f IS NULL THEN t.s.new_count
            WHEN f.f.new_count = 0 THEN NULL
            ELSE f.f.new_count END AS merged_cnt,
       CASE WHEN t.s IS NULL AND f.f.new_count > 0 THEN 'insert'
            WHEN t.s IS NULL THEN 'delete_miss'
            WHEN f.f IS NULL THEN 'keep'
            WHEN f.f.new_count = 0 THEN 'delete'
            ELSE 'update' END AS action
FROM tgt t FULL OUTER JOIN feed f USING (camera_id, event_type)
ORDER BY camera_id, event_type
"""),
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CDC upsert) semantics — the lakehouse operator that
    PRODUCES the snapshot generations q_snapshot_diff compares and the
    SCD-2 intervals q_asof_config_join replays: a keyed target table
    (latest per-key state as of T1) merged with one change batch
    ([T1, T2), compacted to its latest row per key; a zero count is
    the delete tombstone, the common CDC convention). Every MERGE
    branch is emitted with its audit action — matched+update,
    matched+delete, unmatched-source insert, tombstone-for-absent-key
    (delete_miss), and untouched target rows (keep) — alongside the
    post-merge state (merged_cnt; NULL = row absent after the merge).

    Scale shape: both sides compact via ONE hash aggregation each
    (max(struct) latest-per-key — map-side partial, no window), and
    the full-outer join runs co-partitioned: the two aggregations
    already hash-partition on exactly the join keys, so the join adds
    ZERO exchanges. On a real lakehouse table the target side is the
    stored partition layout and the feed is a day's batch — same
    plan, with AQE skew-split on pathological keys. Branch coverage
    at every SF is pinned by tests (all five actions non-empty at
    sf0.01)."""
    h = traffic_history(spark, sf_dir)
    t1 = F.timestamp_seconds(F.lit(CDC_T1_EPOCH))
    t2 = F.timestamp_seconds(F.lit(CDC_T2_EPOCH))
    tgt = cdc_latest_per_key(h.filter(F.col("ts") < t1), "s")
    feed = cdc_latest_per_key(
        h.filter((F.col("ts") >= t1) & (F.col("ts") < t2)), "f"
    )
    old_cnt = F.col("s.new_count")
    feed_cnt = F.col("f.new_count")
    return (
        cdc_joined(tgt, feed)
        .select(
            *CDC_KEY,
            old_cnt.alias("old_cnt"),
            feed_cnt.alias("feed_cnt"),
            F.col("s_next.new_count").alias("merged_cnt"),
            F.when(F.col("s").isNull() & (feed_cnt > 0), F.lit("insert"))
            .when(F.col("s").isNull(), F.lit("delete_miss"))
            .when(F.col("f").isNull(), F.lit("keep"))
            .when(feed_cnt == 0, F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("action"),
        )
        .orderBy(*CDC_KEY)
    )
