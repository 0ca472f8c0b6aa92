"""SQL window functions (SURVEY.md §2.5).

The reference has none — its "latest row per camera" is a dict field
overwritten in place (``app/services/camera.py:283-285``) and its
cumulative counts are ``+=`` under the GIL (``:287-290``). Ranking and
running-sum windows reproduce both semantics declaratively; at scale
each window shuffles once on camera_id (bounded cardinality, evenly
distributed in testdata; a hot camera is AQE-skew-split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import NOW_EPOCH, exact_ppm
from ..registry import register
from ..tables import traffic_history, with_traffic

# Client-side congestion ladder (reference dashboard.html:820-835) —
# deliberately DIFFERENT cutoffs from the prediction ladder
# (app/routes.py:288-307); both rule sets ship, as in the reference.
CONGESTION_SQL = """
CASE WHEN new_count <= 10 THEN 'LANCAR'
     WHEN new_count <= 25 THEN 'PADAT LANCAR'
     WHEN new_count <= 45 THEN 'MACET'
     ELSE 'MACET TOTAL' END
""".strip()


def congestion_col() -> F.Column:
    c = F.col("new_count")
    return (
        F.when(c <= 10, F.lit("LANCAR"))
        .when(c <= 25, F.lit("PADAT LANCAR"))
        .when(c <= 45, F.lit("MACET"))
        .otherwise(F.lit("MACET TOTAL"))
    )


@register(
    oracle=with_traffic(f"""
SELECT camera_id, ts, new_count, new_cars, new_motors,
       {CONGESTION_SQL} AS congestion
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY camera_id ORDER BY ts DESC, id DESC) AS rn
  FROM traffic
)
WHERE rn = 1
ORDER BY camera_id
"""),
)
def q_latest_per_camera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest observation per camera + client congestion ladder
    (reference current_count semantics, app/services/camera.py:283-285;
    ladder dashboard.html:820-835). row_number window, rn=1."""
    w = Window.partitionBy("camera_id").orderBy(F.desc("ts"), F.desc("id"))
    return (
        traffic_history(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "camera_id",
            "ts",
            "new_count",
            "new_cars",
            "new_motors",
            congestion_col().alias("congestion"),
        )
        .orderBy("camera_id")
    )


@register(
    oracle=with_traffic("""
SELECT camera_id, ts, id, new_count,
       CAST(SUM(new_count) OVER (PARTITION BY camera_id ORDER BY ts, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS accumulated_count
FROM traffic
ORDER BY camera_id, ts, id
"""),
)
def q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: per-camera cumulative counts as a plotted series — the
    reference's `accumulated_count += new_count` (app/services/
    camera.py:287-290) as a running-sum window."""
    w = (
        Window.partitionBy("camera_id")
        .orderBy("ts", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # No final orderBy: the running-sum window already shuffles by
    # camera and sorts (ts, id) within it; re-sorting the full
    # observation-sized output globally is a second range exchange
    # whose only effect is display order, which the driver gate
    # ignores (guide §2.4).
    return traffic_history(spark, sf_dir).select(
        "camera_id",
        "ts",
        "id",
        "new_count",
        F.sum("new_count").over(w).cast("long").alias("accumulated_count"),
    )


TOPK_PER_CAMERA = 3


@register(
    oracle=with_traffic(f"""
SELECT camera_id, ts, id, new_count, CAST(rn AS BIGINT) AS rank_in_camera
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY camera_id ORDER BY new_count DESC, id ASC) AS rn
  FROM traffic
)
WHERE rn <= {TOPK_PER_CAMERA}
ORDER BY camera_id, rank_in_camera
"""),
)
def q_topk_per_camera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K busiest observations per camera (ranking window; the
    bounded-retention analog of the reference's 50k-deque eviction,
    SURVEY.md §2.6 O5). Deterministic tie-break on id."""
    w = Window.partitionBy("camera_id").orderBy(F.desc("new_count"), F.asc("id"))
    return (
        traffic_history(spark, sf_dir)
        .withColumn("rank_in_camera", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_in_camera") <= TOPK_PER_CAMERA)
        .select("camera_id", "ts", "id", "new_count", "rank_in_camera")
        .orderBy("camera_id", "rank_in_camera")
    )


RETENTION_N = 100  # reference: HISTORY_MAX_LEN=50000 (app/config.py:25); small N so every SF exercises eviction


@register(
    oracle=with_traffic(f"""
SELECT camera_id, CAST(COUNT(*) AS BIGINT) AS kept_rows,
       MIN(ts) AS oldest_kept, MAX(ts) AS newest_kept
FROM (
  SELECT camera_id, ts,
         ROW_NUMBER() OVER (PARTITION BY camera_id ORDER BY ts DESC, id DESC) AS rn
  FROM traffic
)
WHERE rn <= {RETENTION_N}
GROUP BY camera_id
ORDER BY camera_id
"""),
)
def q_retention_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: bounded retention — keep the newest N rows per camera, the
    declarative form of the reference's deque(maxlen=HISTORY_MAX_LEN)
    eviction (app/config.py:23-25). One camera_id-partitioned ranking
    window; at scale this runs as a retention job over the fact table
    with partition pruning keeping the scan to recent dates."""
    h = traffic_history(spark, sf_dir)
    w = Window.partitionBy("camera_id").orderBy(F.desc("ts"), F.desc("id"))
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RETENTION_N)
        .groupBy("camera_id")
        .agg(
            F.count(F.lit(1)).alias("kept_rows"),
            F.min("ts").alias("oldest_kept"),
            F.max("ts").alias("newest_kept"),
        )
        .orderBy("camera_id")
    )


LIVENESS_STALE_S = 86400 * 2  # "offline" if silent for 2 days of event-time


@register(
    oracle=with_traffic(f"""
SELECT camera_id,
       MAX(ts) AS last_update,
       MAX(ts) < TIMESTAMP '2024-01-31 00:00:00' - INTERVAL {LIVENESS_STALE_S} SECOND AS is_offline
FROM traffic
GROUP BY camera_id
ORDER BY camera_id
"""),
)
def q_camera_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """St9: offline/online liveness per camera — max(ts) against a
    staleness cutoff (reference app/services/camera.py:190-193 flips a
    status field; dashboard.html:813-818 checks 30 s staleness).
    Pinned 'now' (compat.NOW_TS) for reproducibility."""
    from ..compat import NOW_TS

    h = traffic_history(spark, sf_dir)
    cutoff = F.lit(NOW_TS).cast("timestamp") - F.expr(f"INTERVAL {LIVENESS_STALE_S} SECONDS")
    return (
        h.groupBy("camera_id")
        .agg(F.max("ts").alias("last_update"))
        .select(
            "camera_id",
            "last_update",
            (F.col("last_update") < cutoff).alias("is_offline"),
        )
        .orderBy("camera_id")
    )


ROLLING_DAYS = 7


@register(
    oracle=with_traffic(f"""
, daily AS (
  SELECT camera_id, date_trunc('day', ts) AS day_ts,
         CAST(SUM(new_count) AS BIGINT) AS daily_total
  FROM traffic GROUP BY 1, 2
)
SELECT camera_id, day_ts, daily_total,
       CAST(COUNT(*) OVER w AS BIGINT) AS window_days,
       list_sort(list(daily_total) OVER w)
         [(CAST(COUNT(*) OVER w AS INTEGER) + 1) // 2] AS rolling_median
FROM daily
WINDOW w AS (PARTITION BY camera_id ORDER BY day_ts
             ROWS BETWEEN {ROLLING_DAYS - 1} PRECEDING AND CURRENT ROW)
ORDER BY camera_id, day_ts
"""),
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{ROLLING_DAYS}-day rolling median of daily totals per camera —
    the robust-trend line a dashboard drapes over the noisy daily
    series.

    Spark has no native rolling percentile; the frame is materialized
    with ``collect_list`` over a bounded ROWS window ({ROLLING_DAYS}
    elements max — constant memory) and the median is the LOWER-MIDDLE
    element of the sorted frame, an exact integer: no interpolation,
    no doubles, bit-identical on both engines. One shuffle on
    camera_id; the window sort is (camera_id, day_ts) — the
    pre-aggregated daily table, not raw facts."""
    daily = (
        traffic_history(spark, sf_dir)
        .groupBy("camera_id", F.date_trunc("day", "ts").alias("day_ts"))
        .agg(F.sum("new_count").cast("long").alias("daily_total"))
    )
    w = (
        Window.partitionBy("camera_id")
        .orderBy("day_ts")
        .rowsBetween(-(ROLLING_DAYS - 1), 0)
    )
    frame = F.sort_array(F.collect_list("daily_total").over(w))
    n = F.count(F.lit(1)).over(w)
    return daily.select(
        "camera_id",
        "day_ts",
        "daily_total",
        n.cast("long").alias("window_days"),
        F.element_at(frame, ((n + 1) / 2).cast("int")).alias("rolling_median"),
    )  # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)


GAP_MIN_S = 3600  # report silences longer than an hour


@register(
    oracle=with_traffic(f"""
, seq AS (
  SELECT camera_id, ts, id,
         LAG(ts) OVER (PARTITION BY camera_id ORDER BY ts, id) AS prev_ts
  FROM traffic
)
SELECT camera_id, prev_ts, ts AS resumed_ts,
       (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS gap_s
FROM seq
WHERE prev_ts IS NOT NULL
  AND (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 > {GAP_MIN_S}
ORDER BY camera_id, resumed_ts
"""),
)
def q_camera_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Camera outage detection: silences longer than {GAP_MIN_S} s
    between consecutive observations per camera — the historical twin
    of the St9 liveness check (reference flips `status` on staleness;
    this reports every past outage interval).

    One ``lag`` window pass per camera (the same single-window shape
    the VERDICT prescribed for IoU dedup — no rank+self-join); the gap
    is an exact integer microsecond difference, integer-divided to
    seconds, so the cutoff compares BIGINTs on both engines."""
    w = Window.partitionBy("camera_id").orderBy("ts", "id")
    h = traffic_history(spark, sf_dir).select(
        "camera_id", "ts", "id", F.lag("ts").over(w).alias("prev_ts")
    )
    gap_s = (F.unix_micros("ts") - F.unix_micros("prev_ts")) / F.lit(1000000)
    gap_s = F.floor(gap_s).cast("long")
    return (
        h.filter(F.col("prev_ts").isNotNull())
        .select(
            "camera_id",
            "prev_ts",
            F.col("ts").alias("resumed_ts"),
            gap_s.alias("gap_s"),
        )
        .filter(F.col("gap_s") > GAP_MIN_S)
        # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)
    )


# --------------------------------------------- time-RANGE frame

RANGE_TRAIL_US = 3_600 * 1_000_000  # trailing 1 hour, in microseconds


@register(
    oracle=with_traffic(
        f"""
SELECT camera_id, id, ts, new_count,
       CAST(sum(new_count) OVER w AS BIGINT) AS trailing_sum_1h,
       CAST(count(*) OVER w AS BIGINT) AS trailing_n_1h
FROM traffic
WINDOW w AS (PARTITION BY camera_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {RANGE_TRAIL_US} PRECEDING AND CURRENT ROW)
ORDER BY camera_id, id
"""
    ),
)
def q_trailing_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 1-hour totals via a time-RANGE window frame —
    the frame type every other window in the registry (ROWS /
    unbounded) doesn't exercise. Range frames are VALUE-based: all
    rows whose event time falls in [ts − 1 h, ts] join the frame, so
    timestamp ties are included symmetrically and the result is
    deterministic without a tie-break.

    Both engines order by exact integer epoch-MICROseconds
    (`unix_micros` / `epoch_us`) — ordering by raw timestamps would
    tie the frame boundary to each engine's sub-second truncation.

    Scale: one window pass partitioned by camera_id (high cardinality,
    skew-safe); Spark evaluates a sliding range frame incrementally
    (add/remove at the boundary), so per-row cost is amortized O(1),
    not O(frame)."""
    t = traffic_history(spark, sf_dir)
    w = (
        Window.partitionBy("camera_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-RANGE_TRAIL_US, 0)
    )
    return (
        t.select(
            "camera_id",
            "id",
            "ts",
            "new_count",
            F.sum("new_count").over(w).alias("trailing_sum_1h"),
            F.count("*").over(w).alias("trailing_n_1h"),
        )
        .orderBy("camera_id", "id")
    )


ATTRIB_WINDOW_US = 7 * 86400 * 1_000_000


@register(
    oracle=with_traffic(f"""
, seq AS (
  SELECT camera_id, id, ts, event_type,
         epoch_us(ts) AS e,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER (
           PARTITION BY camera_id ORDER BY epoch_us(ts)
           RANGE BETWEEN {ATTRIB_WINDOW_US} PRECEDING AND CURRENT ROW
         ) AS first_view_e
  FROM traffic
)
SELECT camera_id, id, ts,
       CASE WHEN first_view_e IS NOT NULL
            THEN make_timestamp(first_view_e) END AS first_view_ts,
       CAST(first_view_e IS NOT NULL AS INT) AS attributed,
       CASE WHEN first_view_e IS NOT NULL
            THEN CAST((e - first_view_e) // 1000000 AS BIGINT) END AS lag_s
FROM seq
WHERE event_type = 'purchase'
ORDER BY camera_id, id
"""),
)
def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase is credited to the
    EARLIEST view by the same user inside the trailing 7-day window —
    the classic marketing-attribution shape, and a window form nothing
    else in the registry exercises: a CONDITIONAL min over a
    value-based time-RANGE frame (compare q_trailing_range_sum's
    unconditional sum). Ordering on exact epoch micros keeps the frame
    tie-symmetric and deterministic without a tie-break column.

    One window pass partitioned by the high-cardinality user key, then
    a filter to purchases — no join, no second scan; the candidate
    views never materialize as rows."""
    h = traffic_history(spark, sf_dir)
    e = F.unix_micros("ts")
    w = (
        Window.partitionBy("camera_id")
        .orderBy(e)
        .rangeBetween(-ATTRIB_WINDOW_US, 0)
    )
    seq = h.select(
        "camera_id",
        "id",
        "ts",
        "event_type",
        e.alias("e"),
        F.min(F.when(F.col("event_type") == "view", e)).over(w).alias("first_view_e"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .select(
            "camera_id",
            "id",
            "ts",
            F.timestamp_micros("first_view_e").alias("first_view_ts"),
            F.col("first_view_e").isNotNull().cast("int").alias("attributed"),
            F.when(
                F.col("first_view_e").isNotNull(),
                F.floor((F.col("e") - F.col("first_view_e")) / 1_000_000).cast("long"),
            ).alias("lag_s"),
        )
        # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)
    )


@register(
    oracle=with_traffic("""
, seq AS (
  SELECT camera_id, event_type,
         LAG(event_type) OVER (PARTITION BY camera_id ORDER BY ts, id) AS prev_type
  FROM traffic
),
cnt AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       CAST(FLOOR(n * 1000000.0 / SUM(n) OVER (PARTITION BY prev_type)) AS BIGINT) AS p_ppm
FROM cnt
ORDER BY prev_type, next_type
"""),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next event type | current) — the behavioral-modeling
    prep step (session intent, anomaly priors) for event-stream
    corpora. One lag window on the user key, one (prev, next) count
    aggregate (≤ |types|² groups), and the row-normalization window
    runs over that dimension-sized matrix, never the facts. The
    probability ships as exact integer ppm (floor of n·10⁶/total) —
    a round()ed double can land on a half-tie where Spark (HALF_UP)
    and DuckDB (banker's) disagree; floor of an exact quotient cannot.
    """
    h = traffic_history(spark, sf_dir)
    w = Window.partitionBy("camera_id").orderBy("ts", "id")
    seq = h.select(
        "camera_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    cnt = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type"), F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return cnt.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        exact_ppm(F.col("n"), F.sum("n").over(wp)).cast("long").alias("p_ppm"),
    ).orderBy("prev_type", "next_type")


PATH_TOP_K = 15


@register(
    oracle=with_traffic(f"""
, seq AS (
  SELECT camera_id,
         LAG(event_type, 2) OVER w AS e1,
         LAG(event_type, 1) OVER w AS e2,
         event_type AS e3
  FROM traffic
  WINDOW w AS (PARTITION BY camera_id ORDER BY ts, id)
)
SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE e1 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, e1, e2, e3
LIMIT {PATH_TOP_K}
"""),
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: the most common 3-event sequences across user
    journeys (two lags over each user's ordered stream → trigram
    counts) — the "what do users actually do" exploration behind
    funnel design, generalizing q_markov_transitions to length-3
    context. One lag window on the user key + one ≤|types|³-group
    aggregate; top-k is TakeOrderedAndProject.
    """
    h = traffic_history(spark, sf_dir)
    w = Window.partitionBy("camera_id").orderBy("ts", "id")
    seq = h.select(
        F.lag("event_type", 2).over(w).alias("e1"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.col("event_type").alias("e3"),
    )
    return (
        seq.filter(F.col("e1").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(PATH_TOP_K)
    )


# SCD-2 band width: the tracked "state" of a camera is its congestion
# band; a new version opens whenever the band changes.
SCD2_BAND = 100


@register(
    oracle=with_traffic(f"""
, states AS (
  SELECT camera_id, ts, id,
         CAST(new_count // {SCD2_BAND} AS BIGINT) AS state
  FROM traffic
),
changes AS (
  SELECT camera_id, ts, id, state,
         LAG(state) OVER (PARTITION BY camera_id ORDER BY ts, id) AS prev_state
  FROM states
),
versions AS (
  SELECT camera_id, state, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY camera_id ORDER BY ts, id) AS valid_to,
         ROW_NUMBER() OVER (PARTITION BY camera_id ORDER BY ts, id) AS version
  FROM changes WHERE prev_state IS NULL OR state <> prev_state
)
SELECT camera_id, state, valid_from, valid_to,
       (valid_to IS NULL) AS is_current,
       CAST(version AS BIGINT) AS version,
       CAST(MAX(version) OVER (PARTITION BY camera_id) AS BIGINT) AS n_versions
FROM versions
ORDER BY camera_id, version
"""),
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 interval BUILD — the operator that PRODUCES the
    slowly-changing-dimension table the as-of join replays
    (q_asof_config_join) and the CDC merge maintains (q_cdc_merge):
    collapse each camera's event log to its state-CHANGE points (the
    tracked state is the congestion band new_count // SCD2_BAND) and
    emit one versioned validity interval per change — valid_from at
    the change event, valid_to at the next change (exclusive, NULL =
    current), with per-key version numbers.

    Scale shape: one window family, both passes partitioned by
    camera_id (bounded cardinality, AQE-skew-split if hot): a ``lag``
    pass marks change points on the full log, then ``lead`` + rank
    run on the CHANGE rows only — the version table is change-sized,
    not event-sized, which is the entire point of SCD-2 at 100 TB
    (store transitions, join as-of). Exact integer band arithmetic;
    the DuckDB twin hash-matches including timestamps."""
    h = traffic_history(spark, sf_dir).select(
        "camera_id",
        "ts",
        "id",
        F.call_function("div", F.col("new_count"), F.lit(SCD2_BAND)).alias("state"),
    )
    wk = Window.partitionBy("camera_id").orderBy("ts", "id")
    changes = h.withColumn("prev_state", F.lag("state").over(wk)).filter(
        F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state"))
    )
    versions = changes.select(
        "camera_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wk).alias("valid_to"),
        F.row_number().over(wk).cast("long").alias("version"),
    )
    return versions.select(
        "camera_id",
        "state",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
        "version",
        F.max("version")
        .over(Window.partitionBy("camera_id"))
        .cast("long")
        .alias("n_versions"),
    )  # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)


# Incremental SCD-2 maintenance window: the base table is "as stored"
# at T1; one CDC-style delta of events [T1, T2) is applied to it.
SCD2_APPLY_T1 = NOW_EPOCH - 9 * 86400
SCD2_APPLY_T2 = NOW_EPOCH - 2 * 86400


@register(
    oracle=with_traffic(f"""
, states AS (
  SELECT camera_id, ts, id,
         CAST(new_count // {SCD2_BAND} AS BIGINT) AS state
  FROM traffic
  WHERE ts < make_timestamp(CAST({SCD2_APPLY_T2} AS BIGINT) * 1000000)
),
changes AS (
  SELECT camera_id, ts, id, state,
         LAG(state) OVER (PARTITION BY camera_id ORDER BY ts, id) AS prev_state
  FROM states
),
versions AS (
  SELECT camera_id, state, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY camera_id ORDER BY ts, id) AS valid_to,
         ROW_NUMBER() OVER (PARTITION BY camera_id ORDER BY ts, id) AS version
  FROM changes WHERE prev_state IS NULL OR state <> prev_state
)
SELECT camera_id, state, valid_from, valid_to,
       (valid_to IS NULL) AS is_current,
       CAST(version AS BIGINT) AS version,
       CAST(MAX(version) OVER (PARTITION BY camera_id) AS BIGINT) AS n_versions
FROM versions
ORDER BY camera_id, version
"""),
)
def q_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD-2 MAINTENANCE — the nightly companion to
    q_scd2_build's full rebuild: the version table as stored at T1 is
    UPDATED with one CDC-style delta of events [T1, T2). The apply
    never re-windows base history: delta change points are detected
    by windowing the DELTA alone, seeded with each camera's current
    open version via a key-sized join; applying the feed then (a)
    closes the open interval of every camera whose delta starts a new
    version, (b) appends the new versions with version numbers
    continuing the base count, and (c) updates the per-camera
    n_versions via another key-sized join — untouched cameras pass
    through byte-identical.

    The oracle is the FULL REBUILD over everything before T2 (the
    same SQL as q_scd2_build, time-bounded), so the driver's hash
    check IS the incremental-equals-rebuild theorem for this feed —
    the invariant a lakehouse MERGE-maintained dimension must hold.

    Scale shape: the base build stands in for reading the stored
    version table (|changes| rows); the delta windows are bounded by
    the feed (|delta| rows, camera-partitioned); every other step is
    a camera-keyed join at version-table grain. No window ever spans
    base+delta — the base window family runs ONCE behind a lazy
    checkpoint and the drivable plan windows only the delta feed
    (plan-asserted: one visible Window node) — which is what makes
    nightly maintenance O(delta + versions), not O(history), at
    100 TB."""
    t1 = F.timestamp_seconds(F.lit(SCD2_APPLY_T1))
    t2 = F.timestamp_seconds(F.lit(SCD2_APPLY_T2))
    h = traffic_history(spark, sf_dir).select(
        "camera_id",
        "ts",
        "id",
        F.call_function("div", F.col("new_count"), F.lit(SCD2_BAND)).alias("state"),
    )
    wk = Window.partitionBy("camera_id").orderBy("ts", "id")

    # --- base: the version table "as stored" at T1 (same pipeline as
    # q_scd2_build, time-bounded) -------------------------------------
    base_h = h.filter(F.col("ts") < t1)
    base_changes = base_h.withColumn("prev_state", F.lag("state").over(wk)).filter(
        F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state"))
    )
    # change-sized; referenced by base_current, base_applied AND (via
    # base_current) the delta seed — a lazy checkpoint materializes the
    # base window family ONCE instead of once per consumer (the same
    # multi-reference rule as global_rank / q_dedup_clusters)
    base_versions = base_changes.select(
        "camera_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wk).alias("valid_to"),
        F.row_number().over(wk).cast("long").alias("version"),
    ).localCheckpoint(eager=False)
    # one open interval per camera; its version number == the base count
    base_current = base_versions.filter(F.col("valid_to").isNull()).select(
        "camera_id",
        F.col("state").alias("cur_state"),
        F.col("version").alias("cur_version"),
    )

    # --- delta: change detection over the feed alone, seeded with the
    # current state (a camera-keyed join, never a window over base) ---
    delta = h.filter((F.col("ts") >= t1) & (F.col("ts") < t2))
    seeded = delta.withColumn("prev_in_delta", F.lag("state").over(wk)).join(
        base_current, "camera_id", "left"
    )
    delta_changes = seeded.filter(
        F.coalesce("prev_in_delta", "cur_state").isNull()
        | (F.col("state") != F.coalesce("prev_in_delta", "cur_state"))
    ).localCheckpoint(eager=False)  # feeds new_versions AND feed_stats
    new_versions = delta_changes.select(
        "camera_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wk).alias("valid_to"),
        (
            F.coalesce("cur_version", F.lit(0))
            + F.row_number().over(wk).cast("long")
        ).alias("version"),
    )

    # --- apply: close opens, renumber totals (both camera-keyed) -----
    feed_stats = delta_changes.groupBy("camera_id").agg(
        F.min("ts").alias("close_ts"),
        F.count(F.lit(1)).cast("long").alias("n_new"),
    )
    base_applied = base_versions.join(feed_stats, "camera_id", "left").select(
        "camera_id",
        "state",
        "valid_from",
        F.when(
            F.col("valid_to").isNull() & F.col("close_ts").isNotNull(),
            F.col("close_ts"),
        )
        .otherwise(F.col("valid_to"))
        .alias("valid_to"),
        "version",
    )
    totals = base_current.select("camera_id", "cur_version").join(
        feed_stats.select("camera_id", "n_new"), "camera_id", "full_outer"
    ).select(
        "camera_id",
        (
            F.coalesce("cur_version", F.lit(0)) + F.coalesce("n_new", F.lit(0))
        ).alias("n_versions"),
    )
    applied = base_applied.unionByName(
        new_versions.select("camera_id", "state", "valid_from", "valid_to", "version")
    )
    return (
        applied.join(totals, "camera_id")
        .select(
            "camera_id",
            "state",
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            "version",
            "n_versions",
        )
        # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)
    )
