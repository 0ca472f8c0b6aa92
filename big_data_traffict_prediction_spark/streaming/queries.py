"""Driver-visible streaming queries — most of them HASH-CHECKED.

Each stages the deterministic detection stream into a scratch dir,
drains a bounded Structured Streaming query (availableNow) and returns
the result as a DataFrame — so the driver's correctness harness
exercises the real streaming path, not a batch stand-in.

Because the staged replay is TIME-ORDERED (stage_stream_dir sorts by
ts, id), the drained output of the event-time window/join queries is a
pure function of the input set, and therefore SQL-expressible:

- no window/session ever receives a row after the watermark passes its
  end (the watermark trails max-event-time by 30 min, and a window is
  still collecting only while rows ≤ its end arrive), so nothing is
  emitted twice or split;
- availableNow finalizes the watermark at drain time, so exactly the
  windows with ``end ≤ max(ts) - 30 min`` are emitted — a predicate
  DuckDB can evaluate;
- the stream-stream join never ages out a row before its partner
  arrives (both sides replay in lockstep and the 15 min join lookback
  is inside the 30 min watermark), so the drained join equals the
  batch theta join.

18 of the 21 registered streaming queries carry exact DuckDB oracles
(verified at sf0.001 and sf0.01). Three stay rows-only: the
custom-stateful applyInPandasWithState IoU dedup — its suppression
order is genuinely procedural; its batch-equivalence is pinned in
tests/test_streaming.py instead — and the LEFT / FULL OUTER
stream-stream joins, whose null-extended rows depend on the replay
chunking.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import NOW_EPOCH, md5_hash_sql
from ..operators.prediction import _THRESHOLDS_CTE
from ..registry import register
from ..tables import memo_on_input, with_traffic
from . import simulate, state, windows

# Final-watermark predicate used by every event-time oracle: emitted
# windows are exactly those closed before max(ts) - WATERMARK.
_WM_CTE = "wm AS (SELECT MAX(ts) - INTERVAL '30 minutes' AS w FROM traffic)"


# Staged input is a pure function of the events files and the chunk
# count: the same deterministic detection frame cut into STAGE_CHUNKS
# time-ordered chunks. Staging it once per (chunk count, Spark
# application, events stamp) and replaying the SAME files for all
# streaming queries saves a count + global sort + the chunk parquet
# writes per query; an append to events changes the stamp and restages
# (tables.memo_on_input). The staged input is read-only; every drain
# still gets a FRESH checkpoint scratch (see _drain), which is what
# must not be shared. Replay order is modification-time order, fixed
# at staging.
#
# 2 chunks = one real cross-batch state handoff per drain at the
# minimum micro-batch count: each batch costs ~1.1-1.2 s FIXED
# (measured r11: 4 chunks 5.1 s, 2 chunks 2.7-3.2 s, 1 chunk 1.6 s for
# the same drained output) and the drained result is
# chunking-invariant by construction (pinned by
# tests/test_streaming.py::test_tumbling_counts_chunking_invariant and
# the per-query invariance tests, which drain the registered queries
# at other STAGE_CHUNKS values).
STAGE_CHUNKS = 2


def _stage(spark: SparkSession, sf_dir: str) -> str:
    root = tempfile.mkdtemp(prefix="traffic_stage_")
    atexit.register(shutil.rmtree, root, True)
    simulate.stage_stream_dir(spark, sf_dir, f"{root}/stage", n_chunks=STAGE_CHUNKS)
    return f"{root}/stage"


def _drain(
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[Callable[[], DataFrame]], DataFrame],
    output_mode: str = "append",
    sized_state: bool = True,
    sink: Callable[[DataFrame, str, int | None], DataFrame] | None = None,
) -> DataFrame:
    """Drain one bounded replay of the staged detection stream — the
    one drain path of every registered streaming query.

    ``build(read)`` returns the streaming plan; each ``read()`` opens a
    fresh reader over the shared staged input. The plan drains into a
    uniquely named memory sink (or through ``sink(plan, scratch,
    state_rows)``, which must return a frame that no longer reads
    ``scratch``) with its checkpoint in a per-call scratch dir, removed
    when the drain returns or raises. The returned frame owns its rows,
    so an earlier result stays readable after later calls.

    ``sized_state`` sizes the state-store partitions
    (windows.stream_state_partitions) for the staged row count, which
    bounds the distinct state keys of every drain; False keeps the
    constant cap — the per-row Python-state drains, whose partition
    count is their Python parallelism, not state size."""
    stage = memo_on_input(
        f"stream_stage_{STAGE_CHUNKS}",
        spark,
        sf_dir,
        ("events",),
        lambda: _stage(spark, sf_dir),
    )
    state_rows = simulate.staged_rows(stage) if sized_state else None
    scratch = tempfile.mkdtemp(prefix="traffic_stream_")
    try:
        plan = build(lambda: simulate.read_stream(spark, stage))
        if sink is not None:
            return sink(plan, scratch, state_rows)
        return windows.run_to_memory(
            spark,
            plan,
            f"q_stream_{uuid.uuid4().hex}",
            f"{scratch}/ckpt",
            output_mode=output_mode,
            state_rows=state_rows,
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@register(oracle=None)
def q_stream_iou_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """St2-St3: per-camera stateful IoU dedup + accumulators over the
    simulated stream (applyInPandasWithState). Equals the batch
    operator q_iou_dedup on the suppressed-set (tested)."""
    # NO state sizing: applyInPandasWithState runs a per-row PYTHON
    # kernel, so the partition count is a Python-parallelism knob, not
    # a state-sizing knob — the sized cap (2 at sf0.1) measured the
    # congestion twin ~3x slower than the constant (r14 A/B)
    out = _drain(
        spark, sf_dir, lambda read: state.stateful_dedup(read()), sized_state=False
    )
    return out.orderBy("camera_id", "id")


@register(
    oracle=with_traffic(
        """
SELECT window_start, window_start + INTERVAL '1 hour' AS window_end, camera_id,
       CAST(total_new_count AS BIGINT) AS total_new_count,
       CAST(n_samples AS BIGINT) AS n_samples
FROM (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, camera_id,
         SUM(new_count) AS total_new_count, COUNT(*) AS n_samples
  FROM traffic GROUP BY 1, 2
), wm
WHERE window_start + INTERVAL '1 hour' <= w
ORDER BY window_start, camera_id
""",
        extra_ctes=_WM_CTE,
    ),
)
def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """St5: tumbling event-time windows with watermark over the
    simulated stream. Hash-checked: the drained append-mode output is
    exactly the batch hourly aggregate restricted to windows closed by
    the final watermark (module docstring)."""
    out = _drain(spark, sf_dir, lambda read: windows.tumbling_counts(read(), "1 hour"))
    return out.orderBy("window_start", "camera_id")

@register(
    oracle=with_traffic(
        """
SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
       CAST(SUM(new_count) AS BIGINT) AS total_new_count
FROM (
  SELECT t.new_count,
         time_bucket(INTERVAL '15 minutes', t.ts) - (g.i * INTERVAL '15 minutes')
           AS window_start
  FROM traffic t, generate_series(0, 3) AS g(i)
), wm
WHERE window_start + INTERVAL '1 hour' <= w
GROUP BY 1, 2
ORDER BY window_start
""",
        extra_ctes=_WM_CTE,
    ),
)
def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """St4: sliding event-time windows (1h window / 15m slide) — the
    streaming form of the reference's trailing-window stats
    (app/utils.py:523-565). Hash-checked: each row lands in 4 slides
    (the generate_series fan-out in the oracle), windows closed by the
    final watermark emit."""
    out = _drain(spark, sf_dir, lambda read: windows.sliding_counts(read()))
    return out.orderBy("window_start")


@register(
    oracle=with_traffic(
        """
SELECT MIN(ts) AS session_start, MAX(ts) + INTERVAL '30 minutes' AS session_end,
       camera_id,
       CAST(SUM(new_count) AS BIGINT) AS session_total,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
  SELECT camera_id, ts, new_count,
         SUM(is_new) OVER (PARTITION BY camera_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM (
    SELECT camera_id, ts, new_count,
           CASE WHEN LAG(ts) OVER (PARTITION BY camera_id ORDER BY ts) IS NULL
                  OR ts - LAG(ts) OVER (PARTITION BY camera_id ORDER BY ts)
                     >= INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS is_new
    FROM traffic
  )
), wm
GROUP BY camera_id, sid, w
HAVING MAX(ts) + INTERVAL '30 minutes' <= w
ORDER BY session_start, camera_id
""",
        extra_ctes=_WM_CTE,
    ),
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """St6: session windows (30m gap) per camera — not in the
    reference's surface; rounds out the event-time window family.
    Hash-checked. Spark session semantics, mirrored exactly in the
    oracle: a row ≥ gap after its predecessor opens a new session
    (half-open merge), session_end = last ts + gap, and only sessions
    closed by the final watermark emit."""
    out = _drain(spark, sf_dir, lambda read: windows.session_counts(read()))
    return out.orderBy("session_start", "camera_id")


# Both exactly-once dedup queries answer with the single-delivery
# per-camera counts: the oracle IS the exactly-once contract.
_DELIVERY_ORACLE = with_traffic(
    """
SELECT camera_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(new_count) AS BIGINT) AS total_new_count
FROM traffic GROUP BY camera_id ORDER BY camera_id
"""
)


def _twice_delivered_counts(
    spark: SparkSession, sf_dir: str, dedup: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Per-camera counts over the staged stream delivered TWICE (read
    twice and unioned, watermarked) and deduplicated by ``dedup``."""

    def build(read):
        twice = read().unionByName(read()).withWatermark("ts", "30 minutes")
        return dedup(twice).groupBy("camera_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("new_count").alias("total_new_count"),
        )

    # the stage is read twice, but the distinct dedup keys (the state)
    # stay bounded by the staged rows, which size the drain
    out = _drain(spark, sf_dir, build, output_mode="complete")
    return out.orderBy("camera_id")


@register(oracle=_DELIVERY_ORACLE)
def q_stream_dedup_delivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once event delivery from an at-least-once transport:
    the staged stream is read TWICE and unioned (every record delivered
    2×), then streaming dropDuplicates on (id, ts) with the watermark
    bounding dedup state — the standard Kafka-consumer dedup shape.
    Hash-checked: per-camera counts over the deduped stream must equal
    the single-delivery batch counts exactly — the oracle IS the
    exactly-once contract."""
    return _twice_delivered_counts(
        spark, sf_dir, lambda s: s.dropDuplicates(["id", "ts"])
    )


from ..operators.joins import ALERT_LOOKBACK_MIN  # noqa: E402

ALERT_THRESHOLD = 300
ALERT_LOOKBACK = f"{ALERT_LOOKBACK_MIN} minutes"

_MATCH_COLS = ["camera_id", "alert_id", "alert_ts", "alert_count", "id", "ts", "new_count"]

# The batch theta join that the inner stream-stream join (plain and
# bin-blocked) must reproduce row for row.
_ALERT_JOIN_ORACLE = with_traffic(
    f"""
SELECT t.camera_id, a.alert_id, a.alert_ts, a.alert_count, t.id, t.ts, t.new_count
FROM traffic t
JOIN (SELECT camera_id AS a_camera, ts AS alert_ts, id AS alert_id,
             new_count AS alert_count
      FROM traffic WHERE new_count >= {ALERT_THRESHOLD}) a
  ON t.camera_id = a.a_camera
 AND t.ts >= a.alert_ts - INTERVAL {ALERT_LOOKBACK}
 AND t.ts <= a.alert_ts
ORDER BY t.camera_id, a.alert_id, t.id
"""
)


def _alert_join(read: Callable[[], DataFrame], how: str) -> DataFrame:
    """Watermarked stream-stream interval join of raw detections to the
    derived congestion-alert stream of the same feed: per camera,
    observation time within [alert - lookback, alert]."""
    obs = read().withWatermark("ts", "30 minutes")
    alerts = (
        read()
        .filter(F.col("new_count") >= ALERT_THRESHOLD)
        .select(
            F.col("camera_id").alias("a_camera"),
            F.col("ts").alias("alert_ts"),
            F.col("id").alias("alert_id"),
            F.col("new_count").alias("alert_count"),
        )
        .withWatermark("alert_ts", "30 minutes")
    )
    return obs.join(
        alerts,
        (F.col("camera_id") == F.col("a_camera"))
        & (F.col("ts") >= F.col("alert_ts") - F.expr(f"INTERVAL {ALERT_LOOKBACK}"))
        & (F.col("ts") <= F.col("alert_ts")),
        how,
    )


@register(oracle=_ALERT_JOIN_ORACLE)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (the one streaming operator class the
    other registered streams don't cover): raw detections joined to a
    derived congestion-alert stream of the same feed, per camera,
    observation time within [alert - 15 min, alert]. BOTH sides carry
    watermarks and the join condition bounds both event times — the
    requirements for Spark to age out join state; without them state
    grows forever. Hash-checked: the replayed sides advance in
    lockstep and the 15 min lookback sits inside the 30 min watermark,
    so no row is evicted before its partner arrives and the drained
    join equals the batch theta join."""
    out = _drain(
        spark, sf_dir, lambda read: _alert_join(read, "inner").select(*_MATCH_COLS)
    )
    return out.orderBy("camera_id", "alert_id", "id")


# The lookback length IS the bin length (see q_interval_join_binned):
# every alert window spans exactly two consecutive bins. Derived from
# the SAME constant as the join condition — the 2-bin completeness
# proof requires bin length >= lookback.
_SJ_BIN_S = ALERT_LOOKBACK_MIN * 60


@register(oracle=_ALERT_JOIN_ORACLE)
def q_stream_interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-blocked stream-stream interval join — the streaming twin of
    q_interval_join_binned (operators/joins.py): the alert side
    explodes each alert into its TWO lookback-length time bins and the
    join key becomes (camera_id, bin), so the event-time range is a
    post-join filter over candidates that already share a bin. Same
    drained rows as q_stream_stream_join (every matched pair is
    produced exactly once — the obs bin is unique), so the SAME batch
    oracle hash-checks the rewrite end to end.

    Why it exists in the streaming registry too: Structured Streaming
    partitions join STATE by the equi-key — with camera-only keys one
    EXTREME camera concentrates its entire watermark window of state
    (and every candidate comparison) on a single state-store
    partition, the streaming analog of the batch hot-reducer. Adding
    the bin spreads a hot camera's state over watermark/L bins at a
    constant 2× duplication of the (rare, pre-filtered) alert side —
    state per partition is bounded by (bin length × arrival rate),
    not by the camera's full window. Both sides stay watermarked and
    both event times stay bounded in the condition, so state eviction
    works unchanged."""
    from ..compat import epoch_s

    def build(read):
        obs = read().select(
            "camera_id",
            "id",
            "ts",
            "new_count",
            F.call_function("div", epoch_s("ts"), F.lit(_SJ_BIN_S)).alias("bin"),
        ).withWatermark("ts", "30 minutes")
        alerts = (
            read()
            .filter(F.col("new_count") >= ALERT_THRESHOLD)
            .select(
                F.col("camera_id").alias("a_camera"),
                F.col("ts").alias("alert_ts"),
                F.col("id").alias("alert_id"),
                F.col("new_count").alias("alert_count"),
                F.explode(
                    F.array(
                        F.call_function("div", epoch_s("ts"), F.lit(_SJ_BIN_S)) - 1,
                        F.call_function("div", epoch_s("ts"), F.lit(_SJ_BIN_S)),
                    )
                ).alias("a_bin"),
            )
            .withWatermark("alert_ts", "30 minutes")
        )
        return obs.join(
            alerts,
            (F.col("camera_id") == F.col("a_camera"))
            & (F.col("bin") == F.col("a_bin"))
            & (F.col("ts") >= F.col("alert_ts") - F.expr(f"INTERVAL {ALERT_LOOKBACK}"))
            & (F.col("ts") <= F.col("alert_ts")),
        ).select(*_MATCH_COLS)

    return _drain(spark, sf_dir, build).orderBy("camera_id", "alert_id", "id")


def _outer_join_rows(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Drained row-level output of the watermarked stream-stream
    interval join in the given outer mode — the shared body of the
    LEFT and FULL OUTER queries. Null-extended rows emit once the
    watermark evicts their join state, so the null SET depends on the
    replay chunking (see the registered queries for why that makes
    row-level output unsuitable as a driver signal)."""
    return _drain(
        spark,
        sf_dir,
        lambda read: _alert_join(read, how).select(
            "camera_id", "a_camera", *_MATCH_COLS[1:]
        ),
    )


# Checksum formula shared by the streaming summaries and their batch
# twins in tests: per-pair xxhash64 folded into [0, 2^31) so a SUM over
# any realistic pair count stays far from long overflow (Spark 4 runs
# ANSI mode — a wrapped sum would throw, not wrap).
def pair_checksum(cols: list[str], when=None):
    h = F.pmod(F.xxhash64(*cols), F.lit(2**31))
    return F.sum(h if when is None else F.when(when, h))


def stream_stream_left_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level LEFT OUTER drain (tests pin subset invariants on it)."""
    return _outer_join_rows(spark, sf_dir, "left_outer").drop("a_camera")


@register(oracle=None)
def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every detection flows
    through; those with no congestion alert in the next 15 minutes
    emit null-extended ONCE their join state is evicted by the
    watermark (obs row evictable when watermark > ts + lookback).

    Rows-only by design: unlike the inner join (whose output is
    eviction-independent and therefore hash-checked), outer-join null
    emission is gated on per-micro-batch watermark advancement — the
    drained null SET depends on the replay chunking, an
    engine-scheduling artifact, not data semantics. The registered
    surface therefore summarizes the drain per camera into
    chunking-INVARIANT columns — ``matched_pairs`` and
    ``matched_checksum`` (xxhash64 fold over every matched pair's full
    column set) both equal the batch inner join exactly, and the row
    count (#cameras with a matched pair) is deterministic, so the
    driver's rows-only count is a real signal — plus the informational
    ``null_obs_rows`` (eviction-timing dependent by nature).
    tests/test_streaming.py pins the summary against the batch twin
    AND the row-level subset invariants via stream_stream_left_rows.
    At 100 TB this is the same state-bounded interval-join plan as
    q_stream_stream_join — both sides watermarked, both event times
    bounded, state ∝ (watermark window × arrival rate), never
    history."""
    rows = stream_stream_left_rows(spark, sf_dir)
    matched = F.col("alert_id").isNotNull()
    return (
        rows.groupBy("camera_id")
        .agg(
            F.sum(matched.cast("long")).alias("matched_pairs"),
            pair_checksum(_MATCH_COLS, when=matched).alias("matched_checksum"),
            F.sum((~matched).cast("long")).alias("null_obs_rows"),
        )
        .filter(F.col("matched_pairs") > 0)
        .orderBy("camera_id")
    )


@register(
    oracle=with_traffic(
        """
SELECT t.camera_id, t.id, t.ts, t.new_count, th.p90
FROM traffic t
JOIN thresholds th USING (camera_id)
WHERE CAST(t.new_count AS DOUBLE) > th.p90
ORDER BY t.camera_id, t.id
""",
        extra_ctes=_THRESHOLDS_CTE.replace("{SUBSET}", ""),
    ),
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (the enrich-with-dim streaming pattern the
    stream-stream query doesn't cover): live detections join the
    batch-computed per-camera percentile thresholds and only
    over-p90 observations flow through, labeled with their threshold.

    The static side is a bounded batch DataFrame resolved per
    micro-batch and broadcast — no watermark and no state: Spark
    treats the dim as a lookup table, exactly how a 100 TB deployment
    scores a live feed against nightly-built baselines. Stateless →
    rows-only driver check; equality with the batch filter is pinned
    in tests/test_streaming.py."""
    from ..operators.prediction import camera_thresholds

    static = camera_thresholds(spark, sf_dir).select("camera_id", "p90")
    out = _drain(
        spark,
        sf_dir,
        lambda read: read()
        .join(F.broadcast(static), "camera_id")
        .filter(F.col("new_count").cast("double") > F.col("p90"))
        .select("camera_id", "id", "ts", "new_count", "p90"),
    )
    return out.orderBy("camera_id", "id")


@register(
    oracle=with_traffic(
        f"""
, seq AS (
  SELECT camera_id, ts, id, new_count,
         SUM(CASE WHEN new_count >= {state.EPISODE_THRESHOLD} THEN 0 ELSE 1 END)
           OVER (PARTITION BY camera_id ORDER BY ts, id
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM traffic
),
lows AS (
  SELECT camera_id,
         SUM(CASE WHEN new_count < {state.EPISODE_THRESHOLD} THEN 1 ELSE 0 END)
           AS n_low
  FROM traffic GROUP BY camera_id
)
SELECT s.camera_id, MIN(s.ts) AS episode_start, MAX(s.ts) AS episode_end,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(MAX(s.new_count) AS BIGINT) AS peak,
       CAST(SUM(s.new_count) AS BIGINT) AS total
FROM seq s JOIN lows l ON s.camera_id = l.camera_id
WHERE s.new_count >= {state.EPISODE_THRESHOLD}
GROUP BY s.camera_id, s.grp, l.n_low
HAVING s.grp < l.n_low
ORDER BY s.camera_id, episode_start
"""
    ),
)
def q_stream_congestion_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-camera congestion-episode detection: keyed state holds the
    open episode (start/end/n/peak/total); a below-threshold
    observation closes and emits it (`state.congestion_episodes`, one
    `applyInPandasWithState` operator keyed by camera_id).

    Hash-checked: on the time-ordered replay, closed episodes are
    exactly the consecutive-high gap-islands that have a later
    below-threshold row on the same camera (island index < per-camera
    low-row count) — the oracle's HAVING clause; the still-open tail
    episode stays in state and is correctly absent from both sides."""
    # NO state sizing: per-row Python kernel — see q_stream_iou_dedup
    out = _drain(
        spark, sf_dir, lambda read: state.congestion_episodes(read()), sized_state=False
    )
    return out.orderBy("camera_id", "episode_start")


@register(oracle=_DELIVERY_ORACLE)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` twin of q_stream_dedup_delivery —
    the recommended modern form: state for a key is dropped once the
    watermark passes its event time plus the delay, so the dedup
    buffer is bounded WITHOUT requiring exact-duplicate event times to
    land in the same window (the classic dropDuplicates-with-watermark
    pitfall). Identical exactly-once contract, hash-checked against
    the single-delivery batch counts."""
    return _twice_delivered_counts(
        spark, sf_dir, lambda s: s.dropDuplicatesWithinWatermark(["id"])
    )


@register(
    oracle=with_traffic(
        """
SELECT camera_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
       CAST(SUM(new_count) AS BIGINT) AS total_new_count,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM traffic GROUP BY 1, 2 ORDER BY camera_id, d
"""
    ),
)
def q_stream_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate: foreachBatch reduces each epoch
    to per-(camera, day) partial sums landed as idempotent epoch_id
    partitions (windows.run_rollup_partials); the serving query
    re-aggregates the partials. HASH-CHECKED against the plain batch
    daily aggregate — partial sums over disjoint epochs are chunking-
    invariant, so the streaming path must reproduce the batch answer
    exactly. This is the maintenance loop behind q_hybrid_rollup's
    cold tier."""

    def serve(plan: DataFrame, scratch: str, state_rows: int | None) -> DataFrame:
        part_dir = windows.run_rollup_partials(
            plan, scratch, f"{scratch}/ckpt", state_rows=state_rows
        )
        rollup = (
            spark.read.parquet(part_dir)
            .groupBy("camera_id", "d")
            .agg(
                F.sum("partial_total").cast("long").alias("total_new_count"),
                F.sum("partial_n").cast("long").alias("n_events"),
            )
        )
        # executor-side materialization: the serving aggregate lives in
        # the block manager, outlives the partials' scratch and never
        # funnels through the driver
        return rollup.localCheckpoint(eager=True)

    return _drain(spark, sf_dir, lambda read: read(), sink=serve).orderBy("camera_id", "d")


def stream_stream_full_outer_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level FULL OUTER drain (tests pin subset invariants on it)."""
    return _outer_join_rows(spark, sf_dir, "full_outer")


@register(oracle=None)
def q_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the last member of the
    join-mode family (inner: hash-checked; left: rows-only; this side
    completes the surface). Detections pair with congestion alerts in
    the 15-minute lookback; unmatched rows from EITHER side emit
    null-extended once the watermark evicts their join state. Like the
    left join, the null SETS depend on per-micro-batch watermark
    advancement (an engine-scheduling artifact), so the registered
    surface is the per-camera summary: chunking-invariant
    ``matched_pairs`` + ``matched_checksum`` (equal to the batch inner
    join, making the driver's rows-only count deterministic) alongside
    informational ``null_obs_rows`` / ``null_alert_rows`` for the two
    eviction-dependent unmatched sides. Row-level subset invariants
    are pinned in tests via stream_stream_full_outer_rows. State stays
    bounded on both sides: both inputs watermarked and both event
    times constrained, so state ∝ (watermark window × arrival rate)."""
    rows = stream_stream_full_outer_rows(spark, sf_dir)
    matched = F.col("alert_id").isNotNull() & F.col("id").isNotNull()
    null_obs = F.col("alert_id").isNull()
    null_alert = F.col("id").isNull()
    # unmatched alert rows carry a null left-side camera_id; fold both
    # sides' keys so every row lands on its real camera
    camera = F.coalesce(F.col("camera_id"), F.col("a_camera"))
    return (
        rows.withColumn("camera_id", camera)
        .groupBy("camera_id")
        .agg(
            F.sum(matched.cast("long")).alias("matched_pairs"),
            pair_checksum(_MATCH_COLS, when=matched).alias("matched_checksum"),
            F.sum(null_obs.cast("long")).alias("null_obs_rows"),
            F.sum(null_alert.cast("long")).alias("null_alert_rows"),
        )
        .filter(F.col("matched_pairs") > 0)
        .orderBy("camera_id")
    )


from ..operators.pipeline import (  # noqa: E402  (shared sketch pieces)
    _HLL_CELL_SQL,
    _HLL_RAW_SQL,
    _HLL_V_SQL,
    _hll_estimate,
    _hll_final_sql,
)

_SHLL_H_SQL = md5_hash_sql("'shll#' || camera_id", 10)


@register(
    oracle=with_traffic(
        f"""
, hb AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         {_HLL_CELL_SQL}
  FROM (SELECT ts, {_SHLL_H_SQL} AS h FROM traffic)
),
regs AS (
  SELECT window_start, bucket, MAX(rank) AS reg FROM hb GROUP BY 1, 2
),
est0 AS (
  SELECT window_start,
         {_HLL_RAW_SQL} AS raw,
         {_HLL_V_SQL} AS v
  FROM regs GROUP BY 1
)
SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
       {_hll_final_sql("raw", "v")} AS hll_cameras
FROM est0, wm
WHERE window_start + INTERVAL '1 hour' <= w
ORDER BY window_start
""",
        extra_ctes=_WM_CTE,
    ),
)
def q_stream_hll_cameras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-camera estimates per hour window from HLL
    REGISTERS AS THE STREAMING STATE — the bounded-memory answer to
    streaming COUNT(DISTINCT): exact distinct must hold every id seen
    per open window (state ∝ cardinality), registers hold 64 small
    ints per window whatever the cardinality, and merge across
    micro-batches by ``max`` — which is commutative and idempotent,
    so the drained append-mode output is invariant to chunking and
    replay order and the whole pipeline hash-checks against the
    batch-twin oracle (the rare fully-verified streaming sketch).
    The estimate itself (pipeline._hll_estimate, the estimator
    q_hll_distinct calls; the oracle uses its SQL forms) runs
    POST-DRAIN on the register table — 64 rows per closed window,
    never the stream."""
    out = _drain(spark, sf_dir, lambda read: windows.hll_register_windows(read()))
    regs = out.select(
        F.struct("window_start", "window_end").alias("grp"), "bucket", "reg"
    )
    return (
        _hll_estimate(regs)
        .select(
            "grp.window_start",
            "grp.window_end",
            F.col("hll_users").alias("hll_cameras"),
        )
        .orderBy("window_start")
    )


# Streaming CDC upsert window: target state as of T1 (batch side), one
# change stream [T1, T2) compacted to latest-per-camera IN the stream.
STREAM_CDC_T1_EPOCH = NOW_EPOCH - 29 * 86400  # stays on the dataset epoch
STREAM_CDC_T2_EPOCH = STREAM_CDC_T1_EPOCH + 2 * 86400


@register(
    oracle=with_traffic(f"""
, tgt AS (
  SELECT camera_id, MAX({{'ts': ts, 'id': id, 'new_count': new_count}}) AS s
  FROM traffic
  WHERE ts < make_timestamp(CAST({STREAM_CDC_T1_EPOCH} AS BIGINT) * 1000000)
  GROUP BY 1
),
feed AS (
  SELECT camera_id, MAX({{'ts': ts, 'id': id, 'new_count': new_count}}) AS f
  FROM traffic
  WHERE ts >= make_timestamp(CAST({STREAM_CDC_T1_EPOCH} AS BIGINT) * 1000000)
    AND ts <  make_timestamp(CAST({STREAM_CDC_T2_EPOCH} AS BIGINT) * 1000000)
  GROUP BY 1
)
SELECT camera_id,
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
FROM tgt t FULL OUTER JOIN feed f USING (camera_id)
ORDER BY camera_id
"""),
)
def q_stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE INTO: the change feed is compacted to its
    latest row per camera INSIDE the stream — state is ONE struct per
    key, merged across micro-batches by lexicographic ``max(struct(
    ts, id, new_count))``, which is commutative and idempotent, so
    the drained complete-mode output is invariant to chunking and
    replay order and the whole upsert hash-checks against the batch
    oracle (same discipline as q_stream_hll_cameras: sketch/state in
    the stream, exact SQL twin in DuckDB). The merge itself runs
    post-drain against the batch target (latest per-camera state as
    of T1) with the same five-branch conflict rules as q_cdc_merge —
    a zero count is the delete tombstone.

    Scale shape: streaming state is |keys| structs (bounded like the
    HLL registers — never ∝ stream length); the post-drain side is a
    key-sized join. This is the foreachBatch-upsert pattern every
    lakehouse streaming ingest uses, with the state compaction kept
    INSIDE Structured Streaming where it is exactly-once."""
    from ..tables import traffic_history

    t1 = F.timestamp_seconds(F.lit(STREAM_CDC_T1_EPOCH))
    t2 = F.timestamp_seconds(F.lit(STREAM_CDC_T2_EPOCH))
    drained = _drain(
        spark,
        sf_dir,
        lambda read: read()
        .filter((F.col("ts") >= t1) & (F.col("ts") < t2))
        .groupBy("camera_id")
        .agg(F.max(F.struct("ts", "id", "new_count")).alias("f")),
        output_mode="complete",
    )
    tgt = (
        traffic_history(spark, sf_dir)
        .filter(F.col("ts") < t1)
        .groupBy("camera_id")
        .agg(F.max(F.struct("ts", "id", "new_count")).alias("s"))
    )
    old_cnt = F.col("s.new_count")
    feed_cnt = F.col("f.new_count")
    return (
        tgt.join(drained, "camera_id", "full_outer")
        .select(
            "camera_id",
            old_cnt.alias("old_cnt"),
            feed_cnt.alias("feed_cnt"),
            F.when(F.col("f").isNull(), old_cnt)
            .when(feed_cnt == 0, F.lit(None).cast("long"))
            .otherwise(feed_cnt)
            .alias("merged_cnt"),
            F.when(F.col("s").isNull() & (feed_cnt > 0), F.lit("insert"))
            .when(F.col("s").isNull(), F.lit("delete_miss"))
            .when(F.col("f").isNull(), F.lit("keep"))
            .when(feed_cnt == 0, F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("action"),
        )
        .orderBy("camera_id")
    )


from ..operators.scans import _ZM_BLOOM_SQL, zm_bloom_bit  # noqa: E402


@register(
    oracle=with_traffic(f"""
SELECT strftime(ts, '%Y-%m-%d') AS d,
       CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(new_count) AS BIGINT) AS min_count,
       CAST(MAX(new_count) AS BIGINT) AS max_count,
       {_ZM_BLOOM_SQL} AS bloom_fp
FROM traffic GROUP BY 1, 2
ORDER BY d, hr
"""),
)
def q_stream_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING data-skipping index build — the ingest-side twin of
    q_zone_map_stats: zone stats accumulate as complete-mode streaming
    aggregation state while files land, so the skipping index is
    already current when the batch job would only be starting. Every
    kept stat is a commutative, associative fold (count, min, max,
    bit_or) — each input row is absorbed exactly once into per-zone
    state, so the drained output is invariant to chunking and replay
    order and the whole index hash-checks against the batch SQL (the
    same discipline as the streaming HLL and CDC twins). The bloom
    bit is scans.zm_bloom_bit and the oracle's fingerprint is
    scans._ZM_BLOOM_SQL, both shared with the batch index. The
    non-mergeable COUNT(DISTINCT) is absent here for the same reason
    it is absent from q_zone_map_merge: streaming state must be
    mergeable, which is exactly the lakehouse stats restriction.

    Scale shape: state is |zones| rows of five scalars — partition
    grain, never row grain; at 100 TB the same query reads Kafka/file
    drops and the index lands via foreachBatch upsert."""
    out = _drain(
        spark,
        sf_dir,
        lambda read: read()
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            F.hour("ts").cast("long").alias("hr"),
            "new_count",
            zm_bloom_bit(F.col("camera_id")).alias("bit"),
        )
        .groupBy("d", "hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("new_count").cast("long").alias("min_count"),
            F.max("new_count").cast("long").alias("max_count"),
            F.bit_or(
                F.call_function("shiftleft", F.lit(1).cast("long"), F.col("bit"))
            )
            .cast("long")
            .alias("bloom_fp"),
        ),
        output_mode="complete",
    )
    return out.orderBy("d", "hr")


from ..operators.pipeline import _dds_oracle as _dds_oracle_shared  # noqa: E402


@register(
    # the streaming sketch must equal the batch rebuild bit for bit —
    # one oracle text serves both registrations
    oracle=_dds_oracle_shared(),
)
def q_stream_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING mergeable quantiles: the DDSketch bucket counts
    accumulate as complete-mode aggregation state while files land
    (counts are additive, so the drained sketch is chunking-invariant
    — same law the batch test pins); the quantile picks run once on
    the drained |cameras × buckets| table. Hash-checked against the
    SAME oracle as the batch q_ddsketch_quantiles: the strongest
    possible statement that streaming ingestion and batch rebuild
    produce the identical sketch.

    Scale shape: state is |cameras × ~48 buckets| counts — the
    persisted-sketch pattern; at 100 TB the drain lands per-window
    sketches via foreachBatch and readers merge by bucket-wise SUM."""
    from pyspark.sql import Window

    from ..operators.pipeline import DDS_QS, dds_bucket, dds_upper

    drained = _drain(
        spark,
        sf_dir,
        lambda read: read()
        .select("camera_id", dds_bucket(F.col("new_count")).alias("bucket"))
        .groupBy("camera_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c")),
        output_mode="complete",
    )
    wcum = (
        Window.partitionBy("camera_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("camera_id")
    cum = drained.select(
        "camera_id",
        dds_upper(F.col("bucket")).alias("upper"),
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum")
                >= F.call_function("div", F.col("n") * q + 99, F.lit(100)),
                F.col("upper"),
            )
        )
        .cast("long")
        .alias(f"p{q}_est")
        for q in DDS_QS
    ]
    return (
        cum.groupBy("camera_id")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            *picks,
        )
        .orderBy("camera_id")
    )


from ..operators.scans import _HIST_CTES as _HIST_CTES_SHARED  # noqa: E402


@register(
    oracle=with_traffic(f"""
, {_HIST_CTES_SHARED}
SELECT bucket, lo, hi, n_rows, ndv FROM hist ORDER BY bucket
"""),
)
def q_stream_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING equi-depth histogram: the value-frequency table — the
    MERGEABLE sufficient statistic of the histogram (see
    q_histogram_merge) — accumulates as complete-mode aggregation
    state while files land (counts are additive, so the drained vf is
    chunking-invariant), and the rank-quantile bucket view is derived
    once from the drained domain-sized frame. Hash-checked against
    the SAME oracle as the batch q_histogram_stats: streaming
    ingestion and batch rebuild produce the identical histogram — and
    the split of labor IS the design lesson: the stream maintains
    what merges (frequencies), the read derives what doesn't
    (quantile bounds).

    Scale shape: state is |value domain| counts — partition-grain
    sketch state like the streaming HLL/zone-map/DDSketch twins; the
    post-drain bucket derivation is the broadcast-spine overlap join
    of hist_buckets_from_vf, value-domain-sized at any fact scale."""
    from ..operators.scans import hist_buckets_from_vf, hist_value_freq

    # the SAME vf statistic as the batch/merge queries — reusing the
    # helper keeps the streaming twin in lock-step with its oracle
    out = _drain(
        spark, sf_dir, lambda read: hist_value_freq(read()), output_mode="complete"
    )
    return hist_buckets_from_vf(spark, out).orderBy("bucket")


from ..operators.tsdb import _JOIN_SKETCH_ORACLE  # noqa: E402  (shared text)


@register(oracle=_JOIN_SKETCH_ORACLE)
def q_stream_join_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING join-cardinality sketch: the CM_DEPTH×CM_WIDTH dual
    grid of q_join_size_sketch maintained as complete-mode aggregation
    state while detection files land — the planner statistic that
    answers "how big would AM-events ⋈ PM-events be?" WITHOUT ever
    re-scanning the fact. Grid cells are plain sums (additive across
    micro-batches), so the drained grid equals the batch rebuild cell
    for cell and the whole pipeline hash-checks against the SAME
    oracle as the batch estimator — streaming maintenance == rebuild,
    the discipline every mergeable statistic in this repo follows
    (HLL, zone map, DDSketch, histogram vf, now the join-size grid).
    The estimate (min over depth rows of the inner product) and the
    exact witness run POST-DRAIN: min is not additive, so the stream
    maintains what merges (cells) and the read derives what doesn't.

    Scale shape: state is 2·CM_DEPTH·CM_WIDTH (4×512) cells per grid —
    fixed-size whatever the fact rate; at 100 TB/day this is how join
    stats stay CURRENT (the alternative, nightly ANALYZE re-scans, is
    a full-fact read). The exact witness is test-scale honesty, never
    computed by a production planner."""
    from ..operators.tsdb import (
        am_pm_from,
        am_pm_sides,
        cm_estimate_from_grid,
        cm_join_grid,
        cm_sketch_vs_exact,
    )

    out = _drain(
        spark,
        sf_dir,
        lambda read: cm_join_grid(am_pm_from(read())),
        output_mode="complete",
    )
    return cm_sketch_vs_exact(
        am_pm_sides(spark, sf_dir), cm_estimate_from_grid(out)
    )


from ..operators.pipeline import (  # noqa: E402  (shared ANALYZE pieces)
    ANALYZE_TAIL_SQL,
    _analyze_stack_sql,
    _canon_int_sql,
)

# The detection stream's profiled columns (canonical images identical
# to the batch ANALYZE discipline: sign-split zero-padded integers,
# second-truncated timestamps).
_ST_ANALYZE_COLS_SQL = {
    "camera_id": "camera_id",
    "ts": "strftime(ts, '%Y-%m-%d %H:%M:%S')",
    "new_count": _canon_int_sql("new_count"),
    "new_cars": _canon_int_sql("new_cars"),
}


@register(
    oracle=with_traffic(f""", base AS (
{_analyze_stack_sql(_ST_ANALYZE_COLS_SQL, "traffic")}
){ANALYZE_TAIL_SQL}"""),
)
def q_stream_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANALYZE — per-column planner statistics maintained as
    aggregation state while detection files land, so the optimizer's
    row/null counts, min/max and NDV sketch stay CURRENT without a
    nightly full-table stats scan. The design lesson is the state
    GRAIN: one complete-mode aggregation at (column, HLL-bucket) grain
    — the finest grain at which EVERY kept statistic is a commutative
    fold (counts add, canonical min/max fold, register ranks max) —
    then the read rolls up to column grain and derives the HLL
    estimate post-drain. Exact NDV is the one statistic that cannot
    stream (state ∝ cardinality — the very reason the HLL column
    exists); it rides along as a batch-computed witness, like the
    exact joins in the estimator family. Shares the batch ANALYZE's
    source-agnostic oracle tail verbatim, so the driver hash pins
    streaming maintenance == batch rebuild end to end.

    Scale shape: state is |columns| × 64 register-bucket rows + their
    fold cells — fixed-size whatever the event rate; the post-drain
    rollup touches only that frame."""
    from ..operators.pipeline import (
        analyze_hash_col,
        analyze_stack,
        canon_int_col,
        hll_bucket_col,
        hll_rank_col,
    )
    from ..tables import traffic_history

    def canon(df: DataFrame) -> dict:
        return {
            "camera_id": df["camera_id"],
            "ts": F.date_format(df["ts"], "yyyy-MM-dd HH:mm:ss"),
            "new_count": canon_int_col(df["new_count"]),
            "new_cars": canon_int_col(df["new_cars"]),
        }

    def build(read):
        rows = read()
        stack = analyze_stack(rows, canon(rows)).select(
            "col", "val", analyze_hash_col()
        )
        return (
            stack.select(
                "col",
                "val",
                F.coalesce(hll_bucket_col(F.col("h")), F.lit(-1)).alias("bucket"),
                hll_rank_col(F.col("h")).alias("rank"),
            )
            .groupBy("col", "bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum(F.col("val").isNull().cast("long")).cast("long").alias("nnull"),
                F.min("val").alias("mn"),
                F.max("val").alias("mx"),
                F.max("rank").alias("reg"),
            )
        )

    out = _drain(spark, sf_dir, build, output_mode="complete")
    prof = out.groupBy("col").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum("nnull").cast("long").alias("n_null"),
        F.min("mn").alias("min_val"),
        F.max("mx").alias("max_val"),
    )
    est = _hll_estimate(
        out.filter(F.col("bucket") >= 0).select(
            F.col("col").alias("grp"), "bucket", "reg"
        )
    ).select(F.col("grp").alias("col"), F.col("hll_users").alias("ndv_hll"))
    # the one non-streamable statistic, computed batch-side as witness.
    # Two-level hash aggregation (value-frequency grain, then count the
    # distinct rows) instead of countDistinct: the single-distinct plan
    # sort-aggregates the full |columns|x|rows| string stack, while the
    # vf shape is two map-side-combined hash aggs — the same rewrite
    # that carried q_analyze_table (r13-opt; measured ~1.4x here).
    # count("val") skips the NULL-value group, matching countDistinct.
    h = traffic_history(spark, sf_dir)
    ndv = (
        analyze_stack(h, canon(h))
        .groupBy("col", "val")
        .agg(F.lit(1))
        .groupBy("col")
        .agg(F.count("val").cast("long").alias("ndv_exact"))
    )
    return (
        prof.join(ndv, "col")
        .join(est, "col")
        .select(
            F.col("col").alias("col_name"),
            "n_rows",
            "n_null",
            "ndv_exact",
            F.col("ndv_hll").cast("long").alias("ndv_hll"),
            "min_val",
            "max_val",
        )
        .orderBy("col_name")
    )


from ..operators.scans import _EQ_SEL_ORACLE  # noqa: E402  (shared text)


@register(oracle=_EQ_SEL_ORACLE)
def q_stream_mcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING equality-stats maintenance — the third leg of the
    MCV family (build q_selectivity_equality, incremental q_mcv_merge,
    now streaming): the per-key count frame — the family's mergeable
    sufficient statistic — accumulates as complete-mode aggregation
    state while detection files land (counts are additive, so the
    drained frame is chunking-invariant), and the MCV list + workload
    error profile derive post-drain. Hash-checks against the SAME
    full-rebuild oracle as both batch legs: streaming maintenance ==
    rebuild, completing the build/incremental/streaming triple that
    the histogram, zone-map and join-grid statistics already have.

    Scale shape: state is one count per distinct key (key-domain-
    sized, the same artifact ANALYZE persists); the post-drain
    profile is a top-K plus one broadcast-marked pass over that
    frame — the fact never re-scans."""
    from ..operators.scans import equality_selectivity_profile

    out = _drain(
        spark,
        sf_dir,
        lambda read: read()
        .groupBy("camera_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        output_mode="complete",
    )
    return equality_selectivity_profile(out)
