"""Streaming slice tests: stateful IoU dedup ≡ batch operator,
windowed aggs ≡ batch groupBy, dual sink writes both stores.

All streams are bounded (availableNow over staged chunks) so they
drain synchronously inside the test."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_traffict_prediction_spark.streaming import simulate, state, windows


@pytest.fixture(scope="module")
def stage_dir(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_stage")
    return simulate.stage_stream_dir(spark, sf_dir, str(d), n_chunks=5)


def test_stateful_dedup_matches_batch_operator(spark, sf_dir, stage_dir, tmp_path):
    from big_data_traffict_prediction_spark.operators.iou import q_iou_dedup

    stream = simulate.read_stream(spark, stage_dir)
    out = windows.run_to_memory(
        spark,
        state.stateful_dedup(stream),
        "dedup_out",
        str(tmp_path / "ckpt_dedup"),
    )
    stream_suppressed = {
        r.id for r in out.filter(F.col("suppressed")).select("id").collect()
    }
    batch_suppressed = {
        r.event_id
        for r in q_iou_dedup(spark, sf_dir).filter(F.col("suppressed")).collect()
    }
    assert stream_suppressed == batch_suppressed

    # accumulator: final per-camera accumulated == sum of non-suppressed
    final = (
        out.groupBy("camera_id")
        .agg(F.max("accumulated_count").alias("acc"))
        .collect()
    )
    expected = (
        out.filter(~F.col("suppressed"))
        .groupBy("camera_id")
        .agg(F.sum("new_count").alias("s"))
        .collect()
    )
    assert {r.camera_id: r.acc for r in final} == {r.camera_id: r.s for r in expected}


def test_tumbling_window_matches_batch(spark, sf_dir, stage_dir, tmp_path):
    stream = simulate.read_stream(spark, stage_dir)
    got = windows.run_to_memory(
        spark,
        windows.tumbling_counts(stream, "1 hour"),
        "tumbling_out",
        str(tmp_path / "ckpt_tumbling"),
    )
    batch = (
        simulate.detections_frame(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "camera_id")
        .agg(F.sum("new_count").alias("total_new_count"), F.count(F.lit(1)).alias("n_samples"))
        .select(
            F.col("w.start").alias("window_start"),
            "camera_id",
            "total_new_count",
            "n_samples",
        )
    )
    got_set = {
        (r.window_start, r.camera_id, r.total_new_count, r.n_samples)
        for r in got.collect()
    }
    batch_set = {
        (r.window_start, r.camera_id, r.total_new_count, r.n_samples)
        for r in batch.collect()
    }
    # availableNow + watermark: windows not yet past the watermark at
    # the final batch are withheld in append mode — got ⊆ batch, and
    # every emitted window must match batch exactly
    assert got_set <= batch_set
    assert len(got_set) >= len(batch_set) * 0.8, (
        f"too few windows emitted: {len(got_set)}/{len(batch_set)}"
    )


def test_session_window_runs(spark, stage_dir, tmp_path):
    stream = simulate.read_stream(spark, stage_dir)
    got = windows.run_to_memory(
        spark,
        windows.session_counts(stream, "30 minutes"),
        "session_out",
        str(tmp_path / "ckpt_session"),
    )
    rows = got.collect()
    assert rows
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1


def test_dual_sink_writes_fact_and_snapshot(spark, sf_dir, stage_dir, tmp_path):
    out_dir = str(tmp_path / "dual")
    stream = simulate.read_stream(spark, stage_dir)
    windows.run_dual_sink(stream, out_dir, str(tmp_path / "ckpt_dual"))

    fact = spark.read.parquet(f"{out_dir}/fact")
    snap = spark.read.parquet(f"{out_dir}/latest_snapshot")
    n_src = simulate.detections_frame(spark, sf_dir).count()
    assert fact.count() == n_src
    # snapshot holds exactly the cameras of the LAST epoch, with their
    # true latest row
    assert snap.count() >= 1
    last = {r.camera_id: r.current_count for r in snap.collect()}
    latest_rows = (
        fact.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("camera_id").orderBy(F.desc("ts"), F.desc("id"))
            ),
        )
        .filter("rn = 1")
        .collect()
    )
    latest = {r.camera_id: r.new_count for r in latest_rows}
    for cam, cnt in last.items():
        assert latest[cam] == cnt

    # foreachBatch is at-least-once: replaying the whole stream (fresh
    # checkpoint, same sink dirs) must NOT duplicate fact rows — each
    # epoch dynamically overwrites its own epoch_id partition
    windows.run_dual_sink(stream, out_dir, str(tmp_path / "ckpt_dual_replay"))
    assert spark.read.parquet(f"{out_dir}/fact").count() == n_src


def test_processing_time_trigger_runs_micro_batches(spark, stage_dir, tmp_path):
    """St1: the reference polls every camera on a 2 s cadence
    (app/config.py:22). Exercise the REAL processingTime trigger once:
    start the stateful IoU-dedup stream with trigger(processingTime=
    '2 seconds'), wait for at least two trigger firings, stop."""
    import time

    stream = simulate.read_stream(spark, stage_dir)
    q = (
        state.stateful_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("pt_trigger_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_pt"))
        .trigger(processingTime="2 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        rows = 0
        while time.time() < deadline:
            rows = spark.sql("SELECT count(*) FROM pt_trigger_out").first()[0]
            lp = q.lastProgress
            if rows > 0 and lp is not None and lp["batchId"] >= 1:
                break
            time.sleep(1)
        assert rows > 0, "no rows emitted by processingTime micro-batches"
        assert q.lastProgress["batchId"] >= 1, "needed >=2 trigger firings"
    finally:
        q.stop()


def test_watermark_late_row_semantics(spark, tmp_path):
    """St7, pinned to Spark's actual aggregation semantics: the
    watermark bounds STATE (windows finalize when the watermark passes
    their end). A late row arriving while its window is still live
    merges into it — no data loss; finalized output is emitted exactly
    once per window."""
    import datetime as dt

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "id long, camera_id string, ts timestamp, new_count long, "
            "new_cars long, new_motors long, x1 long, y1 long, x2 long, y2 long",
        )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    stage = tmp_path / "late_stage"
    # b0: opens window 10; b1: 13:00 advances the watermark past window
    # 10's end; b2: a 10:15 straggler arrives in the same batch that
    # finalizes window 10 -> merges (no loss, no duplicate emission)
    mk([(1, "A", t(10, 0), 5, 5, 0, 0, 0, 1, 1)]).coalesce(1).write.parquet(
        str(stage / "chunk=000")
    )
    mk([(2, "A", t(13, 0), 7, 7, 0, 0, 0, 1, 1)]).coalesce(1).write.parquet(
        str(stage / "chunk=001")
    )
    mk([(3, "A", t(10, 15), 999, 999, 0, 0, 0, 1, 1)]).coalesce(1).write.parquet(
        str(stage / "chunk=002")
    )
    import glob
    import os

    for i, d in enumerate(sorted(glob.glob(str(stage / "chunk=*")))):
        for f in glob.glob(f"{d}/*.parquet"):
            os.utime(f, (1e9 + i * 1000, 1e9 + i * 1000))

    stream = simulate.read_stream(spark, str(stage))
    got = windows.run_to_memory(
        spark,
        windows.tumbling_counts(stream, "1 hour"),
        "late_semantics_test",
        str(tmp_path / "ckpt"),
    )
    rows = got.collect()
    sums = {r.window_start.hour: r.total_new_count for r in rows}
    # window 10 emitted exactly once, with the straggler merged in
    assert len(rows) == 1 and sums == {10: 1004}, f"got {sums}"


def test_stream_dedup_delivery_matches_single_delivery(spark, sf_dir):
    """Double-delivered stream + dropDuplicates == batch counts of the
    single-delivery frame (exactly-once semantics restored)."""
    from big_data_traffict_prediction_spark.streaming.queries import (
        q_stream_dedup_delivery,
    )

    got = {
        (r.camera_id, r.n_events, r.total_new_count)
        for r in q_stream_dedup_delivery(spark, sf_dir).collect()
    }
    batch = {
        (r.camera_id, r.n_events, r.total_new_count)
        for r in simulate.detections_frame(spark, sf_dir)
        .groupBy("camera_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("new_count").alias("total_new_count"),
        )
        .collect()
    }
    assert got == batch


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream join output == the same join done in batch over
    the full frame (availableNow drains everything, so no windows are
    withheld for a row-level join)."""
    from big_data_traffict_prediction_spark.streaming.queries import (
        ALERT_THRESHOLD,
        q_stream_stream_join,
    )

    got = {
        (r.camera_id, r.alert_id, r.id)
        for r in q_stream_stream_join(spark, sf_dir).collect()
    }
    d = simulate.detections_frame(spark, sf_dir)
    alerts = d.filter(F.col("new_count") >= ALERT_THRESHOLD).select(
        F.col("camera_id").alias("a_camera"),
        F.col("ts").alias("alert_ts"),
        F.col("id").alias("alert_id"),
    )
    batch = {
        (r.camera_id, r.alert_id, r.id)
        for r in d.join(
            alerts,
            (F.col("camera_id") == F.col("a_camera"))
            & (F.col("ts") >= F.col("alert_ts") - F.expr("INTERVAL 15 minutes"))
            & (F.col("ts") <= F.col("alert_ts")),
        ).collect()
    }
    assert got and got == batch


def test_stream_static_join_matches_batch(spark, sf_dir):
    """Stream-static threshold scoring == the same filter in batch
    (stateless enrich: draining every file must reproduce the batch
    filter's rows exactly)."""
    from big_data_traffict_prediction_spark.operators.prediction import (
        camera_thresholds,
    )
    from big_data_traffict_prediction_spark.streaming.queries import (
        q_stream_static_join,
    )

    got = {
        (r.camera_id, r.id) for r in q_stream_static_join(spark, sf_dir).collect()
    }
    static = camera_thresholds(spark, sf_dir).select("camera_id", "p90")
    batch = {
        (r.camera_id, r.id)
        for r in simulate.detections_frame(spark, sf_dir)
        .join(static, "camera_id")
        .filter(F.col("new_count").cast("double") > F.col("p90"))
        .collect()
    }
    assert got and got == batch


def test_frame_stream_sink_round_trips(spark, sf_dir, tmp_path):
    """S14: the multipart frame-stream sink writes boundary-delimited
    parts in (media_id, frame_idx) order and a consumer-side parse
    recovers every payload byte-exactly."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.functions.multimodal import (
        encode_media,
        media_table,
    )
    from big_data_traffict_prediction_spark.streaming.framesink import (
        read_frame_stream,
        write_frame_stream,
    )

    frames = (
        encode_media(media_table(spark, sf_dir))
        .filter(F.col("kind") == "image")
        .select(
            "media_id",
            F.lit(0).alias("frame_idx"),
            F.col("payload").alias("frame_payload"),
        )
    )
    out = str(tmp_path / "stream.mjpeg")
    n = write_frame_stream(frames, out)
    parts = read_frame_stream(out)
    expected = [
        bytes(r.frame_payload)
        for r in frames.orderBy("media_id", "frame_idx").collect()
    ]
    assert n == len(expected) == len(parts) and n > 0
    assert parts == expected
    assert all(p[:2] == b"P5" for p in parts), "parts must be the PGM frames"


def test_stage_cache_stages_once_per_app_and_sf(monkeypatch, tmp_path):
    """The staged replay input is a pure function of (application,
    sf_dir): _staged must stage it exactly once and hand every query a
    FRESH checkpoint scratch (`base`) — sharing a checkpoint would
    corrupt state; re-staging wastes a count + global sort + 4 writes
    per query. Spark-free: the stager is stubbed out."""
    from big_data_traffict_prediction_spark.streaming import queries as q

    calls = []
    monkeypatch.setattr(q.simulate, "stage_stream_dir",
                        lambda spark, sf, d, n_chunks: calls.append(d) or d)
    monkeypatch.setattr(q, "_STAGE_CACHE", {})

    class _Ctx:
        applicationId = "app-test-1"

    class _Spark:
        sparkContext = _Ctx()

    s1, b1 = q._staged(_Spark(), "/fake/sf1")
    s2, b2 = q._staged(_Spark(), "/fake/sf1")
    s3, _ = q._staged(_Spark(), "/fake/sf2")
    assert len(calls) == 2, "same (app, sf_dir) must stage once"
    assert s1 == s2 and s1 != s3
    assert b1 != b2, "checkpoint scratch must be fresh per query"


def test_env_int_treats_non_positive_as_unset(monkeypatch):
    """A zero or negative sizing knob falls through to derivation (None),
    like an empty or malformed one, instead of pinning 1 partition.
    Spark-free."""
    from big_data_traffict_prediction_spark.streaming.windows import _env_int

    name = "SPARK_STREAM_STATE_PARTITIONS"
    for raw, want in [("0", None), ("-3", None), (" ", None), ("x", None),
                      ("1", 1), ("12", 12)]:
        monkeypatch.setenv(name, raw)
        assert _env_int(name) == want, raw
    monkeypatch.delenv(name)
    assert _env_int(name) is None


def test_tumbling_counts_chunking_invariant(spark, sf_dir):
    """The oracle claim for the hash-checked streaming queries is that
    the drained output is a pure function of the INPUT SET, not the
    micro-batch boundaries. Replay the same data as 2 and as 7 chunks:
    identical result sets."""
    import tempfile
    import uuid

    from big_data_traffict_prediction_spark.streaming import simulate, windows

    def drained(n_chunks):
        base = tempfile.mkdtemp(prefix=f"chunkinv_{n_chunks}_")
        stage = simulate.stage_stream_dir(
            spark, sf_dir, f"{base}/stage", n_chunks=n_chunks
        )
        out = windows.run_to_memory(
            spark,
            windows.tumbling_counts(simulate.read_stream(spark, stage), "1 hour"),
            f"chunkinv_{uuid.uuid4().hex[:8]}",
            f"{base}/ckpt",
        )
        return {
            (r.window_start, r.window_end, r.camera_id, r.total_new_count, r.n_samples)
            for r in out.collect()
        }

    a, b = drained(2), drained(7)
    assert a and a == b


def test_checkpoint_restart_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Stop a windowed streaming query after half the input, then
    resume from the SAME checkpoint once the rest arrives: the
    fault-tolerant parquet sink must end up exactly equal to the
    uninterrupted replay — no lost windows, no duplicates."""
    import shutil

    from big_data_traffict_prediction_spark.streaming import simulate, windows

    staged = simulate.stage_stream_dir(
        spark, sf_dir, str(tmp_path / "all"), n_chunks=4
    )
    live = tmp_path / "live"
    live.mkdir()
    chunks = sorted(p for p in (tmp_path / "all").iterdir())
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            windows.tumbling_counts(simulate.read_stream(spark, str(live)), "1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for c in chunks[:2]:
        shutil.copytree(c, live / c.name)
    drain()
    for c in chunks[2:]:
        shutil.copytree(c, live / c.name)
    drain()

    got = [
        ((r.window_start, r.window_end, r.camera_id), (r.total_new_count, r.n_samples))
        for r in spark.read.parquet(out).collect()
    ]
    keys = [k for k, _ in got]
    assert len(keys) == len(set(keys)), "duplicate windows after restart"

    full = {
        ((r.window_start, r.window_end, r.camera_id), (r.total_new_count, r.n_samples))
        for r in __import__(
            "big_data_traffict_prediction_spark.streaming.queries",
            fromlist=["q_stream_tumbling_counts"],
        ).q_stream_tumbling_counts(spark, sf_dir).collect()
    }
    assert set(got) == full


def test_query_listener_observes_progress(spark, sf_dir):
    """Observability: a StreamingQueryListener attached to the session
    sees the drained query's progress events with real row counts —
    the monitoring hook a production deployment wires to metrics."""
    import tempfile
    import uuid

    from pyspark.sql.streaming import StreamingQueryListener

    from big_data_traffict_prediction_spark.streaming import simulate, windows

    rows_seen = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            rows_seen.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        base = tempfile.mkdtemp(prefix="listener_")
        stage = simulate.stage_stream_dir(spark, sf_dir, f"{base}/stage", n_chunks=3)
        out = windows.run_to_memory(
            spark,
            windows.tumbling_counts(simulate.read_stream(spark, stage), "1 hour"),
            f"listener_{uuid.uuid4().hex[:8]}",
            f"{base}/ckpt",
        )
        out.count()
        total_rows = simulate.detections_frame(spark, sf_dir).count()
        # listener delivery is asynchronous; progress events may lag the
        # drain briefly
        import time

        for _ in range(20):
            if sum(rows_seen) >= total_rows:
                break
            time.sleep(0.5)
        assert sum(rows_seen) == total_rows, (
            f"progress rows {sum(rows_seen)} != input rows {total_rows}"
        )
    finally:
        spark.streams.removeListener(listener)


def _batch_alert_join(spark, sf_dir, how):
    """Batch twin of the streaming interval join, same aliases."""
    from big_data_traffict_prediction_spark.streaming.queries import (
        ALERT_THRESHOLD,
    )

    d = simulate.detections_frame(spark, sf_dir)
    alerts = d.filter(F.col("new_count") >= ALERT_THRESHOLD).select(
        F.col("camera_id").alias("a_camera"),
        F.col("ts").alias("alert_ts"),
        F.col("id").alias("alert_id"),
        F.col("new_count").alias("alert_count"),
    )
    cond = (
        (F.col("camera_id") == F.col("a_camera"))
        & (F.col("ts") >= F.col("alert_ts") - F.expr("INTERVAL 15 minutes"))
        & (F.col("ts") <= F.col("alert_ts"))
    )
    return d.join(alerts, cond, how)


def _batch_matched_summary(spark, sf_dir):
    """Per-camera (matched_pairs, matched_checksum) of the batch inner
    join — the values the streaming summaries must reproduce exactly."""
    from big_data_traffict_prediction_spark.streaming.queries import (
        _MATCH_COLS,
        pair_checksum,
    )

    return {
        (r.camera_id): (r.matched_pairs, r.matched_checksum)
        for r in _batch_alert_join(spark, sf_dir, "inner")
        .groupBy("camera_id")
        .agg(
            F.count(F.lit(1)).alias("matched_pairs"),
            pair_checksum(_MATCH_COLS).alias("matched_checksum"),
        )
        .collect()
    }


def test_stream_stream_left_join_invariants(spark, sf_dir):
    """LEFT OUTER stream-stream join, row level: the matched subset
    equals the batch inner join exactly; every null-extended row the
    stream emits is a row the batch LEFT join also leaves unmatched
    (the null SET depends on per-batch watermark eviction, so only the
    subset relation is chunking-stable — see the query docstring)."""
    from big_data_traffict_prediction_spark.streaming.queries import (
        stream_stream_left_rows,
    )

    out = stream_stream_left_rows(spark, sf_dir).collect()
    got_matched = {
        (r.camera_id, r.alert_id, r.id) for r in out if r.alert_id is not None
    }
    got_null_ids = {r.id for r in out if r.alert_id is None}

    batch_matched = {
        (r.camera_id, r.alert_id, r.id)
        for r in _batch_alert_join(spark, sf_dir, "inner").collect()
    }
    batch_null_ids = {
        r.id
        for r in _batch_alert_join(spark, sf_dir, "left_outer")
        .filter(F.col("alert_id").isNull())
        .collect()
    }
    assert got_matched == batch_matched
    assert got_null_ids, "no unmatched rows were ever evicted/emitted"
    assert got_null_ids <= batch_null_ids
    # no row appears both matched and null-extended
    assert not (got_null_ids & {i for (_, _, i) in got_matched})


def test_stream_stream_left_join_summary_is_invariant(spark, sf_dir):
    """The REGISTERED left-join surface: per-camera matched_pairs and
    matched_checksum must equal the batch inner join (these columns —
    and hence the driver's rows-only row count — are chunking
    invariant; null_obs_rows is informational only)."""
    from big_data_traffict_prediction_spark.streaming.queries import (
        q_stream_stream_left_join,
    )

    out = q_stream_stream_left_join(spark, sf_dir).collect()
    got = {r.camera_id: (r.matched_pairs, r.matched_checksum) for r in out}
    assert got and got == _batch_matched_summary(spark, sf_dir)
    assert all(r.null_obs_rows >= 0 for r in out)


def test_rollup_partial_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: landing the SAME epoch twice must
    leave the partials — and therefore the served rollup — unchanged."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.streaming.windows import (
        land_rollup_partial,
    )

    batch = spark.createDataFrame(
        [
            (1, "c1", datetime(2024, 1, 5, 10), 7),
            (2, "c1", datetime(2024, 1, 5, 11), 3),
            (3, "c2", datetime(2024, 1, 6, 9), 5),
        ],
        "id long, camera_id string, ts timestamp, new_count long",
    )
    part_dir = str(tmp_path / "partials")
    land_rollup_partial(batch, 0, part_dir)
    land_rollup_partial(batch, 0, part_dir)  # simulated epoch retry

    served = (
        spark.read.parquet(part_dir)
        .groupBy("camera_id", "d")
        .agg(F.sum("partial_total").alias("total"), F.sum("partial_n").alias("n"))
        .collect()
    )
    got = {(r.camera_id, r.d): (r.total, r.n) for r in served}
    assert got == {
        ("c1", "2024-01-05"): (10, 2),
        ("c2", "2024-01-06"): (5, 1),
    }


def test_stream_stream_full_outer_invariants(spark, sf_dir):
    """FULL OUTER stream-stream join, row level: matched subset equals
    the batch inner join; null-extended rows on each side are subsets
    of the batch full join's unmatched sets (null SETS are
    eviction-timing dependent — see the query docstring)."""
    from big_data_traffict_prediction_spark.streaming.queries import (
        stream_stream_full_outer_rows,
    )

    out = stream_stream_full_outer_rows(spark, sf_dir).collect()
    got_matched = {
        (r.camera_id, r.alert_id, r.id)
        for r in out
        if r.alert_id is not None and r.id is not None
    }
    got_null_obs = {r.id for r in out if r.alert_id is None and r.id is not None}
    got_null_alerts = {r.alert_id for r in out if r.id is None and r.alert_id is not None}

    full = _batch_alert_join(spark, sf_dir, "full_outer").collect()
    batch_matched = {
        (r.camera_id, r.alert_id, r.id)
        for r in full
        if r.alert_id is not None and r.id is not None
    }
    batch_null_obs = {r.id for r in full if r.alert_id is None and r.id is not None}
    batch_null_alerts = {r.alert_id for r in full if r.id is None and r.alert_id is not None}

    assert got_matched == batch_matched
    assert got_null_obs <= batch_null_obs
    assert got_null_alerts <= batch_null_alerts
    assert not (got_null_obs & {i for (_, _, i) in got_matched})


def test_stream_stream_full_outer_summary_is_invariant(spark, sf_dir):
    """The REGISTERED full-outer surface: per-camera matched_pairs and
    matched_checksum equal the batch inner join; the two null columns
    exist per side and are non-negative (informational)."""
    from big_data_traffict_prediction_spark.streaming.queries import (
        q_stream_stream_full_outer,
    )

    out = q_stream_stream_full_outer(spark, sf_dir).collect()
    got = {r.camera_id: (r.matched_pairs, r.matched_checksum) for r in out}
    assert got and got == _batch_matched_summary(spark, sf_dir)
    assert all(r.null_obs_rows >= 0 and r.null_alert_rows >= 0 for r in out)


def test_stream_hll_calibrated_vs_batch_exact(spark, sf_dir):
    """The streaming HLL's per-window estimate must be CLOSE to the
    batch exact distinct-camera count for the same closed windows
    (within the m=64 4-sigma band), not merely cross-engine-stable —
    the register state is the whole point of the operator, so a rank
    or bucket bug that still replays deterministically would pass the
    hash check but blow this bound."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.streaming.queries import (
        q_stream_hll_cameras,
    )
    from big_data_traffict_prediction_spark.tables import traffic_history

    est = {r.window_start: r.hll_cameras for r in q_stream_hll_cameras(spark, sf_dir).collect()}
    assert est, "no closed windows emitted"
    exact = {
        r.w: r.n
        for r in traffic_history(spark, sf_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("w"))
        .agg(F.countDistinct("camera_id").alias("n"))
        .collect()
    }
    for w, e in est.items():
        x = exact[w]
        assert abs(e - x) * 1_000_000 // x <= 520_000, (w, e, x)


def test_stream_hll_registers_chunking_invariant(spark, sf_dir):
    """The streaming HLL's oracle claim rests on max-merge being
    commutative/idempotent across micro-batch boundaries. Replay the
    same data as 2 and as 7 chunks: identical REGISTER sets (stronger
    than comparing estimates — a register that differed but rounded
    to the same estimate would hide a merge bug)."""
    import tempfile
    import uuid

    from big_data_traffict_prediction_spark.streaming import simulate, windows

    def drained(n_chunks):
        base = tempfile.mkdtemp(prefix=f"hllinv_{n_chunks}_")
        stage = simulate.stage_stream_dir(
            spark, sf_dir, f"{base}/stage", n_chunks=n_chunks
        )
        out = windows.run_to_memory(
            spark,
            windows.hll_register_windows(simulate.read_stream(spark, stage)),
            f"hllinv_{uuid.uuid4().hex[:8]}",
            f"{base}/ckpt",
        )
        return {
            (r.window_start, r.window_end, r.bucket, r.reg) for r in out.collect()
        }

    a, b = drained(2), drained(7)
    assert a and a == b


def test_stream_cdc_feed_compaction_chunking_invariant(spark, sf_dir):
    """q_stream_cdc_merge's oracle claim rests on max(struct) state
    merge being commutative/idempotent across micro-batch boundaries.
    Replay the same feed window as 2 and as 7 chunks: identical
    compacted (camera, latest-row) sets."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.streaming import simulate, windows
    from big_data_traffict_prediction_spark.streaming.queries import (
        STREAM_CDC_T1_EPOCH,
        STREAM_CDC_T2_EPOCH,
    )

    t1 = F.timestamp_seconds(F.lit(STREAM_CDC_T1_EPOCH))
    t2 = F.timestamp_seconds(F.lit(STREAM_CDC_T2_EPOCH))

    def drained(n_chunks):
        base = tempfile.mkdtemp(prefix=f"cdcinv_{n_chunks}_")
        stage = simulate.stage_stream_dir(
            spark, sf_dir, f"{base}/stage", n_chunks=n_chunks
        )
        latest = (
            simulate.read_stream(spark, stage)
            .filter((F.col("ts") >= t1) & (F.col("ts") < t2))
            .groupBy("camera_id")
            .agg(F.max(F.struct("ts", "id", "new_count")).alias("f"))
        )
        out = windows.run_to_memory(
            spark,
            latest,
            f"cdcinv_{uuid.uuid4().hex[:8]}",
            f"{base}/ckpt",
            output_mode="complete",
        )
        return {
            (r.camera_id, r.f.ts, r.f.id, r.f.new_count) for r in out.collect()
        }

    a, b = drained(2), drained(7)
    assert a and a == b


def test_streaming_restart_recovers_exactly_once(spark, sf_dir, tmp_path):
    """Checkpoint recovery across a stop/restart: drain the first two
    chunks to a fault-tolerant parquet sink, then 'restart' the same
    query (same checkpoint) after two more chunks arrive. The second
    drain must process ONLY the new files and the combined sink must
    equal a fresh single-drain of all four chunks — the exactly-once
    recovery contract a production ingest relies on."""
    import shutil as sh

    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.streaming import simulate, windows

    stage = simulate.stage_stream_dir(
        spark, sf_dir, str(tmp_path / "all"), n_chunks=4
    )
    chunk_dirs = sorted(
        p for p in (tmp_path / "all").iterdir() if p.is_dir()
    )
    assert len(chunk_dirs) == 4
    serve = tmp_path / "serve"
    serve.mkdir()
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        agg = windows.tumbling_counts(
            simulate.read_stream(spark, str(serve)), "1 hour"
        )
        with windows.stream_state_partitions(spark):
            q = (
                agg.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    for d in chunk_dirs[:2]:
        sh.copytree(d, serve / d.name)
    drain()
    n_first = spark.read.parquet(out_dir).count()
    for d in chunk_dirs[2:]:
        sh.copytree(d, serve / d.name)
    drain()  # restart from the same checkpoint

    final_rows = [
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("window_start", "window_end", "camera_id",
                "total_new_count", "n_samples")
        .collect()
    ]
    recovered = set(final_rows)
    # no duplicate rows in the sink — reprocessed batches would survive
    # the set comparison below but not this
    assert len(final_rows) == len(recovered)
    single = {
        tuple(r)
        for r in windows.run_to_memory(
            spark,
            windows.tumbling_counts(simulate.read_stream(spark, stage), "1 hour"),
            "restart_ref",
            str(tmp_path / "refckpt"),
        )
        .select("window_start", "window_end", "camera_id",
                "total_new_count", "n_samples")
        .collect()
    }
    assert recovered == single
    # the restart emitted strictly new windows (no reprocessing): the
    # first drain's rows are a proper subset of the final sink
    assert 0 < n_first < len(recovered)


def test_stream_zone_map_chunking_invariant(spark, sf_dir):
    """Zone stats are commutative+associative folds, so the drained
    streaming index must be identical at any micro-batch chunking —
    the property that licenses its batch-SQL oracle."""
    import shutil
    import tempfile
    import uuid

    import pyspark.sql.functions as F

    from big_data_traffict_prediction_spark.streaming import simulate, windows

    def drained(n_chunks):
        base = tempfile.mkdtemp(prefix=f"zminv_{n_chunks}_")
        stage = simulate.stage_stream_dir(
            spark, sf_dir, f"{base}/stage", n_chunks=n_chunks
        )
        from big_data_traffict_prediction_spark.operators.scans import (
            ZM_BLOOM_BITS,
        )

        rows = simulate.read_stream(spark, stage)
        bit = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("zm#"), F.col("camera_id"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(ZM_BLOOM_BITS),
        ).cast("int")
        zm = (
            rows.select(
                F.date_format("ts", "yyyy-MM-dd").alias("d"),
                F.hour("ts").cast("long").alias("hr"),
                "new_count",
                bit.alias("bit"),
            )
            .groupBy("d", "hr")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min("new_count").cast("long").alias("min_count"),
                F.max("new_count").cast("long").alias("max_count"),
                F.bit_or(
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"), F.col("bit")
                    )
                )
                .cast("long")
                .alias("bloom_fp"),
            )
        )
        out = windows.run_to_memory(
            spark, zm, f"zminv_{uuid.uuid4().hex[:8]}", f"{base}/ckpt",
            output_mode="complete",
        )
        got = {
            (r.d, r.hr, r.n_rows, r.min_count, r.max_count, r.bloom_fp)
            for r in out.collect()
        }
        shutil.rmtree(base, ignore_errors=True)
        return got

    a, b = drained(2), drained(5)
    assert a and a == b


def test_stream_interval_join_binned_matches_batch(spark, sf_dir):
    """The bin-blocked stream-stream interval join must drain EXACTLY
    the theta-join pairs (each produced once — the obs bin is unique),
    full column tuples compared so a bin-boundary duplicate or a
    missed cross-bin pair cannot hide."""
    from big_data_traffict_prediction_spark.streaming.queries import (
        ALERT_THRESHOLD,
        q_stream_interval_join_binned,
    )

    got = sorted(
        tuple(r)
        for r in q_stream_interval_join_binned(spark, sf_dir).collect()
    )
    d = simulate.detections_frame(spark, sf_dir)
    alerts = d.filter(F.col("new_count") >= ALERT_THRESHOLD).select(
        F.col("camera_id").alias("a_camera"),
        F.col("ts").alias("alert_ts"),
        F.col("id").alias("alert_id"),
        F.col("new_count").alias("alert_count"),
    )
    batch = sorted(
        tuple(r)
        for r in d.join(
            alerts,
            (F.col("camera_id") == F.col("a_camera"))
            & (F.col("ts") >= F.col("alert_ts") - F.expr("INTERVAL 15 minutes"))
            & (F.col("ts") <= F.col("alert_ts")),
        )
        .select(
            "camera_id", "alert_id", "alert_ts", "alert_count",
            "id", "ts", "new_count",
        )
        .collect()
    )
    assert got and got == batch


def test_stream_histogram_chunking_invariant(spark, sf_dir):
    """Value-frequency counts are additive, so the drained streaming
    vf — and hence the histogram derived from it — must be identical
    at any micro-batch chunking (the property licensing the batch-SQL
    oracle of q_stream_histogram)."""
    import shutil
    import tempfile
    import uuid

    import pyspark.sql.functions as F

    from big_data_traffict_prediction_spark.streaming import simulate, windows

    def drained(n_chunks):
        base = tempfile.mkdtemp(prefix=f"hginv_{n_chunks}_")
        stage = simulate.stage_stream_dir(
            spark, sf_dir, f"{base}/stage", n_chunks=n_chunks
        )
        rows = simulate.read_stream(spark, stage)
        vf = (
            rows.filter(F.col("new_count").isNotNull())
            .groupBy(F.col("new_count").alias("v"))
            .agg(F.count(F.lit(1)).cast("long").alias("f"))
        )
        out = windows.run_to_memory(
            spark,
            vf,
            f"hginv_{n_chunks}_{uuid.uuid4().hex[:8]}",
            f"{base}/ckpt",
            output_mode="complete",
        )
        got = {(r.v, r.f) for r in out.collect()}
        shutil.rmtree(base, ignore_errors=True)
        return got

    one, three = drained(1), drained(3)
    assert one and one == three


def test_stream_join_size_grid_chunking_invariant_and_matches_batch(spark, sf_dir):
    """The CM join grid's cells are plain sums, so the drained streaming
    grid must equal the batch-built grid cell for cell at ANY chunking —
    the property licensing q_stream_join_size_sketch's reuse of the
    batch estimator's oracle text."""
    import shutil
    import tempfile
    import uuid

    from big_data_traffict_prediction_spark.operators.tsdb import (
        am_pm_from,
        am_pm_sides,
        cm_join_grid,
    )
    from big_data_traffict_prediction_spark.streaming import simulate, windows

    def drained(n_chunks):
        base = tempfile.mkdtemp(prefix=f"cminv_{n_chunks}_")
        stage = simulate.stage_stream_dir(
            spark, sf_dir, f"{base}/stage", n_chunks=n_chunks
        )
        grid = cm_join_grid(am_pm_from(simulate.read_stream(spark, stage)))
        out = windows.run_to_memory(
            spark,
            grid,
            f"cminv_{n_chunks}_{uuid.uuid4().hex[:8]}",
            f"{base}/ckpt",
            output_mode="complete",
        )
        got = {(r.d, r.bucket, r.ca, r.cb) for r in out.collect()}
        shutil.rmtree(base, ignore_errors=True)
        return got

    batch = {
        (r.d, r.bucket, r.ca, r.cb)
        for r in cm_join_grid(am_pm_sides(spark, sf_dir)).collect()
    }
    one, three = drained(1), drained(3)
    assert batch and one == batch and three == batch


def test_stream_analyze_state_chunking_invariant(spark, sf_dir):
    """Every statistic in the (col, bucket)-grain ANALYZE state is a
    commutative fold (counts add, canonical min/max fold, register
    ranks max), so the drained state must be identical at any
    micro-batch chunking — the property licensing q_stream_analyze's
    reuse of the batch oracle tail."""
    import shutil
    import tempfile
    import uuid

    import pyspark.sql.functions as F

    from big_data_traffict_prediction_spark.operators.pipeline import (
        _HLL_WMOD,
        analyze_hash_col,
        analyze_stack,
        canon_int_col,
        hll_rank_col,
    )
    from big_data_traffict_prediction_spark.streaming import simulate, windows

    def state_of(rows):
        canon = {
            "camera_id": rows["camera_id"],
            "new_count": canon_int_col(rows["new_count"]),
        }
        stack = analyze_stack(rows, canon).select("col", "val", analyze_hash_col())
        return (
            stack.select(
                "col",
                "val",
                F.coalesce(
                    F.call_function("div", F.col("h"), F.lit(_HLL_WMOD)), F.lit(-1)
                ).alias("bucket"),
                hll_rank_col(F.col("h")).cast("int").alias("rank"),
            )
            .groupBy("col", "bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.min("val").alias("mn"),
                F.max("val").alias("mx"),
                F.max("rank").alias("reg"),
            )
        )

    def drained(n_chunks):
        base = tempfile.mkdtemp(prefix=f"aninv_{n_chunks}_")
        stage = simulate.stage_stream_dir(
            spark, sf_dir, f"{base}/stage", n_chunks=n_chunks
        )
        out = windows.run_to_memory(
            spark,
            state_of(simulate.read_stream(spark, stage)),
            f"aninv_{n_chunks}_{uuid.uuid4().hex[:8]}",
            f"{base}/ckpt",
            output_mode="complete",
        )
        got = {(r.col, r.bucket, r.cnt, r.mn, r.mx, r.reg) for r in out.collect()}
        shutil.rmtree(base, ignore_errors=True)
        return got

    one, three = drained(1), drained(3)
    assert one and one == three
