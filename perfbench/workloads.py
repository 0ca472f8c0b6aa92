"""The two workloads: what each generates, warms up, times and checks.

``dashboard``     open loop at a fixed offered rate; reads beside appends.
``batch_ingest``  closed loop, one client, one job per iteration: stream
                  drains, lake maintenance, forecast refit and curation.
"""

from __future__ import annotations

import os
import queue
import random
import threading
import time

import numpy as np

import gen
from engine import Engine, Gate, Sample, StreamProgress, all_finite, layer_of
from oracle import Oracle

def run_lanes(lanes: list, threads: int) -> list:
    """Run each lane (a list of zero-argument calls) in order, lanes side by
    side on up to ``threads`` threads; returns every call's result. Set-up
    and the gate use this to finish sooner; timed windows never do."""
    results: list = []
    lock = threading.Lock()
    todo: queue.Queue = queue.Queue()
    for lane in lanes:
        todo.put(lane)

    def worker() -> None:
        while True:
            try:
                lane = todo.get_nowait()
            except queue.Empty:
                return
            out = [call() for call in lane]
            with lock:
                results.extend(out)

    pool = [threading.Thread(target=worker) for _ in range(max(1, min(threads, len(lanes))))]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return results


# --------------------------------------------------------------------------
# dashboard
# --------------------------------------------------------------------------

DASHBOARD_TYPES = (
    "q_window_stats",
    "q_latest_per_camera",
    "q_bucket_series_dense",
    "q_topn_export",
    "q_datalake_daily_agg",
    "q_camera_thresholds",
    "q_predict_dow_hour",
    "q_predict_decision",
    "q_predict_all_cameras",
)
READS_CUSTOMER = {"q_topn_export", "q_predict_all_cameras"}
DASHBOARD_SIZES = gen.Sizes(events=100_000, cameras=200, customers=15_000)
# Offered load: about half the single-client capacity of the seed commit
# (one closed-loop client over this mix: ~1.2 requests/s on a 4-core host
# with a 2 GB driver). A 15 s window then offers one full round of the
# nine request types.
RATE_PER_S = 0.6
APPEND_EVERY = 4  # append one detections file before every 4th request
APPEND_ROWS = 200
LAST_DAY_US = gen.TS_START_US + 29 * 86_400 * 1_000_000  # fresh rows land on 2024-01-30
DRAIN_GRACE_S = 60.0  # requests still running this long after the window count as failed


class Dashboard:
    name = "dashboard"

    def __init__(self, seed: int, run_dir: str, threads: int) -> None:
        self.seed = seed
        self.data_dir = os.path.join(run_dir, "data")
        self.threads = threads
        self.cams = gen.camera_ids(DASHBOARD_SIZES.cameras, DASHBOARD_SIZES.customers)
        self.n_events = DASHBOARD_SIZES.events
        self.appends = 0
        self.warm: list[Sample] = []

    def prepare(self) -> None:
        gen.generate(self.seed, self.data_dir, DASHBOARD_SIZES)

    def _request(self, engine: Engine, req: str, kind: str, due=None, dispatched=None):
        from big_data_traffict_prediction_spark import registry

        fn = registry.get(kind).fn
        rows = self.n_events + (DASHBOARD_SIZES.customers if kind in READS_CUSTOMER else 0)
        return engine.request(
            req, kind, layer_of(fn), lambda: fn(engine.spark, self.data_dir),
            lambda df: df.toPandas(), due=due, dispatched=dispatched, rows_in=rows,
        )

    def setup(self, engine: Engine) -> None:
        lanes = [[lambda i=i, k=k: self._request(engine, f"w{i}", k)[0]]
                 for i, k in enumerate(DASHBOARD_TYPES)]
        self.warm = run_lanes(lanes, self.threads)

    def _append(self) -> None:
        self.appends += 1
        gen.append_events(
            self.seed, self.data_dir, self.appends, APPEND_ROWS, self.cams,
            first_id=self.n_events, ts_lo_us=LAST_DAY_US, ts_span_us=86_400 * 1_000_000,
        )
        self.n_events += APPEND_ROWS

    def window(self, engine: Engine, seconds: float) -> dict:
        n = max(1, round(seconds * RATE_PER_S))
        rng = random.Random(self.seed)
        order: list[str] = []
        while len(order) < n:
            round_ = list(DASHBOARD_TYPES)
            rng.shuffle(round_)
            order += round_
        order = order[:n]

        todo: queue.Queue = queue.Queue()
        done: list[Sample] = []
        lock = threading.Lock()

        def submitter() -> None:
            while (item := todo.get()) is not None:
                s, _ = self._request(engine, *item)
                with lock:
                    done.append(s)

        workers = [threading.Thread(target=submitter, daemon=True) for _ in range(self.threads)]
        for w in workers:
            w.start()
        t0 = time.perf_counter() + 0.05
        for i, kind in enumerate(order):
            due = t0 + i / RATE_PER_S
            time.sleep(max(0.0, due - time.perf_counter()))
            todo.put((f"r{i}", kind, due, time.perf_counter()))
            if (i + 1) % APPEND_EVERY == 0:
                self._append()
        for _ in workers:
            todo.put(None)
        deadline = time.perf_counter() + DRAIN_GRACE_S
        for w in workers:
            w.join(timeout=max(0.0, deadline - time.perf_counter()))
        with lock:
            samples = list(done)
        end = max((s.end for s in samples), default=time.perf_counter())
        return {
            "samples": samples,
            "latencies_s": [s.latency_s for s in samples if s.ok],
            "attempted": n,
            "failed": n - sum(s.ok for s in samples),
            "t0": t0,
            "t1": end,
            "rows": sum(s.rows_in for s in samples if s.ok),
        }

    def gate(self, engine: Engine, gate: Gate) -> None:
        """After the last append: every request type against its oracle."""
        from big_data_traffict_prediction_spark import registry

        lanes = [[lambda i=i, k=k: (k, *self._request(engine, f"g{i}", k))]
                 for i, k in enumerate(DASHBOARD_TYPES)]
        outputs = sorted(run_lanes(lanes, self.threads), key=lambda r: DASHBOARD_TYPES.index(r[0]))
        oracle = Oracle(self.data_dir)
        try:
            for kind, s, pdf in outputs:

                def check(kind=kind, s=s, pdf=pdf):
                    if not s.ok:
                        raise RuntimeError(s.error)
                    oracle.check(kind, registry.get(kind).oracle, pdf)

                gate.record(kind, check)
        finally:
            oracle.close()


# --------------------------------------------------------------------------
# batch_ingest
# --------------------------------------------------------------------------

HIST_EVENTS = 60_000
CORRECTIONS = 1_000
FEED_EVENTS = 4_500
FEED_CHUNKS = 2
COMPACT_DAY = (2024, 1, 15)
CORPUS_SIZES = gen.Sizes(documents=1_500, embeddings=800)
CURATION_TYPES = ("q_text_quality", "q_ann_bruteforce")
CURATION_TABLE = {"q_ann_bruteforce": "embeddings"}
ML_QUERY = "q_ml_forecast"


class BatchIngest:
    name = "batch_ingest"

    def __init__(self, seed: int, run_dir: str, threads: int) -> None:
        self.seed = seed
        self.run_dir = run_dir
        self.hist_dir = os.path.join(run_dir, "hist")
        self.corr_dir = os.path.join(run_dir, "corr")
        self.feed_dir = os.path.join(run_dir, "feed")
        self.corpus_dir = os.path.join(run_dir, "corpus")
        self.stage_dir = os.path.join(run_dir, "stage")
        self.threads = threads
        self.cams = gen.camera_ids(200, 0)
        self.progress: StreamProgress | None = None
        self.stage_s = 0.0
        self.jobs = 0
        self.warm: list[Sample] = []
        self.last_outputs: dict = {}
        self.batches: list[dict] = []

    def prepare(self) -> None:
        hist = gen.events_table(self.seed, HIST_EVENTS, self.cams)
        gen.write_part(hist, os.path.join(self.hist_dir, "events.parquet"), "part-00000")
        corr = gen.corrections_table(self.seed, hist, CORRECTIONS)
        gen.write_part(corr, os.path.join(self.corr_dir, "events.parquet"), "part-00000")
        feed = gen.events_table(self.seed, FEED_EVENTS, self.cams, stream="feed")
        gen.write_part(feed, os.path.join(self.feed_dir, "events.parquet"), "part-00000")
        gen.generate(self.seed, self.corpus_dir, CORPUS_SIZES)
        day_us = int(np.datetime64(f"{COMPACT_DAY[0]}-{COMPACT_DAY[1]:02d}-{COMPACT_DAY[2]:02d}", "us").astype(np.int64))
        ts = hist.column("ts").cast("int64").to_numpy()
        self.compact_rows = int(((ts >= day_us) & (ts < day_us + 86_400_000_000)).sum())

    def setup(self, engine: Engine) -> None:
        from big_data_traffict_prediction_spark.streaming import simulate

        self.progress = StreamProgress(engine.spark)
        t0 = time.perf_counter()
        with engine.tracer.span("stream.stage", "streaming"):
            simulate.stage_stream_dir(engine.spark, self.feed_dir, self.stage_dir, n_chunks=FEED_CHUNKS)
        self.stage_s = time.perf_counter() - t0
        self.warm, _ = self._job(engine, "w", threads=self.threads)

    def _job(self, engine: Engine, tag: str, threads: int = 1) -> tuple[list[Sample], list[dict]]:
        """One job: every step once, as four lanes (stream, lake, model,
        curation). The timed loop runs the lanes one after another
        (``threads=1``); the warm-up runs them side by side."""
        from big_data_traffict_prediction_spark import registry
        from big_data_traffict_prediction_spark.sources import lake
        from big_data_traffict_prediction_spark.streaming import simulate, state, windows
        from big_data_traffict_prediction_spark.tables import traffic_history

        spark = engine.spark
        job = f"{tag}{self.jobs}"
        self.jobs += 1
        base = os.path.join(self.run_dir, "jobs", job)
        staged = simulate.staged_rows(self.stage_dir)
        batches: list[dict] = []
        out: dict = {}

        def step(kind, layer, build, execute, rows):
            def call() -> Sample:
                s, out[kind] = engine.request(f"{job}.{kind}", kind, layer, build, execute, rows_in=rows)
                return s
            return call

        def drain(kind, build, execute):
            def call() -> Sample:
                n_prog, n_term = self.progress.size(), self.progress.mark()
                s = step(kind, "streaming", build, execute, FEED_EVENTS)()
                if not self.progress.wait_terminated(n_term + 1):
                    s.ok, s.error = False, "no termination event from the streaming listener"
                new = self.progress.batches_since(n_prog)
                s.job_groups = sorted({b["run_id"] for b in new})
                batches.extend(new)
                return s
            return call

        def to_memory(df, kind):
            return windows.run_to_memory(
                spark, df, f"pb_{job}_{kind.split('.')[-1]}", os.path.join(base, "ckpt", kind),
                state_rows=staged if kind == "stream.tumbling" else None,
            ).toPandas()

        sink_dir = os.path.join(base, "sink")
        lake_dir = os.path.join(base, "lake")
        out["lake_dir"] = lake_dir
        fit = registry.get(ML_QUERY).fn.__wrapped__  # bypass the per-app memo: time a real fit
        stream_lane = [
            drain("stream.tumbling",
                  lambda: windows.tumbling_counts(simulate.read_stream(spark, self.stage_dir), "1 hour"),
                  lambda df: to_memory(df, "stream.tumbling")),
            drain("stream.episodes",
                  lambda: state.congestion_episodes(simulate.read_stream(spark, self.stage_dir)),
                  lambda df: to_memory(df, "stream.episodes")),
            drain("stream.dual_sink",
                  lambda: simulate.read_stream(spark, self.stage_dir),
                  lambda df: windows.run_dual_sink(
                      df, sink_dir, os.path.join(base, "ckpt", "dual"), state_rows=staged) or sink_dir),
        ]
        lake_lane = [
            step("lake.write", "sources", lambda: traffic_history(spark, self.hist_dir),
                 lambda df: lake.write_partitioned_lake(df, lake_dir), HIST_EVENTS),
            step("lake.upsert", "sources", lambda: traffic_history(spark, self.corr_dir),
                 lambda df: lake.upsert_partitioned_lake(spark, df, lake_dir, ["id"]), CORRECTIONS),
            step("lake.compact", "sources", lambda: None,
                 lambda _: lake.compact_lake_day(spark, lake_dir, *COMPACT_DAY), self.compact_rows),
        ]
        ml_lane = [step(ML_QUERY, "ml", lambda: fit(spark, self.hist_dir), lambda df: df.toPandas(),
                        HIST_EVENTS)]
        curation_lane = []
        for kind in CURATION_TYPES:
            fn = registry.get(kind).fn
            curation_lane.append(step(
                kind, layer_of(fn), lambda fn=fn: fn(spark, self.corpus_dir), lambda df: df.toPandas(),
                getattr(CORPUS_SIZES, CURATION_TABLE.get(kind, "documents")),
            ))
        samples = run_lanes([stream_lane, lake_lane, ml_lane, curation_lane], threads)
        self.last_outputs = out
        return samples, batches

    def window(self, engine: Engine, seconds: float) -> dict:
        """Whole jobs, one after another; another job starts only while at
        least half of it would fall inside the window."""
        t0 = time.perf_counter()
        samples: list[Sample] = []
        while True:
            t_job = time.perf_counter()
            job_samples, batches = self._job(engine, "j")
            samples += job_samples
            self.batches += batches
            now = time.perf_counter()
            if now + (now - t_job) / 2 > t0 + seconds:
                break
        t1 = time.perf_counter()
        # latency is the stream's: one sample per micro-batch; the other
        # steps count toward throughput (rows_per_s)
        lat = [b["ms"]["triggerExecution"] / 1000.0 for b in self.batches]
        return {
            "samples": samples,
            "latencies_s": lat,
            "attempted": len(samples),
            "failed": sum(not s.ok for s in samples),
            "t0": t0,
            "t1": t1,
            "rows": sum(s.rows_in for s in samples if s.ok),
        }

    def gate(self, engine: Engine, gate: Gate) -> None:
        """Outputs of the last timed job against oracles over the same files."""
        from big_data_traffict_prediction_spark import registry

        out = self.last_outputs
        feed, hist, corpus = Oracle(self.feed_dir), Oracle(self.hist_dir), Oracle(self.corpus_dir)
        corr_path = os.path.join(self.corr_dir, "events.parquet")
        try:
            for kind, name in (("stream.tumbling", "q_stream_tumbling_counts"),
                               ("stream.episodes", "q_stream_congestion_episodes")):
                gate.record(kind, lambda kind=kind, name=name: feed.check(
                    name, registry.get(name).oracle, _required(out, kind)))

            def dual_sink():
                sink = _required(out, "stream.dual_sink")
                n = feed.query(
                    f"SELECT COUNT(*) AS n FROM read_parquet('{sink}/fact/**/*.parquet')"
                )["n"][0]
                if n != FEED_EVENTS:
                    raise AssertionError(f"fact rows {n} != feed rows {FEED_EVENTS}")

            gate.record("stream.dual_sink", dual_sink)

            def lake_state():
                _required(out, "lake.compact")
                got = hist.query(
                    "SELECT COUNT(*) AS n, COUNT(DISTINCT id) AS ids, SUM(new_count) AS total "
                    f"FROM read_parquet('{out['lake_dir']}/**/*.parquet', hive_partitioning=true)"
                )
                want = hist.query(
                    "SELECT COUNT(*) AS n, COUNT(DISTINCT e.event_id) AS ids, "
                    "SUM(CAST(FLOOR(COALESCE(c.value, e.value)) AS BIGINT)) AS total "
                    f"FROM events e LEFT JOIN read_parquet('{corr_path}/*.parquet') c "
                    "ON c.event_id = e.event_id"
                )
                if got.values.tolist() != want.values.tolist():
                    raise AssertionError(f"lake {got.values.tolist()} != {want.values.tolist()}")

            gate.record("lake", lake_state)

            def ml():
                pdf = _required(out, ML_QUERY)
                slots = hist.query(
                    "SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, dayofweek(ts), hour(ts) FROM events)"
                )["n"][0]
                if len(pdf) != slots:
                    raise AssertionError(f"{len(pdf)} scored slots != {slots}")
                if not all_finite(pdf, ["predicted_volume", "avg_hourly_volume"]):
                    raise AssertionError("non-finite forecast values")

            gate.record(ML_QUERY, ml)
            for kind in CURATION_TYPES:
                gate.record(kind, lambda kind=kind: corpus.check(
                    kind, registry.get(kind).oracle, _required(out, kind)))
        finally:
            for o in (feed, hist, corpus):
                o.close()


def _required(out: dict, kind: str):
    if out.get(kind) is None:
        raise RuntimeError(f"{kind} produced no output")
    return out[kind]


WORKLOADS = {w.name: w for w in (Dashboard, BatchIngest)}
