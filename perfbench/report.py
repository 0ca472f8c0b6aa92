"""Turn one run's samples, spans and event-log counts into the metrics
BENCHMARK.json names, and print them for a reader."""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

import measure
import spans
from engine import Sample


@dataclass
class RunFacts:
    workload: str
    seed: int
    seconds: float
    cpus: int
    driver_memory: str
    gen_s: float
    setup_s: float
    session_start_s: float
    warmup_s: float
    peak_rss_mb: float
    attempted: int
    failed: int
    host: dict


def end_to_end(run: RunFacts, res: dict) -> dict[str, float]:
    lat_ms = [x * 1000.0 for x in res["latencies_s"]]
    return {
        "setup_s": run.setup_s,
        "latency_p50_ms": measure.median(lat_ms),
        "rows_per_s": res["rows"] / max(res["t1"] - res["t0"], 1e-9),
    }


def print_summary(run: RunFacts, res: dict, e2e: dict, units: dict[str, str], gate) -> None:
    lat_ms = [x * 1000.0 for x in res["latencies_s"]]
    tail_ms, pct, beyond = measure.tail(lat_ms)
    h = run.host
    print(f"workload {run.workload}  seed {run.seed}  window {run.seconds:g} s")
    print(f"session local[{run.cpus}] driver_memory {run.driver_memory}  "
          f"load1 {h['load1_start']:.2f}->{h['load1_end']:.2f}  steal {h['steal_pct']:.2f}%  "
          f"host busy {h['host_busy_pct']:.1f}%  input generation {run.gen_s:.2f} s (not in setup)")
    print(f"warm caches while timed: {', '.join(WARM_CACHES[run.workload])}")
    for name, unit in units.items():
        extra = f"  (n={len(lat_ms)})" if name == "latency_p50_ms" else ""
        print(f"  {name:<16} {e2e[name]:>14.3f} {unit}{extra}")
    if beyond:
        print(f"  {'latency_tail_ms':<16} {tail_ms:>14.3f} ms  (p{pct:.1f}, {beyond} samples beyond, n={len(lat_ms)})")
    else:
        print(f"  {'latency_tail_ms':<16} {'n/a':>14} ms  (n={len(lat_ms)}: no percentile leaves "
              f"{measure.MIN_BEYOND} samples beyond it; max {tail_ms:.3f} ms)")
    print(f"  {'peak_rss_mb':<16} {run.peak_rss_mb:>14.3f} MB  (PSS of the process tree in the window; "
          "not gated: GC timing spreads it past any bound)")
    print(f"  {'error_rate':<16} {run.failed / max(run.attempted, 1):>14.4f} ratio  "
          f"({run.failed} failed of {run.attempted} attempted)")
    for s in res["samples"]:
        if not s.ok:
            print(f"  FAILED {s.req} {s.kind}: {s.error}")
    for name, outcome in gate.checks.items():
        print(f"  check {name:<30} {outcome}")


WARM_CACHES = {
    "dashboard": [
        "JVM JIT and whole-stage codegen (warm-up pass)",
        "package zip shipped to Python workers",
        "OS page cache of the generated parquet",
        "no result or plan cache exists in the engine",
    ],
    "batch_ingest": [
        "JVM JIT and codegen (warm-up job)",
        "package zip shipped to Python workers",
        "stream staged once in set-up (each drain has a fresh checkpoint)",
        "q_ml_forecast memo bypassed via __wrapped__ (every job refits)",
        "each job writes a fresh lake directory",
    ],
}


def _ms(xs: list[float]) -> float:
    return measure.median([x * 1000.0 for x in xs])


def per_layer(run: RunFacts, res: dict, wl, tracer: spans.Tracer,
              counts: dict[str, spans.GroupCounts]) -> dict[str, float]:
    samples = res["samples"]
    wall = max(res["t1"] - res["t0"], 1e-9)

    def group(s: Sample, phase: str | None = None) -> spans.GroupCounts:
        keys = [f"{s.req}/{ph}" for ph in ((phase,) if phase else ("build", "exec"))]
        if phase is None:
            keys += s.job_groups  # a stream sets its run id as the job group
        out = spans.GroupCounts()
        for key in keys:
            g = counts.get(key)
            if g is None:
                continue
            for k, v in g.__dict__.items():
                setattr(out, k, getattr(out, k) + v)
        return out

    groups = {s.req: group(s) for s in samples}
    by_layer = {layer: [s for s in samples if s.layer == layer] for layer in spans.LAYERS}

    def total(attr: str, ss: list[Sample]) -> float:
        return float(sum(getattr(groups[s.req], attr) for s in ss))

    prev_end: float | None = None
    waits, late = [], []
    for s in sorted(samples, key=lambda s: s.start):
        if s.due is not None:
            waits.append(s.start - s.due)
            late.append(s.dispatched - s.due)
        elif prev_end is not None:
            waits.append(s.start - prev_end)
            late.append(s.start - prev_end)
        prev_end = s.end

    loads = [sp.t1 - sp.t0 for sp in tracer.spans
             if sp.layer == "tables" and res["t0"] <= sp.t0 and sp.t1 <= res["t1"]]
    batches = getattr(wl, "batches", [])

    def batch_ms(key: str) -> float:
        return measure.median([float(b["ms"].get(key, 0)) for b in batches])

    src = by_layer["sources"]
    write_ms = [s.end - s.start for s in src if s.ok]
    # the dual sink is the one unnamed streaming query; its addBatch is the epoch's write
    write_ms += [b["ms"].get("addBatch", 0) / 1000.0 for b in batches if not b["name"]]
    window_jobs = sorted(glob.glob(os.path.join(getattr(wl, "run_dir", ""), "jobs", "j*")))
    files = sum(len(glob.glob(os.path.join(j, sub, "**", "*.parquet"), recursive=True))
                for j in window_jobs for sub in ("lake", "sink"))
    fn = by_layer["functions"]
    ops = by_layer["operators"]
    ml = by_layer["ml"]
    docs = sum(s.rows_in for s in fn)
    in_bytes = total("input_bytes", samples)
    values = {
        "session.start_s": run.session_start_s,
        "session.warmup_s": run.warmup_s,
        "tables.load_ms": _ms(loads),
        "sources.input_bytes_per_request": measure.median([float(groups[s.req].input_bytes) for s in samples]),
        "sources.write_ms": _ms(write_ms),
        "sources.bytes_written_per_input_byte": total("output_bytes", src) / max(total("input_bytes", src), 1.0),
        "sources.files_written": files / max(len(window_jobs), 1),
        "operators.build_ms": _ms([s.build_s for s in ops]),
        "operators.exec_ms": _ms([s.end - s.start - s.build_s for s in ops]),
        "operators.queue_wait_ms": _ms(waits),
        "loadgen.lateness_ms": _ms(late),
        "operators.jobs_per_request": measure.median([float(groups[s.req].jobs) for s in samples]),
        "operators.stages_per_request": measure.median([float(groups[s.req].stages) for s in samples]),
        "operators.tasks_per_request": measure.median([float(groups[s.req].tasks) for s in samples]),
        "operators.shuffle_bytes_per_input_byte": total("shuffle_write_bytes", samples) / max(in_bytes, 1.0),
        "operators.spill_bytes": total("spill_bytes", samples),
        "operators.executor_busy_share": total("run_ms", samples) / (wall * 1000.0 * run.cpus),
        "operators.gc_ms": total("gc_ms", samples),
        "operators.failed_tasks": float(sum(g.failed_tasks for g in counts.values())),
        "functions.build_ms": _ms([s.build_s for s in fn]),
        "functions.exec_ms": _ms([s.end - s.start - s.build_s for s in fn]),
        "functions.python_exec_ms": total("python_ms", fn),
        "functions.python_bytes": total("python_bytes", fn),
        "functions.shuffle_bytes_per_doc": total("shuffle_write_bytes", fn) / max(docs, 1),
        "streaming.batch_ms": batch_ms("triggerExecution"),
        "streaming.add_batch_ms": batch_ms("addBatch"),
        "streaming.query_planning_ms": batch_ms("queryPlanning"),
        "streaming.latest_offset_ms": batch_ms("latestOffset"),
        "streaming.wal_commit_ms": batch_ms("walCommit"),
        "streaming.commit_offsets_ms": batch_ms("commitOffsets"),
        "streaming.state_commit_ms": measure.median([float(b["state_commit_ms"]) for b in batches]),
        "streaming.state_rows": float(max((b["state_rows"] for b in batches), default=0)),
        "streaming.state_memory_bytes": float(max((b["state_bytes"] for b in batches), default=0)),
        "streaming.stage_s": float(getattr(wl, "stage_s", 0.0)),
        "ml.fit_s": measure.median([s.build_s for s in ml]),
        "ml.fit_jobs": measure.median([float(group(s, "build").jobs) for s in ml]),
        "ml.score_ms": _ms([s.end - s.start - s.build_s for s in ml]),
    }
    shares = layer_shares(tracer, res)
    for layer in spans.LAYERS + ("loadgen",):
        values[f"self_share.{layer}"] = shares.get(layer, 0.0)
    return values


def window_self_times(tracer: spans.Tracer, res: dict) -> dict[str, float]:
    """Self seconds per layer inside the timed window (the window span
    itself excluded: its self time is the load generator's idle clock)."""
    inner = [s for s in tracer.spans if s.name != "window"]
    return spans.self_times(inner, within=(res["t0"], res["t1"]))


def layer_shares(tracer: spans.Tracer, res: dict) -> dict[str, float]:
    self_s = window_self_times(tracer, res)
    tot = sum(self_s.values()) or 1.0
    return {k: v / tot for k, v in self_s.items()}


# Which end-to-end metric, on which workload, each per-layer metric
# should move (the self_share.* metrics check the layer map itself).
LAYER_MAP = {
    "session.": "setup_s on both workloads",
    "tables.load_ms": "latency_p50_ms on dashboard",
    "sources.input_bytes_per_request": "latency_p50_ms on dashboard",
    "sources.": "rows_per_s on batch_ingest",
    "operators.queue_wait_ms": "latency_p50_ms on dashboard (its tail once runs hold 20+ samples)",
    "loadgen.lateness_ms": "latency_p50_ms on dashboard (its tail once runs hold 20+ samples)",
    "operators.build_ms": "latency_p50_ms on dashboard",
    "operators.exec_ms": "latency_p50_ms on dashboard, rows_per_s on batch_ingest",
    "operators.jobs_per_request": "latency_p50_ms on dashboard",
    "operators.stages_per_request": "latency_p50_ms on dashboard",
    "operators.tasks_per_request": "latency_p50_ms on dashboard",
    "operators.gc_ms": "rows_per_s on batch_ingest (and the printed peak_rss_mb)",
    "operators.failed_tasks": "failed / attempted on both workloads",
    "operators.": "rows_per_s on batch_ingest",
    "functions.": "rows_per_s on batch_ingest",
    "streaming.state_commit_ms": "latency_p50_ms on batch_ingest",
    "streaming.state_rows": "the printed peak_rss_mb on batch_ingest",
    "streaming.state_memory_bytes": "the printed peak_rss_mb on batch_ingest",
    "streaming.stage_s": "setup_s on batch_ingest",
    "streaming.": "latency_p50_ms on batch_ingest",
    "ml.": "rows_per_s on batch_ingest",
    "self_share.": "layer map check",
}


def moves(metric: str) -> str:
    """The LAYER_MAP entry for ``metric`` (exact name first, then prefix)."""
    if metric in LAYER_MAP:
        return LAYER_MAP[metric]
    return next(v for k, v in LAYER_MAP.items() if k.endswith(".") and metric.startswith(k))


def print_layers(tracer: spans.Tracer, res: dict, values: dict, trace_path: str) -> None:
    self_s = window_self_times(tracer, res)
    tot = sum(self_s.values()) or 1.0
    print(f"per-layer self time inside the timed window (spans in {os.path.relpath(trace_path)}):")
    for layer, sec in sorted(self_s.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<10} {sec:>9.3f} s  {100.0 * sec / tot:5.1f} %")
    for k, v in values.items():
        if not k.startswith("self_share."):
            print(f"  {k:<38} {v:>16.4f}  -> {moves(k)}")


def print_overhead(traced: dict, last_untraced_path: str) -> None:
    try:
        with open(last_untraced_path) as fh:
            base = json.load(fh)
    except (OSError, ValueError):
        print("tracing overhead: no untraced run of this workload recorded in .bench_out/")
        return
    print("tracing overhead (traced - last untraced run of this workload):")
    for k, v in traced.items():
        if k in base:
            print(f"  {k:<16} {v - base[k]:+12.3f}  ({100.0 * (v - base[k]) / (base[k] or 1.0):+.1f} %)")
