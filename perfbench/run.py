"""Seeded, layer-attributed benchmark of the traffic engine.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed``, starts a local session
sized to this host, warms up every request type, measures for
``--seconds``, checks the outputs against DuckDB oracles and prints the
metrics. The last stdout line is one JSON object (see BENCHMARK.json):
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. A traced run also writes its spans and event-log counts
to ``.bench_out/`` and prints the per-layer self-time table and the
tracing overhead against the last untraced run of the same workload.
Run it from the repository root; everything it writes stays under
``.bench_out/`` there. Exits non-zero when a correctness check fails.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.getcwd()
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
OUT_DIR = os.path.join(ROOT, ".bench_out")
PKG_DIR = os.path.join(ROOT, "big_data_traffict_prediction_spark")
DEADLINE_S = 170.0  # hard stop below the 180 s run limit


def parse_args(argv: list[str]) -> argparse.Namespace:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Keep every temporary file of this process and its children
    (the JVM, Python workers, the engine's tempfile scratch) inside the
    run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def _watchdog() -> None:
    """Abort a run that would overrun the time limit; the JVM exits with
    us (it watches the driver's pipe)."""
    def fire():
        print(f"perfbench: aborting after {DEADLINE_S:.0f} s", file=sys.stderr, flush=True)
        os._exit(3)

    t = threading.Timer(DEADLINE_S - (time.perf_counter() - T_PROCESS), fire)
    t.daemon = True
    t.start()


def main(argv: list[str]) -> int:
    if not os.path.isdir(PKG_DIR) or not os.path.isfile(SPEC_PATH):
        print("perfbench: run from the repository root (engine package and BENCHMARK.json)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]  # the engine; tests/compare_util
    args = parse_args(argv)
    _watchdog()

    run_dir = os.path.join(OUT_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _isolate(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args: argparse.Namespace, run_dir: str) -> int:
    import engine as eng
    import measure
    import report
    import spans
    import workloads

    spec = measure.load_spec(SPEC_PATH)
    host = measure.HostWitness()
    rss = measure.PeakRss()
    cpus = len(os.sched_getaffinity(0))
    tracer = spans.Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](args.seed, run_dir, threads=cpus)

    t_gen = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t_gen

    engine = eng.Engine(run_dir, tracer, cpus)
    gate = eng.Gate()
    try:
        engine.start()
        t_warm = time.perf_counter()
        with tracer.span("session.warmup", "session"):
            wl.setup(engine)
        warmup_s = time.perf_counter() - t_warm - getattr(wl, "stage_s", 0.0)
        engine.settle()
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        rss.reset()
        with tracer.span("window", "loadgen") as sp:
            res = wl.window(engine, args.seconds)
        peak_rss = rss.stop()
        if sp is not None:
            sp.attrs["t0"], sp.attrs["t1"] = res["t0"], res["t1"]
        wl.gate(engine, gate)
    finally:
        rss.stop()
        engine.stop()

    warm_failed = sum(not s.ok for s in wl.warm)
    attempted = res["attempted"] + len(gate.checks) + len(wl.warm)
    failed = res["failed"] + gate.failed + warm_failed
    run = report.RunFacts(
        workload=args.workload, seed=args.seed, seconds=args.seconds, cpus=cpus,
        driver_memory=eng.DRIVER_MEMORY, gen_s=gen_s, setup_s=setup_s,
        session_start_s=engine.start_s, warmup_s=warmup_s, peak_rss_mb=peak_rss,
        attempted=attempted, failed=failed, host=host.report(),
    )
    e2e = report.end_to_end(run, res)
    report.print_summary(run, res, e2e, measure.spec_units(spec, trace=False), gate)

    last_untraced = os.path.join(OUT_DIR, f"last-untraced-{args.workload}.json")
    if args.trace:
        counts = spans.read_event_log(engine.event_log_dir)
        values = report.per_layer(run, res, wl, tracer, counts)
        trace_path = os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.jsonl")
        tracer.dump(trace_path, {k: v.__dict__ for k, v in counts.items()})
        report.print_layers(tracer, res, values, trace_path)
        report.print_overhead(e2e, last_untraced)
    else:
        values = e2e
        with open(last_untraced, "w") as fh:
            json.dump(e2e, fh)

    correct = gate.failed == 0 and failed == 0
    print(measure.result_line(spec, bool(args.trace), values, attempted, failed, correct), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
