"""Everything that touches the engine: session, request execution,
streaming progress and (traced runs only) call-boundary spans.

The engine is driven through its public functions only; nothing here
changes engine code. Traced runs wrap ``tables.load_table`` and
``tables.traffic_history`` where the package's modules bound them, so
table loads show up as child spans of the request that made them.
"""

from __future__ import annotations

import functools
import gc
import math
import os
import sys
import threading
import time
from dataclasses import dataclass, field

import spans as tr

PKG = "big_data_traffict_prediction_spark"
DRIVER_MEMORY = "2g"
SETTLE_S = 1.0


@dataclass
class Sample:
    """One timed operation: a request, lake call or micro-batch."""

    req: str
    kind: str
    layer: str
    start: float
    end: float
    due: float | None = None
    dispatched: float | None = None
    build_s: float = 0.0
    rows_in: int = 0
    ok: bool = True
    error: str = ""
    job_groups: list[str] = field(default_factory=list)

    @property
    def latency_s(self) -> float:
        return self.end - (self.due if self.due is not None else self.start)


def layer_of(fn) -> str:
    """Layer = the package module family that defines ``fn``."""
    parts = fn.__module__.split(".")
    return parts[1] if len(parts) > 2 else parts[-1]


class StreamProgress:
    """StreamingQueryListener collecting every progress event; drains
    wait on ``wait_terminated`` so all events of a query have arrived."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                row = {
                    "id": str(p.id),
                    "run_id": str(p.runId),
                    "name": p.name,
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "t": time.perf_counter(),
                    "ms": dict(p.durationMs),
                    "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
                with outer._cv:
                    outer.progress.append(row)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated.add(str(event.id))
                    outer._cv.notify_all()

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def mark(self) -> int:
        with self._cv:
            return len(self.terminated)

    def wait_terminated(self, count: int, timeout_s: float = 30.0) -> bool:
        deadline = time.monotonic() + timeout_s
        with self._cv:
            while len(self.terminated) < count:
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._cv.wait(left)
            return True

    def batches_since(self, n_before: int) -> list[dict]:
        """Progress rows of executed micro-batches after index ``n_before``."""
        with self._cv:
            return [p for p in self.progress[n_before:] if "addBatch" in p["ms"]]

    def size(self) -> int:
        with self._cv:
            return len(self.progress)


class Engine:
    """A sized local session plus the request runner both workloads use."""

    def __init__(self, run_dir: str, tracer: tr.Tracer, cpus: int) -> None:
        self.run_dir = run_dir
        self.tracer = tracer
        self.cpus = cpus
        self.event_log_dir = os.path.join(run_dir, "eventlog")
        self.spark = None
        self.start_s = 0.0

    def start(self) -> None:
        from big_data_traffict_prediction_spark.session import get_spark, pin_session_conf

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if self.tracer.enabled:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.event_log_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        t0 = time.perf_counter()
        with self.tracer.span("session.start", "session"):
            self.spark = get_spark(
                app_name="perfbench", cpus=self.cpus, driver_memory=DRIVER_MEMORY, extra_conf=conf
            )
            pin_session_conf(self.spark)
        self.start_s = time.perf_counter() - t0
        if self.tracer.enabled:
            instrument_tables(self.tracer)

    def settle(self) -> None:
        """Start every timed window from the same state: collect the
        warm-up's garbage in the JVM and here, then let background JIT
        compilation finish."""
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()
        time.sleep(SETTLE_S)

    def request(self, req: str, kind: str, layer: str, build, execute, due=None, dispatched=None,
                rows_in: int = 0) -> tuple[Sample, object]:
        """Time ``build()`` then ``execute(built)``; failures are recorded,
        never raised, so one bad request cannot stop the loop."""
        sc = self.spark.sparkContext
        traced = self.tracer.enabled

        def phase(name: str) -> None:
            # job group "<req>/build" or "<req>/exec": event-log counts join back per phase
            if traced:
                sc.setJobGroup(f"{req}/{name}", kind)

        start = time.perf_counter()
        out, ok, err, build_s = None, True, "", 0.0
        with self.tracer.span(kind, "loadgen", req=req):
            try:
                phase("build")
                with self.tracer.span(f"{kind}.build", layer):
                    built = build()
                build_s = time.perf_counter() - start
                phase("exec")
                with self.tracer.span(f"{kind}.execute", layer):
                    out = execute(built)
            except Exception as exc:  # noqa: BLE001 - a failed request is a counted outcome
                ok, err = False, f"{type(exc).__name__}: {exc}"[:300]
        end = time.perf_counter()
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return Sample(req, kind, layer, start, end, due, dispatched, build_s, rows_in, ok, err), out

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
                proc.kill()
                proc.wait(timeout=10)
        self.spark = None


def instrument_tables(tracer: tr.Tracer) -> None:
    """Wrap the table loaders wherever a package module bound them."""
    from big_data_traffict_prediction_spark import tables

    originals = {"load_table": tables.load_table, "traffic_history": tables.traffic_history}

    def wrap(name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(f"tables.{name}", "tables"):
                return fn(*args, **kwargs)

        return wrapper

    wrapped = {name: wrap(name, fn) for name, fn in originals.items()}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PKG):
            continue
        for name, fn in originals.items():
            if getattr(mod, name, None) is fn:
                setattr(mod, name, wrapped[name])


def all_finite(pdf, cols) -> bool:
    return all(
        v is not None and math.isfinite(float(v)) for c in cols for v in pdf[c].tolist()
    )


@dataclass
class Gate:
    """Correctness outcomes, one per checked request type."""

    checks: dict[str, str] = field(default_factory=dict)

    def record(self, name: str, fn) -> None:
        try:
            fn()
            self.checks[name] = "ok"
        except Exception as exc:  # noqa: BLE001 - every failure is reported, none stops the gate
            self.checks[name] = f"FAIL {type(exc).__name__}: {exc}"[:400]

    @property
    def failed(self) -> int:
        return sum(1 for v in self.checks.values() if v != "ok")
