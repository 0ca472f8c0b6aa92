"""In-memory spans at the benchmark's call boundaries, their per-layer
self time, and the counts read back from Spark's event log.

Span levels: workload -> request (a query, micro-batch drain or lake
call) -> build / execute. Spans of one request share its ``req`` id,
which is also the Spark job group of every job the request launched,
so event-log counts join back to requests and layers.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# Engine layers, named after the package modules they time.
LAYERS = ("session", "tables", "sources", "operators", "functions", "streaming", "ml")


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    layer: str
    req: str | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans when ``enabled``; otherwise ``span`` is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, req: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(
            sid=next(self._ids),
            parent=parent.sid if parent else None,
            name=name,
            layer=layer,
            req=req if req is not None else (parent.req if parent else None),
            t0=time.perf_counter(),
            attrs=attrs,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def dump(self, path: str, counts: dict) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.t0):
                fh.write(json.dumps(s.__dict__) + "\n")
            fh.write(json.dumps({"counts": counts}) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span], within: tuple[float, float] | None = None) -> dict[str, float]:
    """Seconds of self time per layer: each span's duration minus the
    part of it its child spans cover. ``within`` clips to a time window."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)

    def clip(a: float, b: float) -> tuple[float, float]:
        if within is None:
            return a, b
        return max(a, within[0]), min(b, within[1])

    out: dict[str, float] = defaultdict(float)
    for s in spans:
        a, b = clip(s.t0, s.t1)
        if b <= a:
            continue
        child = [clip(c.t0, c.t1) for c in kids.get(s.sid, [])]
        out[s.layer] += (b - a) - _covered([(x, y) for x, y in child if y > x])
    return dict(out)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_PY_TIME = ("time to run python workers",)
_PY_BYTES = ("data sent to python workers", "data returned from python workers")


@dataclass
class GroupCounts:
    """Counts of every job one job group (request) launched."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_ms: float = 0.0
    python_bytes: int = 0


def _accumulable(task_info: dict, keys: tuple[str, ...]) -> float:
    total = 0.0
    for acc in task_info.get("Accumulables", []):
        name = str(acc.get("Name", "")).lower()
        if any(name.startswith(k) for k in keys):
            try:
                total += float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
    return total


def read_event_log(log_dir: str) -> dict[str, GroupCounts]:
    """Per job group counts from every event log file under ``log_dir``."""
    groups: dict[str, GroupCounts] = defaultdict(GroupCounts)
    stage_group: dict[int, str] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    g = groups[gid]
                    g.jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        if sid not in stage_group:
                            stage_group[sid] = gid
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid, "-")].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev.get("Stage ID"), "-")]
                    g.tasks += 1
                    info = ev.get("Task Info") or {}
                    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") not in (None, "Success"):
                        g.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    g.run_ms += m.get("Executor Run Time", 0)
                    g.gc_ms += m.get("JVM GC Time", 0)
                    g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g.python_ms += _accumulable(info, _PY_TIME)
                    g.python_bytes += int(_accumulable(info, _PY_BYTES))
    return dict(groups)
