"""Pure-Python measurement helpers: percentiles, host witness, process-
tree memory, and the result-line contract shared with BENCHMARK.json."""

from __future__ import annotations

import json
import os
import statistics
import threading

MIN_BEYOND = 10  # a tail percentile needs at least this many samples above it


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n_beyond)`` of the highest nearest-rank
    percentile that leaves at least ``MIN_BEYOND`` samples above it.

    Below ``2 * MIN_BEYOND`` samples that percentile would fall under the
    median, so no tail qualifies: the maximum is returned with percentile
    100 and ``n_beyond`` 0, and the caller prints the shortfall beside it."""
    if not values:
        return 0.0, 0.0, 0
    s = sorted(values)
    n = len(s)
    rank = n - MIN_BEYOND  # 1-based nearest rank
    if n < 2 * MIN_BEYOND:
        return s[-1], 100.0, 0
    return s[rank - 1], 100.0 * rank / n, n - rank


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostWitness:
    """Load average and CPU steal over a run, printed beside the metrics
    so host noise can be told apart from a regression."""

    def __init__(self) -> None:
        self.t0 = _cpu_times()
        self.load0 = os.getloadavg()[0]

    def report(self) -> dict[str, float]:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d[:8]) or 1  # user..steal; guest time is inside user
        busy = total - d[3] - d[4]  # minus idle, iowait
        return {
            "load1_start": self.load0,
            "load1_end": os.getloadavg()[0],
            "steal_pct": 100.0 * d[7] / total,
            "host_busy_pct": 100.0 * busy / total,
        }


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split between
    their sharers, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory (PSS) of ``root`` and all its descendants (the
    Python driver, the JVM it launched and the JVM's Python workers)."""
    total, stack, seen = 0, [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _pss_kb(pid)
        stack.extend(_children(pid))
    return total / 1024.0


class PeakRss:
    """Background sampler of ``tree_rss_mb`` for this process; ``stop``
    joins the thread and returns the peak in MB."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.peak = 0.0
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(pid))
            self._stop.wait(self._interval)

    def reset(self) -> None:
        """Forget the peak so far: the next ``stop`` reports the peak since now."""
        self.peak = tree_rss_mb(os.getpid())

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))
        return self.peak


def load_spec(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def spec_units(spec: dict, trace: bool) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def result_line(
    spec: dict, trace: bool, values: dict[str, float], attempted: int, failed: int,
    correct: bool,
) -> str:
    """The last stdout line. Raises if ``values`` does not carry exactly
    the metrics BENCHMARK.json lists for this mode."""
    units = spec_units(spec, trace)
    if set(values) != set(units):
        missing = sorted(set(units) - set(values))
        extra = sorted(set(values) - set(units))
        raise ValueError(f"metric names differ from BENCHMARK.json: missing={missing} extra={extra}")
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
    )
