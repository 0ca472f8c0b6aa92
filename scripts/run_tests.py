#!/usr/bin/env python
"""Parallel test runner: shards tests/test_*.py across N pytest
subprocesses (each with its own SparkSession/JVM) so the full suite
fits a 10-minute sandbox window without pytest-xdist (not installed,
and installs are off-limits in this container).

Sharding is greedy bin-packing by per-FILE durations measured from
each passing run's junitxml. A run writes them to the git-ignored
scripts/.test_durations.local.json and the next run reads that file
first, falling back to the tracked seed scripts/test_durations.json,
so running the tests leaves the tree clean.
Files heavier than SPLIT_ABOVE are split into chunks of collected
node ids so one big parametrized file (test_oracle_parity.py) cannot
bound the wall clock. Each worker gets SPARK_GRAFT_CPUS =
32 // workers so the box is not oversubscribed.

Usage: python scripts/run_tests.py [-j N] [pytest args...]
Exit code: 0 iff every shard passed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import tempfile
import time
import xml.etree.ElementTree as ET

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DURATIONS = os.path.join(REPO, "scripts", "test_durations.json")  # tracked seed
MEASURED = os.path.join(REPO, "scripts", ".test_durations.local.json")  # git-ignored
DEFAULT_WEIGHT = 60.0  # unknown files: assume mid-weight
SPLIT_ABOVE = 180.0  # node-split files heavier than this (seconds)
SPLIT_TARGET = 120.0  # aim for chunks of about this weight
JVM_OVERHEAD = 20.0  # per-chunk session startup, charged when packing


def _load_durations() -> dict[str, float]:
    for path in (MEASURED, DURATIONS):
        try:
            with open(path) as fh:
                data = json.load(fh)
            if isinstance(data, dict):
                return {k: float(v) for k, v in data.items()}
        except (OSError, ValueError):
            continue
    return {}


def _split_heavy(files: list[str], weights: dict[str, float]) -> list[tuple[list[str], float]]:
    """Expand each file into one or more shard UNITS of (pytest args,
    packing weight). A file whose measured weight exceeds SPLIT_ABOVE
    is split into chunks of collected node ids — one extra JVM per
    chunk buys splitting a 300 s parametrized file."""
    units: list[tuple[list[str], float]] = []
    for f in files:
        w = weights.get(f, DEFAULT_WEIGHT)
        n_chunks = min(4, max(2, round(w / SPLIT_TARGET))) if w > SPLIT_ABOVE else 1
        if n_chunks > 1:
            try:
                out = subprocess.run(
                    [sys.executable, "-m", "pytest", "--collect-only", "-q",
                     "-p", "no:cacheprovider", f],
                    cwd=REPO, capture_output=True, text=True, timeout=120,
                ).stdout
                ids = [ln.strip() for ln in out.splitlines() if "::" in ln]
            except (OSError, subprocess.TimeoutExpired):
                ids = []
            if len(ids) >= n_chunks * 2:
                for c in range(n_chunks):
                    units.append((ids[c::n_chunks], w / n_chunks + JVM_OVERHEAD))
                continue
        units.append(([f], w))
    return units


def _shard(units: list[tuple[list[str], float]], n: int) -> list[list[list[str]]]:
    """Greedy longest-processing-time bin packing over shard units."""
    bins: list[tuple[float, list]] = [(0.0, []) for _ in range(n)]
    for args_, w in sorted(units, key=lambda u: -u[1]):
        i = min(range(n), key=lambda j: bins[j][0])
        total, members = bins[i]
        bins[i] = (total + w, members + [args_])
    return [members for _, members in bins if members]


def _file_times_from_junit(xml_path: str, files: list[str]) -> dict[str, float]:
    """Per-file test-time sums from a junitxml report. testcase
    classname is the dotted module path (possibly plus a class);
    resolve it against the known file list."""
    by_mod = {f[:-3].replace(os.sep, "."): f for f in files}  # tests.test_x -> path
    sums: dict[str, float] = {}
    try:
        root = ET.parse(xml_path).getroot()
    except (OSError, ET.ParseError):
        return sums
    for tc in root.iter("testcase"):
        cls = tc.get("classname") or ""
        f = None
        while cls:
            if cls in by_mod:
                f = by_mod[cls]
                break
            cls = cls.rpartition(".")[0]
        if f is not None:
            sums[f] = sums.get(f, 0.0) + float(tc.get("time") or 0.0)
    return sums


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-j", "--workers", type=int, default=4)
    ap.add_argument("pytest_args", nargs="*", default=[])
    args = ap.parse_args()

    files = sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, "tests", "test_*.py"))
    )
    if not files:
        print("no test files found", file=sys.stderr)
        return 2
    weights = _load_durations()
    shards = _shard(_split_heavy(files, weights), max(1, args.workers))
    cpus = str(max(2, 32 // max(1, len(shards))))

    tmpdir = tempfile.mkdtemp(prefix="run_tests_")
    procs = []
    t0 = time.time()
    for i, shard in enumerate(shards):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = env.get("SPARK_TEST_CPUS", cpus)
        shard_args = [a for unit in shard for a in unit]
        xml_path = os.path.join(tmpdir, f"shard{i}.xml")
        cmd = [
            sys.executable, "-m", "pytest", *shard_args, "-q",
            "-p", "no:cacheprovider", f"--junitxml={xml_path}",
            "-o", "junit_family=xunit2", *args.pytest_args,
        ]
        procs.append(
            (
                subprocess.Popen(
                    cmd, cwd=REPO, env=env,
                    stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                ),
                xml_path,
                time.time(),
            )
        )
        print(f"[shard {i}] {len(shard)} units, {len(shard_args)} args", flush=True)

    failed = False
    measured: dict[str, float] = {}
    for i, (proc, xml_path, started) in enumerate(procs):
        out, _ = proc.communicate()
        took = time.time() - started
        tail = [ln for ln in out.strip().splitlines() if ln.strip()][-2:]
        status = "OK" if proc.returncode == 0 else f"EXIT {proc.returncode}"
        print(f"[shard {i}] {status} in {took:.0f}s :: " + " | ".join(tail), flush=True)
        if proc.returncode != 0:
            failed = True
            print(out, flush=True)
        for f, t in _file_times_from_junit(xml_path, files).items():
            measured[f] = measured.get(f, 0.0) + t

    if not failed and measured:
        new_weights = {k: v for k, v in weights.items() if k not in set(files)}
        new_weights.update({f: round(t, 2) for f, t in measured.items()})
        try:
            with open(MEASURED, "w") as fh:
                json.dump(dict(sorted(new_weights.items())), fh, indent=1)
        except OSError:
            pass
    print(f"TOTAL {time.time() - t0:.0f}s — {'FAILED' if failed else 'ALL PASSED'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
