"""Tail-percentile rule, spread helper and the metric contract."""

import io
import json
import os
from contextlib import redirect_stdout

import pytest

import measure
import report
import spans
from engine import Gate, Sample

SPEC = measure.load_spec(
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
                 "BENCHMARK.json")
)


@pytest.mark.parametrize("n", [20, 21, 30, 100, 1000])
def test_tail_leaves_ten_samples_beyond(n):
    values = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    value, pct, beyond = measure.tail(values)
    assert beyond == 10
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    # no higher percentile qualifies: the next sample up has only 9 beyond
    assert sum(v > value + 1 for v in values) == 9


@pytest.mark.parametrize("n", [1, 9, 10, 19])
def test_tail_below_twenty_samples_reports_max(n):
    values = [float(i) for i in range(n)]
    assert measure.tail(values) == (float(n - 1), 100.0, 0)


def _metric_names(kind):
    return [m["name"] for m in SPEC[kind]]


def test_result_line_requires_exact_names():
    values = {n: 1.5 for n in _metric_names("end_to_end")}
    line = json.loads(measure.result_line(SPEC, False, values, 3, 0, True))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    with pytest.raises(ValueError):
        measure.result_line(SPEC, False, {**values, "extra": 1.0}, 3, 0, True)
    with pytest.raises(ValueError):
        measure.result_line(SPEC, True, values, 3, 0, True)


def _run_facts():
    return report.RunFacts(
        workload="dashboard", seed=1, seconds=1.0, cpus=4, driver_memory="2g", gen_s=0.1,
        setup_s=2.0, session_start_s=1.0, warmup_s=0.5, peak_rss_mb=100.0, attempted=2,
        failed=0, host={"load1_start": 0.1, "load1_end": 0.2, "steal_pct": 0.0, "host_busy_pct": 5.0},
    )


def _res():
    s = Sample("r0", "q_x", "operators", start=10.0, end=10.5, due=9.9, dispatched=9.95,
               build_s=0.1, rows_in=100)
    return {"samples": [s], "latencies_s": [0.6], "attempted": 1, "failed": 0,
            "t0": 9.9, "t1": 10.5, "rows": 100}


def test_end_to_end_and_per_layer_names_match_spec():
    run, res = _run_facts(), _res()
    assert list(report.end_to_end(run, res)) == _metric_names("end_to_end")
    values = report.per_layer(run, res, object(), spans.Tracer(True), {})
    assert set(values) == set(_metric_names("per_layer"))


def test_printed_names_and_units_match_spec():
    run, res = _run_facts(), _res()
    e2e = report.end_to_end(run, res)
    buf = io.StringIO()
    with redirect_stdout(buf):
        report.print_summary(run, res, e2e, measure.spec_units(SPEC, trace=False), Gate())
    printed = {}
    for line in buf.getvalue().splitlines():
        parts = line.split()
        if parts and parts[0] in e2e:
            printed[parts[0]] = parts[2]
    assert printed == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def test_self_time_subtracts_children():
    t = spans.Tracer(True)
    t.spans = [
        spans.Span(1, None, "req", "loadgen", "r", 0.0, 10.0),
        spans.Span(2, 1, "build", "operators", "r", 1.0, 4.0),
        spans.Span(3, 2, "load", "tables", "r", 2.0, 3.0),
        spans.Span(4, 1, "exec", "operators", "r", 4.0, 9.0),
    ]
    st = spans.self_times(t.spans)
    assert st == pytest.approx({"loadgen": 2.0, "operators": 7.0, "tables": 1.0})
    clipped = spans.self_times(t.spans, within=(5.0, 10.0))
    assert clipped == pytest.approx({"loadgen": 1.0, "operators": 4.0})


def test_every_per_layer_metric_names_what_it_should_move():
    for name in _metric_names("per_layer"):
        assert report.moves(name)
