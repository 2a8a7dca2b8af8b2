"""Tests for the benchmark's own bookkeeping (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.run import END_TO_END, PER_LAYER
from perfbench.sparkmetrics import (
    PYTHON_METRICS, StageStat, Window, parse_metric, summarize,
)
from perfbench.trace import Span, Tracer, covered, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.mark.parametrize(
    "text, value",
    [
        ("2,000,000", 2_000_000),
        ("0", 0),
        ("0.0 B", 0),
        ("5.6 KiB", 5.6 * 1024),
        ("26 ms", 0.026),
        ("1.5 m", 90.0),
        ("2.00 h", 7200.0),
        ("total (min, med, max (stageId: taskId))\n6.2 s (1.3 s, 1.6 s, "
         "1.6 s (stage 0.0: task 0))", 6.2),
        ("total (min, med, max (stageId: taskId))\n15.3 MiB (3.8 MiB, "
         "3.8 MiB, 3.8 MiB (stage 0.0: task 3))", 15.3 * 2**20),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "12 parsecs"])
def test_parse_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def _stage(sid, **kw):
    base = dict(
        stage_id=sid, attempt=0, num_tasks=4, run_s=1.0, cpu_s=0.5, gc_s=0.1,
        input_records=0, shuffle_write_records=0, shuffle_read_records=0,
        shuffle_write_bytes=0, shuffle_read_bytes=0, fetch_wait_s=0.0,
        spill_bytes=0,
    )
    base.update(kw)
    return StageStat(**base)


def test_summarize_picks_scan_reduce_and_longest_stage():
    w = Window(
        stages=[
            _stage(0, run_s=4.0, input_records=1000, shuffle_write_records=50,
                   shuffle_write_bytes=700, task_run_max_over_median=1.5),
            _stage(1, run_s=0.5, shuffle_read_records=50,
                   shuffle_read_bytes=700, fetch_wait_s=0.2,
                   read_records_max_over_median=3.0,
                   task_run_max_over_median=9.0),
        ],
        sql={"python.run_s": 2.5, "python.bytes_sent": 4096.0},
    )
    out = summarize(w, input_rows=1000)
    assert out["spark.task_run_s"] == pytest.approx(4.5)
    assert out["spark.task_cpu_s"] == pytest.approx(1.0)
    assert out["spark.shuffle_write_bytes"] == 700
    assert out["spark.shuffle_read_bytes"] == 700
    assert out["spark.shuffle_fetch_wait_s"] == pytest.approx(0.2)
    assert out["spark.task_max_over_median"] == 1.5  # the longest stage's
    assert out["operators.spatial.partial_agg_ratio"] == pytest.approx(0.05)
    assert out["operators.spatial.skew_max_over_median"] == 3.0
    assert out["python.run_s"] == 2.5
    assert out["python.boot_s"] == 0.0


def test_summarize_empty_window_is_all_zero():
    out = summarize(Window(), input_rows=10)
    assert set(PYTHON_METRICS.values()) <= set(out)
    assert all(v == 0 for v in out.values())


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(1, 3), (2, 4)], 2.5, 3.5) == 1
    assert covered([(5, 6)], 0, 4) == 0
    assert covered([], 0, 4) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 5.0, 0, "r"),  # overlaps a: counted once
        Span(3, "k", 1.5, 2.0, 1, "r"),  # grandchild: a's, not root's
        Span(4, "a", 6.0, 7.0, 0, "r"),
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10 - 4 - 1)
    assert st["a"] == pytest.approx((3 - 0.5) + 1)
    assert st["b"] == pytest.approx(2)
    assert st["k"] == pytest.approx(0.5)


def test_self_times_of_a_sequential_trace_add_up_to_the_root():
    spans = [
        Span(0, "pass", 0.0, 6.0, None, "r"),
        Span(1, "cut", 0.5, 2.0, 0, "r"),
        Span(2, "cut", 2.0, 5.0, 0, "r"),
        Span(3, "kernel", 2.5, 4.0, 2, "r"),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"pass": 1.5, "cut": 3.0, "kernel": 1.5})
    assert sum(st.values()) == pytest.approx(6.0)


def test_tracer_self_times_from_a_span_on():
    tr = Tracer("r")
    with tr.span("setup"):
        pass
    first = len(tr.spans)
    with tr.span("kernels"):
        with tr.span("k"):
            pass
    assert set(tr.self_times(first)) == {"kernels", "k"}
    assert set(tr.self_times()) == {"setup", "kernels", "k"}
    off = Tracer("r", enabled=False)
    with off.span("setup"):
        pass
    assert off.spans == [] and off.self_times() == {}


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == END_TO_END
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
