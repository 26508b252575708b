"""Unit tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from perfbench import stats
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.trace import Job, Span, layer_metrics, read_event_logs, self_intervals
from perfbench.workloads import FrameGraph, PassResult, _load_check_oracles, compare_frames

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- tail percentile ---------------------------------------------------


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    # 11 samples: only the minimum has ten beyond it
    p, v = stats.tail([float(i) for i in range(11)])
    assert v == 0.0 and p == 9


def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    p, v = stats.tail(values)
    assert (p, v) == (90, 90.0)
    assert sum(1 for x in values if x > v) == 10
    # one more percentile would leave only nine beyond
    assert sum(1 for x in values if x > 91.0) == 9


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0] * 5
    assert stats.tail(values) == stats.tail(sorted(values))


# -- self time ------------------------------------------------------------


def _span(i, parent, layer, start, end, thread=1):
    return Span(id=i, parent=parent, layer=layer, name=f"s{i}", thread=thread,
                start=start, end=end, group=f"pb-{i}")


def test_self_time_subtracts_nested_children():
    spans = [
        _span(1, None, "queries", 0.0, 10.0),
        _span(2, 1, "frame", 1.0, 4.0),
        _span(3, 2, "frame", 2.0, 3.0),
        _span(4, 1, "sink", 5.0, 9.0),
    ]
    own = self_intervals(spans)
    assert own[1] == [(0.0, 1.0), (4.0, 5.0), (9.0, 10.0)]
    assert own[2] == [(1.0, 2.0), (3.0, 4.0)]
    assert own[3] == [(2.0, 3.0)]
    m = layer_metrics(spans, [])
    assert m["queries"]["self_s"] == pytest.approx(3.0)
    assert m["frame"]["self_s"] == pytest.approx(3.0)
    assert m["sink"]["self_s"] == pytest.approx(4.0)
    # a nested call inside the same layer is not a new entry into it
    assert m["frame"]["calls"] == 1


def test_self_time_with_overlapping_children():
    spans = [
        _span(1, None, "streaming.ingest", 0.0, 10.0),
        _span(2, 1, "operators.dedup", 2.0, 6.0, thread=2),
        _span(3, 1, "operators.dedup", 4.0, 8.0, thread=3),
    ]
    assert layer_metrics(spans, [])["streaming.ingest"]["self_s"] == pytest.approx(4.0)


# -- event log -> layers --------------------------------------------------


def _fixture_log(path):
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pb-2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 300, "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 200, "Disk Bytes Spilled": 50,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        # a job with no benchmark group (a streaming query's own thread):
        # charged to the main-thread span open when it was submitted
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 6000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "stream-run"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Executor Run Time": 1000}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 7000},
        # outside every span: dropped
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 50000,
         "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 51000},
    ]
    with open(path, "w") as f:
        for e in ev:
            f.write(json.dumps(e) + "\n")


def test_event_log_aggregates_to_layers(tmp_path):
    log = tmp_path / "app-1"
    _fixture_log(log)
    jobs = read_event_logs([str(log)])
    assert [(j.group, j.tasks) for j in jobs] == [("pb-2", 2), ("stream-run", 1), ("", 0)]
    spans = [
        _span(1, None, "queries", 0.0, 5.0),
        _span(2, 1, "sink", 0.5, 2.5),
        _span(3, None, "streaming.ingest", 5.5, 8.0),
    ]
    m = layer_metrics(spans, jobs, main_thread=1)
    sink = m["sink"]
    assert (sink["jobs"], sink["tasks"]) == (1, 2)
    assert sink["task_s"] == pytest.approx(0.5)
    assert (sink["shuffle_write_bytes"], sink["spill_bytes"]) == (100, 50)
    # sink span 0.5-2.5 s, its job 1-2 s: 1 s of driver gap
    assert sink["driver_gap_s"] == pytest.approx(1.0)
    ing = m["streaming.ingest"]
    assert (ing["jobs"], ing["tasks"]) == (1, 1)
    assert ing["driver_gap_s"] == pytest.approx(2.5 - 1.0)
    assert m["queries"]["jobs"] == 0
    assert m["queries"]["driver_gap_s"] == pytest.approx(3.0)
    assert sum(j.tasks_failed for j in jobs) == 1


def test_jobs_charged_to_innermost_open_span():
    spans = [_span(1, None, "queries", 0.0, 10.0), _span(2, 1, "operators.graph", 2.0, 8.0)]
    jobs = [Job(id=("0", 0), group="", start=3.0, end=4.0, tasks=4, task_s=2.0)]
    m = layer_metrics(spans, jobs, main_thread=1)
    assert m["operators.graph"]["jobs"] == 1 and m["queries"]["jobs"] == 0


# -- pass and op summaries ------------------------------------------------


def _pass(times: dict) -> PassResult:
    return PassResult(sum(times.values()), list(times.values()), len(times), [], times)


def test_pass_seconds_sums_each_ops_median():
    wl = FrameGraph(ROOT)
    wl.ops = ["a", "b"]
    passes = [_pass({"a": 1.0, "b": 2.0}), _pass({"a": 1.5, "b": 2.2}), _pass({"a": 9.0, "b": 3.0})]
    # the stall of "a" in the last pass drops out of its median
    assert wl.op_medians(passes) == {"a": 1.5, "b": 2.2}
    assert wl.pass_seconds(passes) == pytest.approx(1.5 + 2.2)
    assert wl.op_gmean(passes) == pytest.approx((1.5 * 2.2) ** 0.5)
    assert wl.op_p50(passes) == pytest.approx((2.0 + 2.2) / 2)


def test_op_medians_skip_an_op_that_failed_in_a_pass():
    wl = FrameGraph(ROOT)
    wl.ops = ["a", "b"]
    passes = [_pass({"a": 1.0, "b": 2.0}), _pass({"a": 3.0}), _pass({"a": 2.0, "b": 4.0})]
    assert wl.op_medians(passes) == {"a": 2.0, "b": 3.0}


# -- output check -------------------------------------------------------


@pytest.fixture(scope="module")
def check_oracles():
    return _load_check_oracles(ROOT)


def _frames():
    got = pd.DataFrame({"user_id": [1, 2, 3], "col": ["a", "b", "a"], "value": [1.0, 0.0, 3.0]})
    return got, got.iloc[::-1].reset_index(drop=True).copy()


def test_output_check_accepts_reordered_equal_result(check_oracles):
    got, want = _frames()
    assert compare_frames(got, want, check_oracles.normalize, check_oracles.dtype_kinds) is None


@pytest.mark.parametrize(
    "perturb",
    [
        lambda d: d.assign(value=d["value"].where(d.index != 0, d["value"] + 1e-9)),
        lambda d: d.iloc[1:],
        lambda d: d.rename(columns={"col": "column"}),
        lambda d: d.assign(user_id=d["user_id"].astype("float64")),
        lambda d: d.assign(value=d["value"].where(d.index != 1, -0.0)),
    ],
    ids=["last-digit", "missing-row", "renamed-column", "int-became-float", "signed-zero"],
)
def test_output_check_flags_perturbed_result(check_oracles, perturb):
    got, want = _frames()
    reason = compare_frames(perturb(got), want, check_oracles.normalize, check_oracles.dtype_kinds)
    assert reason


# -- BENCHMARK.json -------------------------------------------------------


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
