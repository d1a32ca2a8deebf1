"""Self-tests for the harness arithmetic; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from counters import plan_node_counts  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _beyond(values, p):
    rank = math.ceil(p * len(values) / 100)
    return len(values) - rank


@pytest.mark.parametrize("n", [11, 12, 20, 30, 44, 100, 101, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    values = [float(i) for i in range(n, 0, -1)]  # unsorted input
    value, p, count = stats.tail_percentile(values)
    assert count == n
    assert _beyond(values, p) >= stats.TAIL_MIN_BEYOND
    assert _beyond(values, p + 1) < stats.TAIL_MIN_BEYOND
    assert value == sorted(values)[math.ceil(p * n / 100) - 1]


def test_tail_examples():
    assert stats.tail_percentile([float(i) for i in range(1, 31)]) == (20.0, 66, 30)
    assert stats.tail_percentile([float(i) for i in range(1, 101)]) == (90.0, 90, 100)


def test_tail_without_enough_samples_reports_median():
    assert stats.tail_percentile([1.0, 2.0, 3.0, 4.0]) == (2.5, 50, 4)
    with pytest.raises(ValueError):
        stats.tail_percentile([])


def test_self_time_subtracts_union_of_children():
    parent = stats.Span(0, None, "query", 0.0, 10.0)
    kids = [
        stats.Span(1, 0, "a", 1.0, 4.0),
        stats.Span(2, 0, "b", 3.0, 5.0),  # overlaps a: union 1..5
        stats.Span(3, 0, "c", 8.0, 12.0),  # clipped to the parent: 8..10
    ]
    assert stats.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)
    assert stats.self_time(parent, []) == 10.0


def test_union_length_ignores_empty_and_disjoint_order():
    assert stats.union_length([(5, 6), (1, 2), (2, 2), (1.5, 3)], 0, 10) == 3.0


def test_error_rate_base_is_attempted_calls():
    # 3 queries x (1 cold + 2 warm passes) = 9 calls; one raised, one
    # mismatched in the check pass
    assert stats.error_rate(attempted=9, failed=2) == pytest.approx(2 / 9)
    assert stats.error_rate(attempted=9, failed=0) == 0.0
    with pytest.raises(ValueError):
        stats.error_rate(attempted=0, failed=0)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: w.why for name, w in WORKLOADS.items()
    }
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _pass(*durations):
    return [stats.Span(i, None, "query", 0.0, d, {"query": f"q{i}"}) for i, d in enumerate(durations)]


def test_warm_medians_leave_out_settling_passes():
    warm = [_pass(9.0, 9.0)] * run.SETTLE_PASSES + [_pass(1.0, 2.0), _pass(1.0, 4.0), _pass(2.0, 2.0)]
    out = run.end_to_end(5.0, _pass(3.0, 4.0), warm)
    assert out == {"setup_s": 5.0, "cold_pass_s": 7.0, "pass_s": 4.0, "query_p50_s": 2.0}
    assert list(out) == list(END_TO_END)


def test_layer_metrics_cover_every_per_layer_name():
    tracer = stats.Tracer(enabled=True)
    root = tracer.open("query", start=0.0, query="q", pass_no=1)
    for name, (a, b) in {"plans.build": (0.0, 1.0), "catalyst.plan": (1.0, 1.5),
                         "exec.noop_write": (1.5, 4.0)}.items():
        span = tracer.open(name, root, start=a)
        span.end = b
    root.end = 4.0
    root.attrs.update(executor_run_s=2.0, executor_cpu_s=1.0, stream_jobs=3)
    out = run.layer_metrics(tracer, [root])
    assert set(out) | {"session.start_s"} == set(PER_LAYER)
    assert out["plans.build_s"] == 1.0 and out["exec.wall_s"] == 2.5
    assert out["exec.cpu_ratio"] == 0.5 and out["streaming.jobs"] == 3


def test_plan_node_counts():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- Project [a#1]",
        "   +- ArrowEvalPython [f(b#2)#3], [pythonUDF0#4], 200",
        "      +- *(1) BroadcastHashJoin [k#5], [k#6], Inner, BuildRight",
        "         :- Exchange hashpartitioning(k#5, 4), ENSURE_REQUIREMENTS, [plan_id=1]",
        "         +- BroadcastExchange HashedRelationBroadcastMode(List(k#6)), [plan_id=2]",
        "            +- MapInPandas f(c#7), [c#8]",
    ])
    assert plan_node_counts(plan) == {"exchanges": 2, "python_eval_nodes": 2}


def test_value_hash_ignores_row_order_and_float_jitter():
    a = checks.value_hash([(1, 0.1 + 0.2), (2, "x")])
    b = checks.value_hash([(2, "x"), (1, 0.3)])
    assert a == b
    assert a != checks.value_hash([(1, 0.3), (2, "y")])


def test_compare_skips_hash_for_unstable_queries():
    got = {"rows": 3, "schema": "struct<a:int>", "hash": "h2"}
    assert checks.compare({"rows": 3, "schema": "struct<a:int>", "hash": None}, got) is None
    assert checks.compare({"rows": 3, "schema": "struct<a:int>", "hash": "h1"}, got)
    assert checks.compare({"rows": 4, "schema": "struct<a:int>", "hash": None}, got)
    assert checks.compare(None, got) == "no expectation recorded"


def test_every_workload_query_has_an_expectation():
    expected = checks.load_expected(os.path.join(HERE, "expected.json"))
    for w in WORKLOADS.values():
        assert set(w.queries) <= set(expected)
