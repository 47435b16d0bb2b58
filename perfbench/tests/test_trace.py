"""Unit tests for the benchmark's tracing arithmetic and event-log parsing.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench.trace import Span, Tracer, plan_counts, self_times, spark_window_metrics, stream_metrics, union_seconds  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def test_union_seconds_merges_overlaps():
    assert union_seconds([]) == 0.0
    assert union_seconds([(3, 6), (1, 4), (9, 10)]) == 6.0
    assert union_seconds([(0, 1), (1, 2)]) == 2.0


def test_self_time_subtracts_clipped_child_union():
    spans = [
        Span(0, None, "pass", 0.0, 10.0),
        Span(1, 0, "a", 1.0, 4.0),
        Span(2, 0, "b", 3.0, 6.0),  # overlaps a: counted once
        Span(3, 1, "a.child", 1.0, 2.0),  # grandchild: not the root's business
        Span(4, 0, "c", 9.0, 12.0),  # runs past its parent: clipped to 10
    ]
    got = self_times(spans)
    assert got == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0}


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    with tr.span("x") as s:
        pass
    assert s is None and tr.spans == []


def test_enabled_tracer_nests_and_totals():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    assert [s.name for s in tr.spans] == ["outer", "inner", "inner"]
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert tr.seconds("inner") == pytest.approx(tr.spans[1].seconds + tr.spans[2].seconds)


def test_plan_counts():
    plan = {
        "nodeName": "AdaptiveSparkPlan",
        "children": [
            {"nodeName": "ShuffleQueryStage", "children": [{"nodeName": "Exchange", "children": [
                {"nodeName": "ArrowEvalPython", "children": []}]}]},
            {"nodeName": "BroadcastExchange", "children": []},
            {"nodeName": "ReusedExchange", "children": []},
            {"nodeName": "MapInPandas", "children": []},
            {"nodeName": "Project", "children": []},
        ],
    }
    assert plan_counts(plan) == {"exchanges": 2, "reused_exchanges": 1, "arrow_eval_nodes": 2}


def test_eventlog_window_metrics():
    """The fixture holds two jobs and two tasks inside [0 s, 6 s], one task
    and one SQL execution after it, and an adaptive update that replaces
    the first execution's start plan."""
    m = spark_window_metrics(FIXTURES, "app-fixture", 0.0, 6.0, cores=4)
    assert m["spark.jobs"] == 2
    assert m["spark.tasks"] == 2
    assert m["spark.task_run_s"] == 2.0
    assert m["spark.task_cpu_s"] == 1.2
    assert m["spark.python_gap_s"] == 0.8
    assert m["spark.gc_s"] == 0.1
    assert m["spark.shuffle_read_mb"] == 2.0
    assert m["spark.shuffle_write_mb"] == 3.0
    assert m["spark.input_mb"] == 6.0
    assert m["spark.spill_mb"] == 5.0
    # wall 6 s minus job intervals [1, 3] and [4, 5]
    assert m["driver_serial_s"] == 3.0
    assert (m["plan.exchanges"], m["plan.reused_exchanges"], m["plan.arrow_eval_nodes"]) == (2, 1, 2)


def test_stream_metrics():
    progress = [
        {"rows": 100, "batch_s": 1.0, "state_rows": 10, "state_bytes": 2_000_000},
        {"rows": 300, "batch_s": 3.0, "state_rows": 30, "state_bytes": 1_000_000},
        {"rows": 0, "batch_s": 0.5, "state_rows": 30, "state_bytes": 1_000_000},
    ]
    m = stream_metrics(progress)
    assert m == {
        "batches": 3,
        "batch_p50_s": 1.0,
        "input_rows_per_s": 400 / 4.5,
        "state_rows": 30,
        "state_mb": 2.0,
    }
    assert stream_metrics([])["batches"] == 0
