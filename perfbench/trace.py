"""Tracing for the benchmark: in-memory spans around layer calls, Spark
event-log attribution per span window, and streaming progress capture.

Spans are recorded by the harness around calls into each layer's public
functions; nothing inside the program is instrumented. When tracing is on,
each span also tags the jobs it launches with a Spark job group named after
the span, so the event log can be read per layer.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float  # wall-clock seconds (event-log timestamps are wall-clock ms)
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans in memory; a disabled tracer records nothing and
    touches no Spark state."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        group = f"{span.name}#{span.id}" if span else None
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", span.name if span else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self._tag(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self.sc is not None:
                self._tag(parent)

    def seconds(self, name: str) -> float:
        """Total duration of every span with this name."""
        return sum(s.seconds for s in self.spans if s.name == name)

    def dump(self, path: str, extra: dict) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {**s.__dict__, "seconds": s.seconds, "self_s": selfs[s.id]}
                        for s in self.spans
                    ],
                },
                f,
                indent=1,
            )


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of its interval that
    its direct children cover (children clipped to the parent)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_seconds(
            [(max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids.get(s.id, []) if c.t1 > s.t0 and c.t0 < s.t1]
        )
        out[s.id] = s.seconds - covered
    return out


# ---------------------------------------------------------------------------
# Event log: what scripts/scaling_profile.parse_eventlog does not report
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def is_arrow_eval(node_name: str) -> bool:
    """Python-evaluation nodes that cross the Arrow boundary."""
    return "Pandas" in node_name or "InArrow" in node_name or (
        node_name.startswith("Arrow") and "Python" in node_name
    )


def plan_counts(plan: dict) -> dict[str, int]:
    """Exchange / ReusedExchange / Arrow-eval node counts of a sparkPlanInfo tree."""
    counts = {"exchanges": 0, "reused_exchanges": 0, "arrow_eval_nodes": 0}
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name in ("Exchange", "BroadcastExchange"):
            counts["exchanges"] += 1
        elif name == "ReusedExchange":
            counts["reused_exchanges"] += 1
        elif is_arrow_eval(name):
            counts["arrow_eval_nodes"] += 1
        stack.extend(node.get("children", []))
    return counts


def eventlog_extras(path: str, t0_ms: int, t1_ms: int) -> dict:
    """Spill bytes of tasks finishing in [t0_ms, t1_ms], and the node counts
    of the FINAL plan (last adaptive update, else the start plan) of every
    SQL execution started in the window."""
    spill_b = 0
    starts: dict[int, int] = {}
    final_plan: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerTaskEnd":
                fin = (ev.get("Task Info") or {}).get("Finish Time", 0)
                if t0_ms <= fin <= t1_ms:
                    m = ev.get("Task Metrics") or {}
                    spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            elif kind == _SQL_START:
                starts[ev["executionId"]] = ev.get("time", 0)
                final_plan.setdefault(ev["executionId"], ev.get("sparkPlanInfo", {}))
            elif kind == _SQL_AQE_UPDATE:
                final_plan[ev["executionId"]] = ev.get("sparkPlanInfo", {})
    counts = {"exchanges": 0, "reused_exchanges": 0, "arrow_eval_nodes": 0}
    for ex_id, t in starts.items():
        if t0_ms <= t <= t1_ms:
            for k, v in plan_counts(final_plan[ex_id]).items():
                counts[k] += v
    return {"spill_mb": spill_b / 1e6, **counts}


def spark_window_metrics(evlog_dir: str, app_id: str, t0: float, t1: float, cores: int) -> dict:
    """Task/job metrics of one wall-clock window, named as the benchmark
    reports them."""
    import os

    from scripts.scaling_profile import parse_eventlog

    t0_ms, t1_ms = int(t0 * 1000), int(t1 * 1000) + 1
    p = parse_eventlog(evlog_dir, app_id, t0_ms, t1_ms, cores)
    x = eventlog_extras(os.path.join(evlog_dir, app_id), t0_ms, t1_ms)
    return {
        "spark.task_run_s": p["task_run_s"],
        "spark.task_cpu_s": p["task_cpu_s"],
        "spark.python_gap_s": round(p["task_run_s"] - p["task_cpu_s"], 2),
        "spark.gc_s": p["gc_s"],
        "spark.shuffle_read_mb": p["shuffle_read_mb"],
        "spark.shuffle_write_mb": p["shuffle_write_mb"],
        "spark.spill_mb": x["spill_mb"],
        "spark.input_mb": p["input_mb"],
        "spark.jobs": p["jobs_in_window"],
        "spark.tasks": p["tasks"],
        "driver_serial_s": p["driver_serial_s"],
        "plan.exchanges": x["exchanges"],
        "plan.reused_exchanges": x["reused_exchanges"],
        "plan.arrow_eval_nodes": x["arrow_eval_nodes"],
    }


# ---------------------------------------------------------------------------
# Structured Streaming progress
# ---------------------------------------------------------------------------


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            self.progress.append(
                {
                    "rows": p.numInputRows,
                    "batch_s": p.durationMs.get("triggerExecution", 0) / 1000,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def stream_metrics(progress: list[dict]) -> dict:
    busy_s = sum(p["batch_s"] for p in progress)
    rows = sum(p["rows"] for p in progress)
    return {
        "batches": len(progress),
        "batch_p50_s": statistics.median(p["batch_s"] for p in progress) if progress else 0.0,
        "input_rows_per_s": rows / busy_s if busy_s else 0.0,
        "state_rows": max((p["state_rows"] for p in progress), default=0),
        "state_mb": max((p["state_bytes"] for p in progress), default=0) / 1e6,
    }
