"""Spark event-log decomposition of one wall-clock window: task, GC,
shuffle and input totals, driver-serial seconds and the top stages by task
time. perfbench/trace.py imports `parse_eventlog` from this path."""

from __future__ import annotations

import json
import os


def parse_eventlog(evdir: str, app_id: str, t0_ms: int, t1_ms: int, cores: int) -> dict:
    path = os.path.join(evdir, app_id)
    jobs = {}      # job id -> [submit, end]
    stages = {}    # stage id -> accumulators
    totals = dict(run_ms=0, cpu_ms=0, gc_ms=0, deser_ms=0, rser_ms=0,
                  sh_read_b=0, sh_write_b=0, input_b=0, tasks=0,
                  sh_write_ms=0, sh_fetch_wait_ms=0)
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.setdefault(ev["Job ID"], [ev["Submission Time"], None])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                fin = info.get("Finish Time", 0)
                if not (t0_ms <= fin <= t1_ms):
                    continue
                m = ev.get("Task Metrics") or {}
                run = m.get("Executor Run Time", 0)
                cpu = m.get("Executor CPU Time", 0) // 1_000_000
                gc = m.get("JVM GC Time", 0)
                de = m.get("Executor Deserialize Time", 0)
                rs = m.get("Result Serialization Time", 0)
                srm = m.get("Shuffle Read Metrics") or {}
                swm = m.get("Shuffle Write Metrics") or {}
                im = m.get("Input Metrics") or {}
                sr = srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                sw = swm.get("Shuffle Bytes Written", 0)
                swt = swm.get("Shuffle Write Time", 0) // 1_000_000
                sfw = srm.get("Fetch Wait Time", 0)
                ib = im.get("Bytes Read", 0)
                totals["run_ms"] += run; totals["cpu_ms"] += cpu
                totals["gc_ms"] += gc; totals["deser_ms"] += de
                totals["rser_ms"] += rs; totals["sh_read_b"] += sr
                totals["sh_write_b"] += sw; totals["input_b"] += ib
                totals["sh_write_ms"] += swt; totals["sh_fetch_wait_ms"] += sfw
                totals["tasks"] += 1
                sid = ev.get("Stage ID")
                s = stages.setdefault(sid, dict(run_ms=0, cpu_ms=0, gc_ms=0,
                                                tasks=0, name=None))
                s["run_ms"] += run; s["cpu_ms"] += cpu; s["gc_ms"] += gc
                s["tasks"] += 1
            elif kind == "SparkListenerStageCompleted":
                si = ev.get("Stage Info", {})
                sid = si.get("Stage ID")
                if sid in stages:
                    stages[sid]["name"] = si.get("Stage Name", "")[:80]

    # driver-serial seconds: the timed wall not covered by ANY running job
    ivs = sorted(
        (max(s, t0_ms), min(e, t1_ms))
        for s, e in jobs.values()
        if e is not None and e > t0_ms and s < t1_ms
    )
    covered = 0
    cur_s, cur_e = None, None
    n_jobs = len(ivs)
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    wall_ms = t1_ms - t0_ms
    serial_ms = wall_ms - covered
    util = totals["run_ms"] / (wall_ms * cores) if wall_ms else 0.0
    # idle WHILE jobs run: job-covered core-ms minus task-occupied core-ms
    intra_idle_ms = covered * cores - totals["run_ms"]
    top = sorted(stages.items(), key=lambda kv: -kv[1]["run_ms"])[:8]
    return {
        "jobs_in_window": n_jobs,
        "tasks": totals["tasks"],
        "task_run_s": round(totals["run_ms"] / 1000, 2),
        "task_cpu_s": round(totals["cpu_ms"] / 1000, 2),
        "gc_s": round(totals["gc_ms"] / 1000, 2),
        "deser_s": round(totals["deser_ms"] / 1000, 2),
        "result_ser_s": round(totals["rser_ms"] / 1000, 2),
        "shuffle_write_s": round(totals["sh_write_ms"] / 1000, 2),
        "shuffle_fetch_wait_s": round(totals["sh_fetch_wait_ms"] / 1000, 2),
        "shuffle_read_mb": round(totals["sh_read_b"] / 1e6, 1),
        "shuffle_write_mb": round(totals["sh_write_b"] / 1e6, 1),
        "input_mb": round(totals["input_b"] / 1e6, 1),
        "utilization": round(util, 4),
        "driver_serial_s": round(serial_ms / 1000, 2),
        "intra_job_idle_core_s": round(intra_idle_ms / 1000, 2),
        "gc_frac_of_task": round(totals["gc_ms"] / totals["run_ms"], 4) if totals["run_ms"] else 0,
        "python_block_s": round((totals["run_ms"] - totals["cpu_ms"] - totals["gc_ms"]) / 1000, 2),
        "top_stages": [
            {"stage": sid, "tasks": s["tasks"], "run_s": round(s["run_ms"] / 1000, 2),
             "cpu_s": round(s["cpu_ms"] / 1000, 2), "gc_s": round(s["gc_ms"] / 1000, 2),
             "name": s["name"]}
            for sid, s in top
        ],
    }
