"""Per-stage decomposition of a local[1] vs local[4] scaling pair (r7
verdict #1: the clean-pair gate margin is 4% — find where local[4] loses
efficiency, fix it or prove it's hardware-bound).

Runs the EXACT scripts/scaling.py child workload (same fixture, same
steady-state protocol: untimed warm-up + clearCache + one timed run) with
the Spark event log enabled, then decomposes the timed region from
SparkListenerTaskEnd / JobStart / JobEnd events:

- wall, jobs/stages/tasks in the timed region
- sum executor run time (task-occupied core time) -> utilization =
  task_time / (wall * cores): the share of the rented cores that ran tasks
- driver-serial seconds: wall minus the union of [job submit, job end]
  intervals — pure driver/Catalyst/Py4J time no executor can parallelize
  (the Amdahl term: solving the r7B clean pair for the serial fraction
  gives ~6.4 s/run, enough to explain the whole 0.83 reading by itself)
- intra-job idle: task_time shortfall while jobs ARE running (barrier
  tails, skew, scheduling gaps)
- JVM GC time, executor CPU time vs run time (gap ~= time blocked on
  Python workers / IO for Arrow-UDF stages), shuffle read/write bytes,
  input bytes
- top stages by task time with per-stage run/cpu/gc so the loss has a name

Usage: python scripts/scaling_profile.py [n_rows] [horizon_days] [n_sources] [lo,hi]
Writes one JSON line per level + a `profile_pair` summary line to stdout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHILD = r"""
import json, sys, time
sys.path.insert(0, ".")
cores = int(sys.argv[1]); horizon_s = int(sys.argv[2]); data = sys.argv[3]
evdir = sys.argv[4]
from functools import reduce
from pyspark.sql import SparkSession, functions as F
from covsar_spark.plans.pipeline import run_tiers
from covsar_spark.session import driver_heap

spark = (
    SparkSession.builder.master(f"local[{cores}]")
    .appName(f"scaling_profile_{cores}")
    .config("spark.sql.shuffle.partitions", str(cores * 2))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.driver.memory", driver_heap())
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.dir", f"file:{evdir}")
    .config("spark.eventLog.compress", "false")
    .config("spark.eventLog.rolling.enabled", "false")
    .getOrCreate()
)
tokens = spark.read.parquet(data).select("doc_id", "n_tok", "source")
tokens.count()

def one_run():
    tiers = run_tiers(tokens, with_eigen=True, with_chunks=True, with_filled=False,
                      persist=True, persist_fused=False, horizon_s=horizon_s)
    fused_all = reduce(lambda a, b: a.unionByName(b), [d["fused"] for d in tiers.values()])
    return fused_all.select(F.sum("n_points")).collect()[0][0]

one_run()
spark.catalog.clearCache()
t0 = time.time()
points = one_run()
t1 = time.time()
print(json.dumps({"cores": cores, "wall_s": round(t1 - t0, 3), "points": points,
                  "pps": round(points / (t1 - t0), 1),
                  "t0_ms": int(t0 * 1000), "t1_ms": int(t1 * 1000),
                  "app_id": spark.sparkContext.applicationId}))
spark.stop()
"""


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


def run_level(cores: int, horizon_s: int, data: str) -> dict:
    evdir = f"/tmp/covsar_evlog_{cores}_{os.getpid()}"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(cores), str(horizon_s), data, evdir],
        capture_output=True, text=True, cwd=REPO,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise RuntimeError(f"child (cores={cores}) produced no result")
    head = json.loads(lines[-1])
    prof = parse_eventlog(evdir, head["app_id"], head["t0_ms"], head["t1_ms"], cores)
    shutil.rmtree(evdir, ignore_errors=True)
    return {**head, **prof}


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    horizon_days = int(sys.argv[2]) if len(sys.argv) > 2 else 112
    n_sources = int(sys.argv[3]) if len(sys.argv) > 3 else 128
    lo, hi = (
        (int(x) for x in sys.argv[4].split(","))
        if len(sys.argv) > 4
        else (1, 4)
    )
    from covsar_spark.datagen import write_tokens

    data = f"/tmp/covsar_scaling_tokens_{n_rows}_{n_sources}"
    if not os.path.exists(os.path.join(data, "_DONE")):
        write_tokens(data, n_rows, n_sources=n_sources, payload_tokens=False)
        open(os.path.join(data, "_DONE"), "w").close()
    horizon_s = horizon_days * 86400

    r_lo = run_level(lo, horizon_s, data)
    print(json.dumps(r_lo))
    r_hi = run_level(hi, horizon_s, data)
    print(json.dumps(r_hi))
    ratio = hi / lo
    eff = (r_hi["pps"] / r_lo["pps"]) / ratio
    # what-if decomposition: efficiency with the driver-serial term removed
    par_lo = r_lo["wall_s"] - r_lo["driver_serial_s"]
    par_hi = r_hi["wall_s"] - r_hi["driver_serial_s"]
    eff_no_serial = (par_lo / par_hi) / ratio if par_hi else float("nan")
    print(json.dumps({
        "profile_pair": [lo, hi],
        "efficiency": round(eff, 3),
        "efficiency_without_driver_serial": round(eff_no_serial, 3),
        "task_run_inflation": round(r_hi["task_run_s"] / r_lo["task_run_s"], 3)
        if r_lo["task_run_s"] else None,
        "gc_frac": [r_lo["gc_frac_of_task"], r_hi["gc_frac_of_task"]],
        "utilization": [r_lo["utilization"], r_hi["utilization"]],
        "driver_serial_s": [r_lo["driver_serial_s"], r_hi["driver_serial_s"]],
    }))


if __name__ == "__main__":
    main()
