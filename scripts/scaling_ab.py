"""Config bisect for the scaling-gate deficit (r8, verdict #1 follow-up).

The event-log profiler (scripts/scaling_profile.py) measured the SAME
16M-row tiers workload at 0.966 local[1]->local[4] efficiency under a
plain-default Spark config, while the campaign protocol (scripts/scaling.py,
which builds its session through covsar_spark.session.get_spark) reads
0.82-0.85 on probe-clean pairs. local[1] agrees across configs (206k vs
212k pps), so one or more get_spark knobs cost ~10% at local[4] only.

This harness runs the identical child workload at ONE parallelism level
under named config variants — the two endpoints plus single-knob flips
between them (GC collector, Arrow batch size, heap size, shuffle dir,
BLAS pinning, broadcast threshold) — each with the steady-state protocol
(untimed warm-up, clearCache, timed re-execution), an event log, and the
host-speed probe bracketing, then prints one JSON line per variant with
the wall + per-stage decomposition so the losing knob has a name.

Usage: python scripts/scaling_ab.py [cores] [variant ...]
       (default: cores=4, all variants)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.scaling import CALIBRATE  # noqa: E402
from scripts.scaling_profile import parse_eventlog  # noqa: E402
from covsar_spark.session import driver_heap  # noqa: E402

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, ".")
cfg = json.loads(sys.argv[1])
cores = int(sys.argv[2]); horizon_s = int(sys.argv[3]); data = sys.argv[4]
evdir = sys.argv[5]
if cfg.pop("_pin_blas", False):
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
from functools import reduce
from pyspark.sql import SparkSession, functions as F
from covsar_spark.plans.pipeline import run_tiers

builder = (
    SparkSession.builder.master(f"local[{cores}]")
    .appName(f"scaling_ab_{cores}")
    .config("spark.sql.shuffle.partitions", str(cores * 2))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.dir", f"file:{evdir}")
    .config("spark.eventLog.compress", "false")
    .config("spark.eventLog.rolling.enabled", "false")
)
for k, v in cfg.items():
    builder = builder.config(k, v)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("WARN")
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

GETSPARK = {
    "_pin_blas": True,
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.driver.memory": "48g",
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.local.dir": "/dev/shm/spark-tmp",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
}
PLAIN = {"spark.driver.memory": driver_heap()}


def variants() -> dict[str, dict]:
    v = {"plain": dict(PLAIN), "getspark": dict(GETSPARK)}
    flips = {
        "getspark_g1": {"spark.driver.extraJavaOptions": None},
        "getspark_arrow10k": {"spark.sql.execution.arrow.maxRecordsPerBatch": None},
        "getspark_tmpshuffle": {"spark.local.dir": None},
        "getspark_noblas": {"_pin_blas": False},
        "getspark_16g": {"spark.driver.memory": "16g"},
        "getspark_bcast10m": {"spark.sql.autoBroadcastJoinThreshold": None},
    }
    for name, delta in flips.items():
        cfg = dict(GETSPARK)
        for k, val in delta.items():
            if val is None:
                cfg.pop(k, None)
            else:
                cfg[k] = val
        v[name] = cfg
    return v


def probe() -> float:
    env = {k: v for k, v in os.environ.items()
           if k not in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")}
    out = subprocess.run([sys.executable, "-c", CALIBRATE],
                         capture_output=True, text=True, env=env)
    try:
        return json.loads(out.stdout.strip().splitlines()[-1])["calib_ops_s"]
    except Exception:
        return float("nan")


def run_variant(name: str, cfg: dict, cores: int, horizon_s: int, data: str) -> dict:
    evdir = f"/tmp/covsar_ab_evlog_{name}_{os.getpid()}"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    c0 = probe()
    out = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(cfg), str(cores), str(horizon_s), data, evdir],
        capture_output=True, text=True, cwd=REPO,
    )
    c1 = probe()
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise RuntimeError(f"variant {name} produced no result")
    head = json.loads(lines[-1])
    prof = parse_eventlog(evdir, head["app_id"], head["t0_ms"], head["t1_ms"], cores)
    shutil.rmtree(evdir, ignore_errors=True)
    keep = {k: prof[k] for k in (
        "utilization", "driver_serial_s", "intra_job_idle_core_s", "task_run_s",
        "task_cpu_s", "gc_s", "python_block_s", "gc_frac_of_task", "tasks")}
    return {"variant": name, "calib_pre": c0, "calib_post": c1, **head, **keep}


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    want = sys.argv[2:] or list(variants())
    n_rows, n_sources, horizon_days = 16_000_000, 128, 112
    data = f"/tmp/covsar_scaling_tokens_{n_rows}_{n_sources}"
    if not os.path.exists(os.path.join(data, "_DONE")):
        from covsar_spark.datagen import write_tokens

        write_tokens(data, n_rows, n_sources=n_sources, payload_tokens=False)
        open(os.path.join(data, "_DONE"), "w").close()
    allv = variants()
    for name in want:
        r = run_variant(name, allv[name], cores, horizon_days * 86400, data)
        print(json.dumps(r), flush=True)


if __name__ == "__main__":
    main()
