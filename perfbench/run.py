"""Benchmark harness for covsar_spark.

    python3 perfbench/run.py --workload {suite,ingest} --seed N \
        --seconds S --trace {0,1} [--size {full,small}]

Runs one workload as a closed loop from this single process on
local[nproc]: set-up (session build + warm-ups + input warm scan), one
untimed pass whose outputs are checked against an oracle (the
warm-up), then timed passes until ``--seconds`` have run and at least
two passes. The last line of stdout is one JSON object: {"correct",
"attempted", "failed", "metrics"}. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` a traced pass (event log, spans, job groups) follows the
timed ones and gives the per-layer metrics. The line before it carries the
host sizing, noise readings and the workload's own figures. Inputs, Spark
scratch, event logs and span dumps stay under ``.perfbench_work/`` in the
working directory. ``--size small`` is the smoke test's input size."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = REPO  # import the repo by package name, not this directory's modules

# The JIT compilers still use a quarter of a pass's CPU time in the second
# pass, by an amount that differs from run to run; the median of two timed
# passes is steadier than one.
MIN_TIMED_PASSES = 2


def host_sizing() -> dict:
    """Cores from the CPU affinity mask (what `nproc` prints) and a driver
    heap of a sixth of MemTotal, 1-16 GiB."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(16, mem_kb // (6 * 1024 * 1024)))
    return {"cores": len(os.sched_getaffinity(0)), "mem_total_gb": mem_kb / 1024**2, "driver_heap_gb": heap_gb}


def configure_env(work: str, host: dict) -> None:
    """Must run before covsar_spark.session is imported (it reads
    SPARK_DRIVER_MEM at import) and before the JVM starts."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{host['driver_heap_gb']}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every ``period_s``. Each process
    counts its proportional set size, so pages that forked Python workers
    share with their daemon are counted once."""

    def __init__(self, period_s: float = 2.0):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._halt = threading.Event()

    @staticmethod
    def tree() -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    kids.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue  # process ended mid-scan
        out, stack = [], [os.getpid()]
        while stack:
            pid = stack.pop()
            out.append(pid)
            stack.extend(kids.get(pid, ()))
        return out

    def sample(self) -> int:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                continue
        return total

    def run(self):
        while not self._halt.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._halt.wait(self.period_s)

    def stop(self):
        self._halt.set()
        self.join()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used by this process and its
    descendants, reaped children included. Time the host stole from the
    virtual CPUs is not in it."""
    total = 0
    for pid in RssSampler.tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                # utime, stime, cutime, cstime: fields 14-17
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue  # process ended mid-scan
    return total / os.sysconf("SC_CLK_TCK")


def build_session(host: dict, extra_conf: dict | None = None):
    from covsar_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **(extra_conf or {})}
    n = host["cores"]
    return get_spark("perfbench", cores=n, shuffle_partitions=n, extra_conf=conf)


def set_up(workload, host: dict):
    """Build the session and warm-scan the inputs; returns (spark, s)."""
    t0 = time.perf_counter()
    spark = build_session(host)
    workload.warm_scan(spark)
    return spark, time.perf_counter() - t0


def stop_jvm(timeout_s: float = 60) -> None:
    """End the JVM PySpark launched and wait for it: it exits when its stdin
    closes, which otherwise happens only when this process exits."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    proc.wait(timeout=timeout_s)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full")
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work")
    host = host_sizing()
    configure_env(work, host)
    from bench import NoiseSampler, host_probe
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    t_start = time.perf_counter()
    workload = WORKLOADS[args.workload](work, args.seed, args.size)
    workload.prepare()  # input generation: outside set-up and every timed region

    t_prep = time.perf_counter()
    calib_pre = host_probe()
    noise = NoiseSampler(period_s=1.0)
    rss = RssSampler()
    noise.start()
    rss.start()
    spark = None
    try:
        if args.trace:
            out = traced_run(workload, host, work, args)
        else:
            out = untraced_run(workload, host, args)
        spark = out.pop("spark")
        windows = out.pop("timed_windows")
    finally:
        rss.stop()
        noise.stop()
        if spark is not None:
            spark.stop()
        stop_jvm()
    calib_post = host_probe()
    cotenant = [c for w in windows for c in noise.intervals(*w)]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "calib_pre_ops_s": calib_pre,
        "calib_post_ops_s": calib_post,
        "cotenant_cores_p50": statistics.median(cotenant) if cotenant else 0.0,
        "cotenant_cores_max": max(cotenant, default=0.0),
        **out.pop("info"),
        "phases_s": {"prepare": t_prep - t_start, "run": time.perf_counter() - t_prep},
    }
    metrics = out.pop("metrics")
    if args.trace:
        metrics["host.calib_pre_ops_s"] = metric(calib_pre, "ops/s")
        metrics["host.calib_post_ops_s"] = metric(calib_post, "ops/s")
        metrics["host.cotenant_cores_max"] = metric(info["cotenant_cores_max"], "cores")
    else:
        metrics["peak_rss_mb"] = metric(rss.peak_bytes / 1e6, "MB")
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def _tally(workload, res, tally: dict) -> None:
    tally["attempted"] += res.attempted
    tally["failed"] += res.failed
    for e in res.errors:
        print(f"FAILED {workload.name}: {e}", file=sys.stderr)


def timed_passes(workload, spark, seconds: float, tally: dict) -> dict:
    """One checked pass, which is also the warm-up and is not timed; then
    timed passes as a closed loop: the next pass starts when the previous
    one is done, until ``seconds`` have run and at least MIN_TIMED_PASSES
    passes. Returns the median wall, the median CPU time of the process
    tree per pass and the median figures."""
    from perfbench.trace import Tracer

    off = Tracer()
    checked = workload.run_pass(spark, off, check=True)
    _tally(workload, checked, tally)
    passes, windows, cpu = [], [], []
    start = time.perf_counter()
    while len(passes) < MIN_TIMED_PASSES or time.perf_counter() - start < seconds:
        w0, c0 = time.time(), tree_cpu_s()
        res = workload.run_pass(spark, off, check=False)
        cpu.append(tree_cpu_s() - c0)
        windows.append((w0, w0 + res.wall_s))
        passes.append(res)
        _tally(workload, res, tally)
    return {
        "wall_s": statistics.median(p.wall_s for p in passes),
        "cpu_s": statistics.median(cpu),
        "figures": {
            k: statistics.median(p.figures[k] for p in passes if k in p.figures)
            for k in passes[0].figures
        },
        "windows": windows,
        "info": {
            "checked_pass_s": checked.wall_s,
            "pass_walls_s": [p.wall_s for p in passes],
            "pass_cpu_s": cpu,
        },
    }


def untraced_run(workload, host: dict, args) -> dict:
    spark, setup_s = set_up(workload, host)
    tally = {"attempted": 0, "failed": 0}
    timed = timed_passes(workload, spark, args.seconds, tally)
    return {
        "spark": spark,
        "timed_windows": timed["windows"],
        **tally,
        "metrics": {
            "setup_s": metric(setup_s, "s"),
            "cpu_s": metric(timed["cpu_s"], "s"),
        },
        "info": {**timed["info"], "wall_s": timed["wall_s"], "figures": timed["figures"]},
    }


def traced_run(workload, host: dict, work: str, args) -> dict:
    """One set-up with the Spark event log on, the untraced run's checked
    and timed passes (the workload figures are their medians), then one
    traced pass whose spans and event-log window give the layer metrics."""
    from perfbench.trace import Tracer, make_progress_listener, spark_window_metrics, stream_metrics

    evlog = os.path.join(work, "eventlog")
    os.makedirs(evlog, exist_ok=True)
    t0 = time.perf_counter()
    spark = build_session(
        host,
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{evlog}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    build_s = time.perf_counter() - t0
    workload.warm_scan(spark)
    tally = {"attempted": 0, "failed": 0}
    untraced = timed_passes(workload, spark, args.seconds, tally)
    windows = untraced["windows"]

    app_id = spark.sparkContext.applicationId
    tr = Tracer(spark.sparkContext, enabled=True)
    listener = make_progress_listener()
    spark.streams.addListener(listener)
    with tr.span("pass") as pass_span:
        traced = workload.run_pass(spark, tr, check=False)
    # progress reports arrive asynchronously: wait until they stop coming
    seen = -1
    deadline = time.time() + 3
    while seen != len(listener.progress) and time.time() < deadline:
        seen = len(listener.progress)
        time.sleep(0.3)
    spark.streams.removeListener(listener)
    _tally(workload, traced, tally)
    spark.stop()  # closes the event log file
    spark = None

    m = {
        "session.build_s": metric(build_s, "s"),
        "wall_s": metric(untraced["wall_s"], "s"),
        "tracing.overhead_s": metric(traced.wall_s - untraced["wall_s"], "s"),
        "failed_frac": metric(tally["failed"] / max(tally["attempted"], 1), "fraction"),
        "plans.pipeline.plan_build_s": metric(
            tr.seconds("plans.pipeline.run_tiers") + tr.seconds("plans.build"), "s"
        ),
        "operators.rollup.s": metric(tr.seconds("operators.rollup"), "s"),
        "operators.tier_kernel.s": metric(tr.seconds("operators.tier_kernel"), "s"),
        "operators.closure_correct.s": metric(tr.seconds("operators.closure_correct"), "s"),
    }
    spark_m = spark_window_metrics(evlog, app_id, pass_span.t0, pass_span.t1, host["cores"])
    for k, v in spark_m.items():
        if k != "driver_serial_s":
            unit = "count" if k.startswith("plan.") or k in ("spark.jobs", "spark.tasks") else (
                "MB" if k.endswith("_mb") else "s"
            )
            m[k] = metric(v, unit)
    from perfbench.workloads import FAMILIES

    for family in FAMILIES:
        spans = [s for s in tr.spans if s.name == f"contract.{family}"]
        serial = (
            spark_window_metrics(evlog, app_id, spans[0].t0, spans[0].t1, host["cores"])["driver_serial_s"]
            if spans else 0.0
        )
        m[f"contract.{family}.driver_serial_s"] = metric(serial, "s")
    f = untraced["figures"]
    for family in (*FAMILIES, "tiers"):
        m[f"family.{family}_s"] = metric(f.get(f"family.{family}_s", 0.0), "s")
    sm = stream_metrics(listener.progress)
    for k, unit in (
        ("batches", "count"), ("batch_p50_s", "s"), ("input_rows_per_s", "rows/s"),
        ("state_rows", "count"), ("state_mb", "MB"),
    ):
        m[f"streaming.rollup_stream.{k}"] = metric(sm[k], unit)
    m["points_per_s"] = metric(f.get("points_per_s", 0.0), "points/s")
    m["stream_rows_per_s"] = metric(f.get("stream_rows_per_s", 0.0), "rows/s")
    m["maintain_s"] = metric(f.get("maintain_s", 0.0), "s")
    m["sources.tables.write_tier_s"] = metric(tr.seconds("sources.tables.write_tier"), "s")
    m["sources.tables.compact_tier_s"] = metric(tr.seconds("sources.tables.compact_tier"), "s")
    tf = traced.figures  # counts: the same in every pass
    m["sources.tables.files_before"] = metric(tf.get("files_before", 0), "count")
    m["sources.tables.files_after"] = metric(tf.get("files_after", 0), "count")
    m["operators.refresh.refresh_tier_table_s"] = metric(tr.seconds("operators.refresh.refresh_tier_table"), "s")
    m["operators.refresh.dirty_days"] = metric(tf.get("dirty_days", 0), "count")
    m["operators.refresh.rows_written"] = metric(tf.get("rows_written", 0), "count")

    dump = os.path.join(work, f"trace-{workload.name}-{args.seed}.json")
    tr.dump(dump, {"workload": workload.name, "seed": args.seed, "app_id": app_id,
                   "stream_progress": listener.progress, "metrics": m})
    return {
        "spark": None,
        "timed_windows": windows,
        **tally,
        "metrics": m,
        "info": {
            **untraced["info"],
            "figures": f,
            "traced_wall_s": traced.wall_s,
            "trace_file": os.path.relpath(dump),
        },
    }


if __name__ == "__main__":
    sys.exit(main())
