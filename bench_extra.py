"""Builder-side profiling harness (guide §1.4) — NOT the frozen bench.py.

Times individual contract queries with the noop sink, N repeats each, in one
session, and can decompose the flagship tier pipeline into stages. Used to
attribute wall time (compute vs GC vs plan overhead) for OPTIMIZATION_r09.md;
the driver's numbers still come from the untouched bench.py.

Usage:
    python bench_extra.py queries <name> [name ...] [--repeats N]
    python bench_extra.py flagship [--closure]
    python bench_extra.py gc <name> [name ...]   # adds JVM GC logging
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def _spark(gc_log: str | None = None):
    from bench import warm_session
    from covsar_spark.session import driver_heap, driver_java_options, get_spark

    extra = {}
    if gc_log:  # the session's own heap options, plus the log
        extra["spark.driver.extraJavaOptions"] = (
            f"{driver_java_options(driver_heap())} -Xlog:gc*:file={gc_log}:time,uptime"
        )
    spark = get_spark("covsar_bench_extra", cores=CPUS, shuffle_partitions=CPUS, extra_conf=extra)
    warm_session(spark, CPUS)
    return spark


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def time_queries(spark, names: list[str], repeats: int = 3) -> dict:
    from covsar_spark.contract import QUERIES

    out: dict[str, list[float]] = {}
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()  # warm scan, like bench.py
    for name in names:
        walls = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            noop(QUERIES[name](spark, SF_DIR))
            walls.append(round(time.time() - t0, 3))
        out[name] = walls
        print(f"{name}: {walls}", flush=True)
    return out


def flagship_stages(spark, with_closure: bool = False):
    """Stage-decomposed flagship: times each tier artifact's materialization
    separately (persist boundaries identical to bench.run_flagship)."""
    from functools import reduce

    import bench
    from covsar_spark.plans.pipeline import run_tiers

    tokens = bench.tokens_table(spark, bench.TOKENS_ROWS)
    tokens.count()
    t0 = time.time()
    tiers = run_tiers(
        tokens, with_eigen=True, with_chunks=True, persist=True,
        with_closure=with_closure, horizon_s=bench.HORIZON_DAYS * 86400,
    )
    marks = [("plan_build", time.time() - t0)]

    def mark(label, fn):
        t = time.time()
        fn()
        marks.append((label, round(time.time() - t, 3)))
        print(f"{label}: {marks[-1][1]}", flush=True)

    for tier, d in tiers.items():
        spark.sparkContext.setJobDescription(f"flagship:{tier}:rollup")
        mark(f"{tier}:rollup_materialize", lambda d=d: d["rollup"].count())
    for tier, d in tiers.items():
        spark.sparkContext.setJobDescription(f"flagship:{tier}:fused")
        mark(f"{tier}:fused_noop", lambda d=d: noop(d["fused"]))
    filled_all = reduce(lambda a, b: a.unionByName(b), [d["filled"] for d in tiers.values()])
    spark.sparkContext.setJobDescription("flagship:filled_all")
    mark("filled_all_noop", lambda: noop(filled_all))
    fused_all = reduce(lambda a, b: a.unionByName(b), [d["fused"] for d in tiers.values()])
    spark.sparkContext.setJobDescription("flagship:fused_all")
    mark("fused_all_noop", lambda: noop(fused_all))
    if with_closure:
        closure_all = reduce(lambda a, b: a.unionByName(b), [d["closure"] for d in tiers.values()])
        spark.sparkContext.setJobDescription("flagship:closure_all")
        mark("closure_all_noop", lambda: noop(closure_all))
    total = sum(v for _, v in marks[1:])
    print(f"TOTAL (sum of stages): {total:.3f}")
    return marks


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    args = [a for a in sys.argv[2:] if not a.startswith("--")]
    repeats = 3
    for a in sys.argv[2:]:
        if a.startswith("--repeats"):
            repeats = int(a.split("=", 1)[1])
    if mode == "flagship":
        spark = _spark()
        flagship_stages(spark, with_closure="--closure" in sys.argv)
    elif mode == "gc":
        gc_log = "/tmp/bench_extra_gc.log"
        spark = _spark(gc_log=gc_log)
        time_queries(spark, args, repeats=repeats)
        print(f"GC log at {gc_log}")
    else:
        spark = _spark()
        res = time_queries(spark, args, repeats=repeats)
        print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
