"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE COMPACT JSON
line as the LAST line of stdout:
{"metric": ..., "value": N, "unit": "sec", "queries": {flagship walls},
 "calib_pre": ops/s, "calib_post": ops/s, "noise_cores_max": N, "sf": ...}

The full 60+-entry per-query seconds map goes to BENCH_QUERIES_r{NN}.json
next to this file (round from $SPARK_GRAFT_ROUND, else 1 + the highest
committed BENCH_r{NN}.json — round-6 lesson: a single mutable
BENCH_QUERIES.json lost per-round provenance the first time the driver
overwrote it). WRITE-ONCE (round-7 lesson: the driver's end-of-round run
clobbered the builder's committed same-round map): if the canonical name
exists, later runs write a pid-suffixed sibling. Round-5 lesson: the driver's fixed-size stdout tail clipped
the headline line mid-token once the map grew past it, so the stdout line
carries only scalars + the two flagship walls and stays a few hundred bytes.

Noise adjudication, two mechanisms:
- BRACKET probes (round-5 lesson): a single-thread host-speed burn (same as
  b011304:scripts/scaling.py — quiet box reads 500-800 ops/s, documented collapses
  0.3-28) gates the start (waits up to $SPARK_GRAFT_PROBE_MAX_WAIT_S,
  default 600s, for >= $SPARK_GRAFT_PROBE_MIN, default 400 ops/s) and
  re-reads after the suite; calib_pre/calib_post land in the headline.
- IN-RUN sampling (round-6 lesson: brackets read clean 703/681 while a
  mid-run spike inflated one flagship 1.76x): a daemon thread samples
  /proc/stat vs our own process subtree every ~3s through the whole timed
  region. A numpy burn can't run mid-suite (our own local[N] load collapses
  it — measured 701 -> 115 ops/s with just an idle JVM), but kernel CPU
  accounting splits cleanly: co-tenant load = total busy jiffies minus our
  subtree's jiffies, reported in CORES. Every query records the max
  co-tenant cores over its window; any query whose window exceeded
  $SPARK_GRAFT_NOISE_CORES (default 6.0 co-tenant cores) is re-run once
  and the cleaner-window wall kept. The TWO FLAGSHIP entries use
  the much stricter $SPARK_GRAFT_FLAGSHIP_NOISE_CORES (default 0.5) with up
  to two extra repeats — round-7 lesson: 1.3 co-tenant cores inflated the
  driver's flagship >2x while sitting below the suite-wide trigger. The
  headline carries noise_cores_p50 / noise_cores_max / noise_samples /
  n_reran so no reading needs out-of-band adjudication.

The headline metric is the flagship tokens pipeline's rolled-up points/sec
across all retention tiers (BASELINE.json:metric); per-query seconds cover
the operator families. The N-vs-4N evidence came from the retired
b011304:scripts/scaling.py (BENCH_SCALING.json).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
PROBE_MIN = float(os.environ.get("SPARK_GRAFT_PROBE_MIN", "400"))
PROBE_MAX_WAIT_S = int(os.environ.get("SPARK_GRAFT_PROBE_MAX_WAIT_S", "600"))
NOISE_CORES = float(os.environ.get("SPARK_GRAFT_NOISE_CORES", "6.0"))
# the two flagship entries are THE headline — r7 lesson: the driver's
# flagship read 14.24s under 1.3 co-tenant cores (annotated but below the
# 6.0-core re-run trigger) vs 5.49-6.64s clean. Headline entries re-run at a
# much stricter threshold so the driver-side number tracks clean-box truth.
FLAGSHIP_NOISE_CORES = float(os.environ.get("SPARK_GRAFT_FLAGSHIP_NOISE_CORES", "0.5"))
NOISE_PERIOD_S = float(os.environ.get("SPARK_GRAFT_NOISE_PERIOD_S", "3.0"))
_REPO = os.path.dirname(os.path.abspath(__file__))


def _round_tag() -> str:
    """Per-round artifact tag: $SPARK_GRAFT_ROUND, else 1 + the highest
    committed BENCH_r{NN}.json (the driver's own naming), so builder runs in
    round N and the driver's end-of-round run land in the same rNN file."""
    r = os.environ.get("SPARK_GRAFT_ROUND")
    if not r:
        seen = [
            int(m.group(1))
            for p in glob.glob(os.path.join(_REPO, "BENCH_r*.json"))
            if (m := re.match(r"BENCH_r(\d+)\.json$", os.path.basename(p)))
        ]
        r = str(max(seen, default=0) + 1)
    return f"r{int(r):02d}"


ROUND_TAG = _round_tag()


def _queries_out_path() -> str:
    """Write-once per-round artifact (r7 lesson: the driver's end-of-round
    run overwrote the builder's committed same-round map, leaving the tree
    dirty every round). The FIRST run of a round owns the canonical
    BENCH_QUERIES_rNN.json; any later run in the same round writes a
    pid-suffixed sibling instead of clobbering it."""
    canonical = os.path.join(_REPO, f"BENCH_QUERIES_{ROUND_TAG}.json")
    if not os.path.exists(canonical):
        return canonical
    return os.path.join(_REPO, f"BENCH_QUERIES_{ROUND_TAG}.{os.getpid()}.json")

# single-thread host-speed burn, identical to b011304:scripts/scaling.py's CALIBRATE:
# co-tenant interference shows up as a LOWER ops/s number
_PROBE_SRC = r"""
import json, time
import numpy as np
rng = np.random.default_rng(0)
A = rng.random((384, 384)); B = rng.random((384, 384))
x = rng.random(1 << 16)
t0 = time.time(); n = 0
while time.time() - t0 < 1.0:
    (A @ B); np.fft.rfft(x); n += 1
print(json.dumps({"ops_s": round(n / (time.time() - t0), 1)}))
"""


def host_probe(best_of: int = 1, gap_s: float = 0.0) -> float:
    """Best-of-N single-thread probe: transient churn (e.g. the Spark JVM's
    own shutdown cleanup right after spark.stop()) reads as a one-probe
    collapse; the max over a few spaced probes reflects the steady box."""
    # scrub the BLAS thread pins session.get_spark writes into our own env
    # (inherited by children): a post-session probe would otherwise run
    # single-threaded BLAS and read ~6x lower than the pre-session probe
    # and b011304:scripts/scaling.py's documented 548-824 ops/s quiet range
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
    }
    vals = []
    for i in range(best_of):
        if i and gap_s:
            time.sleep(gap_s)
        out = subprocess.run(
            [sys.executable, "-c", _PROBE_SRC], capture_output=True, text=True, env=env
        )
        try:
            vals.append(float(json.loads(out.stdout.strip().splitlines()[-1])["ops_s"]))
        except Exception:
            pass  # failed probe: drop it — a NaN would defeat the PROBE_MIN
            # gate (NaN < x is False) and json.dumps would emit a bare NaN
            # token, breaking strict-JSON consumers of the headline line
    return max(vals) if vals else 0.0


# ---------------------------------------------------------------------------
# In-run co-tenant noise sampler (round-6 verdict #2). /proc/stat's busy
# jiffies minus our own process subtree's jiffies = co-tenant CPU, in cores —
# valid WHILE our Spark job saturates the box, unlike a numpy burn.
# ---------------------------------------------------------------------------
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_busy_jiffies() -> int:
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    return sum(v) - v[3] - v[4]  # all - idle - iowait


def _subtree_jiffies(root: int) -> int:
    """Sum utime+stime over root's live descendant tree (one /proc scan).
    Dead children's jiffies drop out of our side, slightly inflating
    "other" — acceptable: probe subprocesses only run outside the timed
    region and pyspark daemon workers are long-lived."""
    ppid = {}
    cpu = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                line = f.read()
        except OSError:
            continue
        try:
            # comm may contain spaces/parens: fields resume after the last ')'
            rest = line.rsplit(")", 1)[-1].split()
            pid = int(d)
            ppid[pid] = int(rest[1])  # field 4
            cpu[pid] = int(rest[11]) + int(rest[12])  # utime, stime (14, 15)
        except (IndexError, ValueError):
            continue  # process died mid-read / malformed line
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        total += cpu.get(p, 0)
        stack.extend(kids.get(p, ()))
    return total


class NoiseSampler(threading.Thread):
    """Samples (wall time, total busy jiffies, our-subtree jiffies) every
    `period_s`; window_stats() converts consecutive deltas to co-tenant
    CORES over any [t0, t1] wall window."""

    def __init__(self, period_s: float = NOISE_PERIOD_S):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.samples: list[tuple[float, int, int]] = []
        self._halt = threading.Event()
        self._pid = os.getpid()

    def _snap(self):
        try:
            self.samples.append(
                (time.time(), _proc_busy_jiffies(), _subtree_jiffies(self._pid))
            )
        except Exception:
            pass  # a lost sample must never kill the sampler thread

    def run(self):
        self._snap()
        while not self._halt.wait(self.period_s):
            self._snap()

    def stop(self):
        self._halt.set()

    def intervals(self, t0: float, t1: float) -> list[float]:
        """Co-tenant cores for each sampling interval overlapping [t0, t1]."""
        out = []
        s = self.samples
        for (ta, busy_a, ours_a), (tb, busy_b, ours_b) in zip(s, s[1:]):
            if tb <= t0 or ta >= t1 or tb <= ta:
                continue
            other = max(0, (busy_b - busy_a) - (ours_b - ours_a))
            out.append(other / _CLK_TCK / (tb - ta))
        return out

    def window_max(self, t0: float, t1: float) -> float:
        iv = self.intervals(t0, t1)
        return round(max(iv), 2) if iv else 0.0
TOKENS_ROWS = int(os.environ.get("SPARK_GRAFT_TOKENS_ROWS", "2000000"))
# flagship fixture shape: rolled-up points = sources x horizon grid cells,
# so the headline pps needs a wide horizon, not just more rows (100k rows /
# 7 days saturated at 164k points — overhead-dominated)
HORIZON_DAYS = int(os.environ.get("SPARK_GRAFT_HORIZON_DAYS", "56"))
N_SOURCES = int(os.environ.get("SPARK_GRAFT_SOURCES", "64"))
# best-of-N for the headline: identical flagship runs measured 177k-288k pps
# on this shared box (co-tenant noise) — same protocol as
# b011304:scripts/scaling.py
FLAGSHIP_REPEATS = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_REPEATS", "2"))

BENCH_QUERIES = [
    "rollup_1m",
    "rollup_1h_cascade",
    "tier_refresh_1h",
    "gapfill_zero_1m",
    "gapfill_ffill_1m",
    "lag_diff",
    "running_sum",
    "sliding_avg",
    "trend_slope",
    "topk_per_group",
    "sessionize",
    "q1_pricing",
    "region_revenue",
    "asof_join",
    "session_attribution",
    "epoch_pairs",
    "triplets_consecutive",
    "closure_regression",
    "triplets_full",
    "closure_invert",
    "closure_pair_correction",
    "corrected_drift",
    "running_product",
    "phase_cumprod",
    "phase_unwrap",
    "phase_unwrap_2d_tiled",
    "phase_unwrap_2d_masked",
    "hll_user_cascade",
    "hdr_value_quantiles",
    "counter_increase_1h",
    "time_weighted_avg_1h",
    "lttb_downsample",
    "state_durations_1h",
    "ohlc_1h",
    "heartbeat_coverage_1h",
    "cms_user_freq",
    "interferogram",
    "mean_lag_coherence",
    "kappa_grid",
    "bootstrap_pvalue",
    "dedup_exact",
    "jaccard_pairs",
    "jaccard_verified",
    "minhash_signatures",
    "lsh_candidates",
    "span_dedup",
    "near_dup_lsh",
    "simhash",
    "word_stats",
    "quality_score",
    "fingerprint",
    "vocab_topk",
    "unigram_logprob",
    "token_packing",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "near_dup_cosine",
    "high_pass_ratio",
    "gapfill_linear_1m",
    "gapfill_cross_1m",
    "lc_window_stats",
    "repetition_stats",
    "tfidf_topterms",
    "boilerplate_ngrams",
    "eigen_mle_1m",
    "eigen_complex_1m",
    "eigen_1m",
    "nl_phase_fit_1m",
    "nearest_point",
    "ann_lsh_topk",
    "ann_lsh_q100",
    "multimodal_features",
    "multimodal_frames",
    "multimodal_resize",
    "multimodal_audio_stats",
    "compress_chunks",
    "codec_roundtrip",
]


def tokens_table(spark, n_rows: int):
    """Deterministic synthetic tokens table (FIXTURES.md F1), generated once
    to a local parquet cache so every bench run scans the same files.
    payload_tokens=False at bench scale: the tier pipeline provably never
    scans the tokens column (column pruning, tests/test_plans.py) — byte-
    exact payload pass-through is pinned separately at fixture scale."""
    from covsar_spark.datagen import write_tokens

    cache = f"/tmp/covsar_bench_tokens_{n_rows}_{N_SOURCES}"
    if not os.path.exists(os.path.join(cache, "_DONE")):
        write_tokens(cache, n_rows, n_sources=N_SOURCES, payload_tokens=False)
        open(os.path.join(cache, "_DONE"), "w").close()
    return spark.read.parquet(cache).select("doc_id", "n_tok", "source")


def run_flagship(spark, n_rows: int, with_closure: bool = False) -> tuple[float, int]:
    """Full tier pipeline; returns (seconds, rolled-up points across tiers).

    ``with_closure`` adds the defining CovSAR stage — per-span closure
    evaluation + fit + least-norm correction + drift/chi2 stats — which the
    tier kernel computes in the same pass over each span, and materializes
    its output in the timed region (reported as the second headline
    number)."""
    from covsar_spark.plans.pipeline import run_tiers

    from functools import reduce

    tokens = tokens_table(spark, n_rows)
    tokens.count()  # warm the scan; the timed region measures the pipeline
    t0 = time.time()  # returned with t1 so the caller can window-noise the run
    tiers = run_tiers(
        tokens, with_eigen=True, with_chunks=True, persist=True,
        with_closure=with_closure,
        horizon_s=HORIZON_DAYS * 86400,
    )
    # single action per output family: tiers materialize concurrently; noop
    # sink forces every output column (count() would prune)
    filled_all = reduce(lambda a, b: a.unionByName(b), [d["filled"] for d in tiers.values()])
    fused_all = reduce(lambda a, b: a.unionByName(b), [d["fused"] for d in tiers.values()])
    filled_all.write.format("noop").mode("overwrite").save()
    fused_all.write.format("noop").mode("overwrite").save()
    if with_closure:
        closure_all = reduce(
            lambda a, b: a.unionByName(b), [d["closure"] for d in tiers.values()]
        )
        closure_all.write.format("noop").mode("overwrite").save()
    # point count from the persisted kernel rows (one tiny agg) — a count()
    # over the exploded dense table would re-pay the explode
    total_points = int(
        fused_all.select(F.sum("n_points").alias("p")).collect()[0]["p"]
    )
    t1 = time.time()
    wall = t1 - t0
    for d in tiers.values():
        for key in ("rollup", "filled", "fused"):
            if key in d:
                d[key].unpersist()
    return wall, total_points, (t0, t1)


def _warn(step: str, exc: Exception) -> None:
    """Report a failed best-effort step on stderr (stdout carries results)."""
    print(f"covsar_spark: {step} failed: {type(exc).__name__}: {exc}", file=sys.stderr)


def warm_session(spark, cores: int) -> None:
    """Pay the session's one-time runtime start-up before the timed region:
    this harness times each query ONCE, so whatever the first query of a
    kind pays for (worker forks, class loads, interpreter JIT) would land
    in that query's wall. Runtime initialization like JVM startup, not
    data or result caching: both jobs run on synthetic ``spark.range``
    input and keep nothing. Best-effort: a failure is reported on stderr
    and never blocks the run.

    1. The Python worker pool. With worker reuse on (the default), the
       first Arrow/pandas query otherwise pays `cores` x (fork +
       numpy/pandas import) INSIDE its own wall — in the bench suite that
       one-time ~3-5s landed entirely on whichever query hit Python first
       (closure_pair_correction in list order). The two mapInPandas are
       CHAINED deliberately: chained Python-eval nodes in one stage each
       hold their own worker per task, so this stage keeps 2 x cores
       workers alive at once and leaves a 2 x cores idle pool — the peak
       demand of the densest declared plans (a Python stage chained with a
       second Python node, or a broadcast-side Arrow subtree running
       concurrently with the main stage). With a cores-sized pool the
       first such query forked the second half of the pool inside its own
       wall (measured +1.5-2s on its one-shot).
    2. The common physical-operator classes: hash aggregate, window,
       explode, sort-merge + broadcast join, top-k, grouped-map Arrow,
       parquet write/read, the noop sink. A cold JVM pays first-class-load
       + interpreter-JIT for each operator family INSIDE the first query
       that uses it (measured one-shots in a fresh session: rollup_1m
       1.8-2.1s vs 0.8-1.1s after this warmup; closure_invert 5.7s cold vs
       1.9s steady), misattributed to whichever declared query runs first
       in each family.

    ``get_spark`` does not run this: every other caller pays these costs
    in the first query that needs them (perfbench in its untimed checked
    pass), not before work that may never come."""
    try:
        def _touch(it):
            import numpy  # noqa: F401 — force the heavyweight imports
            import pandas  # noqa: F401

            yield from it

        (
            spark.range(cores, numPartitions=cores)
            .mapInPandas(_touch, "id long")
            .mapInPandas(_touch, "id long")
            .count()
        )
    except Exception as e:  # best-effort: a failure must never block the run
        _warn("python worker warmup", e)

    try:
        from pyspark.sql import Window

        spark.sparkContext.setJobDescription("session warmup: jvm operator paths")

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
        df = spark.range(0, 100_000, 1, n_part).select(
            (F.col("id") % 97).alias("k"),
            (F.col("id") % 7).cast("string").alias("s"),
            F.col("id").cast("double").alias("v"),
            (F.col("id") * 60).alias("ts"),
        )
        # expression classes: hashes, string ops, higher-order fns, explode
        noop(
            df.select(
                F.md5(F.col("s")).alias("h1"),
                F.xxhash64("k", "ts").alias("h2"),
                F.split(F.concat_ws(" ", "s", "s"), " ").alias("w"),
            ).select(
                "h2",
                F.transform("w", lambda x: F.length(x)).alias("t"),
                F.aggregate("w", F.lit(0), lambda a, x: a + F.length(x)).alias("agg"),
                F.filter("w", lambda x: F.length(x) > 0).alias("f"),
                F.explode(F.sequence(F.lit(0), F.lit(2))).alias("e"),
            )
        )
        # partial+final hash aggregate
        agg = df.groupBy("k", "s").agg(
            F.sum("v").alias("sv"),
            F.count("*").alias("n"),
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
            F.avg("v").alias("av"),
        )
        noop(agg)
        # window functions: one exchange + sort, lag/cumsum/rank frames
        w = Window.partitionBy("k").orderBy("ts")
        noop(
            df.select(
                "k",
                "ts",
                F.lag("v").over(w).alias("lg"),
                F.sum("v").over(w).alias("cs"),
                F.row_number().over(w).alias("rn"),
            )
        )
        # joins: broadcast (small side) and sort-merge (hinted)
        noop(df.join(F.broadcast(agg.limit(50)), ["k", "s"]).select("k", "sv"))
        noop(df.join(agg.hint("merge"), ["k", "s"]).select("k", "sv"))
        # global sort / top-k
        noop(df.orderBy("v").limit(100))
        # grouped-map Arrow path (mapInPandas is warmed by the worker pool)
        import pandas as pd

        def _gm(pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf.groupby("k", as_index=False).agg(sv=("v", "sum"))

        noop(df.select("k", "v").groupBy("k").applyInPandas(_gm, "k long, sv double"))
        # parquet writer + vectorized reader (tier refresh/compaction path)
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="covsar_warmup_")
        try:
            agg.write.mode("overwrite").parquet(d)
            spark.read.parquet(d).count()
        finally:
            shutil.rmtree(d, ignore_errors=True)
    except Exception as e:  # best-effort: a failure must never block the run
        _warn("jvm operator warmup", e)
    finally:
        try:
            spark.sparkContext.setJobDescription(None)
        except Exception as e:
            _warn("warmup job description reset", e)


def main():
    from covsar_spark.contract import QUERIES
    from covsar_spark.session import get_spark

    # probe-gate BEFORE paying JVM startup: wait (bounded) for a quiet box
    # so the timed suite measures the engine, not the co-tenants
    waited_s = 0
    calib_pre = host_probe()
    while calib_pre < PROBE_MIN and waited_s < PROBE_MAX_WAIT_S:
        time.sleep(30)
        waited_s += 30
        calib_pre = host_probe()

    spark = get_spark("covsar_bench", cores=CPUS, shuffle_partitions=CPUS)
    warm_session(spark, CPUS)
    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0  # path merely contains 'sf' without a trailing number

    # warm the JVM/Arrow paths once so per-query numbers measure the plan
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    # in-run co-tenant sampler covers the WHOLE timed region (see module
    # docstring) — the numpy bracket probes can't see mid-run spikes
    sampler = NoiseSampler()
    sampler.start()
    run_start = time.time()

    def timed(fn) -> tuple[float, float, tuple[float, float]]:
        t0 = time.time()
        df = fn(spark, SF_DIR)
        # noop sink: materializes EVERY output column — a bare count() lets
        # Catalyst prune the projections being measured
        df.write.format("noop").mode("overwrite").save()
        t1 = time.time()
        return round(t1 - t0, 3), sampler.window_max(t0, t1), (t0, t1)

    q_times: dict[str, float] = {}
    q_noise: dict[str, float] = {}
    for name in BENCH_QUERIES:
        q_times[name], q_noise[name], _ = timed(QUERIES[name])

    # one re-run for any query whose window saw a co-tenant spike; keep the
    # cleaner-window wall (ties to the round-6 adjudication hole: a reading
    # taken under a spike is not a measurement of the engine)
    reran = [n for n in BENCH_QUERIES if q_noise[n] > NOISE_CORES]
    for name in reran:
        w2, n2, _ = timed(QUERIES[name])
        if n2 < q_noise[name]:
            q_times[name], q_noise[name] = w2, n2

    def flagship_best(with_closure: bool) -> tuple[float, int, float]:
        """Best-of-N flagship, plus up to two extra repeats while the kept
        (min-wall) run's window saw > FLAGSHIP_NOISE_CORES of co-tenant load
        (r7: 1.3 cores inflated the driver's flagship >2x yet sat below the
        suite-wide 6.0-core trigger). Returns (wall, points, noise_cores)."""
        runs = [run_flagship(spark, TOKENS_ROWS, with_closure=with_closure)
                for _ in range(FLAGSHIP_REPEATS)]
        wall, points, win = min(runs, key=lambda r: r[0])
        noise = sampler.window_max(*win)
        extra = 0
        while noise > FLAGSHIP_NOISE_CORES and extra < 2:
            extra += 1
            wall2, points2, win2 = run_flagship(
                spark, TOKENS_ROWS, with_closure=with_closure
            )
            noise2 = sampler.window_max(*win2)
            # keep the faster wall; on equal walls prefer the cleaner window
            if wall2 < wall or (wall2 == wall and noise2 < noise):
                wall, points, noise = wall2, points2, noise2
            elif noise2 <= FLAGSHIP_NOISE_CORES:
                # the re-run was clean but slower: the kept min-wall reading
                # was not noise-inflated after all — stop re-running
                break
        return wall, points, noise

    wall, points, noise_f = flagship_best(with_closure=False)
    pps = points / wall if wall > 0 else 0.0
    q_times["flagship_pipeline"] = round(wall, 3)
    q_noise["flagship_pipeline"] = noise_f

    # second headline: the same pipeline WITH the closure-correction stage
    # (the defining CovSAR step) materialized in the timed region
    wall_c, points_c, noise_fc = flagship_best(with_closure=True)

    # decorrelated second chance (r8: three consecutive builder runs saw
    # the flagship window specifically hit by co-tenant bursts that the
    # IMMEDIATE extra repeats sat inside — by the time the closure variant
    # has finished, minutes have passed, so one final retry samples a
    # different co-tenant phase; keep the faster wall as usual)
    if noise_f > FLAGSHIP_NOISE_CORES:
        w2, p2, win2 = run_flagship(spark, TOKENS_ROWS, with_closure=False)
        n2 = sampler.window_max(*win2)
        if w2 < wall or (w2 == wall and n2 < noise_f):
            wall, points, noise_f = w2, p2, n2
            pps = points / wall if wall > 0 else 0.0
            q_times["flagship_pipeline"] = round(wall, 3)
            q_noise["flagship_pipeline"] = noise_f
    if noise_fc > FLAGSHIP_NOISE_CORES:
        w2, p2, win2 = run_flagship(spark, TOKENS_ROWS, with_closure=True)
        n2 = sampler.window_max(*win2)
        if w2 < wall_c or (w2 == wall_c and n2 < noise_fc):
            wall_c, points_c, noise_fc = w2, p2, n2

    pps_c = points_c / wall_c if wall_c > 0 else 0.0
    q_times["flagship_pipeline_closure"] = round(wall_c, 3)
    q_noise["flagship_pipeline_closure"] = noise_fc

    run_end = time.time()
    sampler.stop()
    all_iv = sampler.intervals(run_start, run_end)
    all_iv_sorted = sorted(all_iv)
    noise_p50 = round(all_iv_sorted[len(all_iv_sorted) // 2], 2) if all_iv else 0.0
    noise_max = round(max(all_iv), 2) if all_iv else 0.0

    # stop the session BEFORE the post-probe: an idle local[N] JVM still
    # competes with the single-thread burn (measured 701 -> 115 ops/s with
    # the session alive), which would make every post-probe read "noisy"
    spark.stop()
    calib_post = host_probe(best_of=3, gap_s=3.0)
    total = round(sum(q_times.values()), 3)
    run_id = f"{ROUND_TAG}.{os.getpid()}"

    # full per-query map -> write-once per-round file artifact (see
    # _queries_out_path; a later same-round run lands in a pid-suffixed
    # sibling, never clobbering the committed map); stdout stays compact
    queries_out = _queries_out_path()
    with open(queries_out, "w") as f:
        json.dump(
            {
                "run_id": run_id,
                "total_sec": total,
                "n_queries": len(q_times),
                "sf": sf,
                "cpus": CPUS,
                "tokens_rows": TOKENS_ROWS,
                "calib_pre_ops_s": calib_pre,
                "calib_post_ops_s": calib_post,
                "probe_waited_s": waited_s,
                "noise_cores_p50": noise_p50,
                "noise_cores_max": noise_max,
                "noise_samples": len(all_iv),
                "noise_threshold_cores": NOISE_CORES,
                "flagship_noise_threshold_cores": FLAGSHIP_NOISE_CORES,
                "reran_for_noise": reran,
                "queries": q_times,
                "query_noise_cores": q_noise,
            },
            f,
            indent=1,
        )

    # the COMPACT headline line — LAST line of stdout, scalars only plus the
    # two flagship walls (keeps the driver's tail capture whole)
    print(
        json.dumps(
            {
                "metric": "total bench seconds (headline queries + flagship tiers pipeline)",
                "value": total,
                "unit": "sec",
                "rolled_up_points_per_sec": round(pps, 1),
                "flagship_wall_sec": round(wall, 3),
                "flagship_points": points,
                "rolled_up_points_per_sec_with_closure": round(pps_c, 1),
                "flagship_closure_wall_sec": round(wall_c, 3),
                "tokens_rows": TOKENS_ROWS,
                "queries": {
                    "flagship_pipeline": q_times["flagship_pipeline"],
                    "flagship_pipeline_closure": q_times["flagship_pipeline_closure"],
                },
                "n_queries": len(q_times),
                "queries_file": os.path.basename(queries_out),
                "run_id": run_id,
                "calib_pre": calib_pre,
                "calib_post": calib_post,
                "probe_waited_s": waited_s,
                "noise_cores_p50": noise_p50,
                "noise_cores_max": noise_max,
                "noise_samples": len(all_iv),
                "n_reran": len(reran),
                "flagship_noise_cores": noise_f,
                "flagship_closure_noise_cores": noise_fc,
                "sf": sf,
                "cpus": CPUS,
            }
        )
    )


if __name__ == "__main__":
    main()
