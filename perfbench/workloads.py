"""The benchmark workloads: `suite` (read side) and `ingest` (write side).

`suite` runs the declared query families and then one tier-pipeline pass
(`Queries` and `Tiers` below are its two parts, not workloads of their
own). Each workload generates its inputs from the seed (outside every run),
touches them once at set-up (the warm scan), and runs passes. A pass calls
the program's public functions; with ``check=True`` its outputs are then
compared with an independent oracle, outside the pass's timed region.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.trace import Tracer

# sizes per workload: "full" is the benchmark, "small" the smoke test
SIZES = {
    "full": {
        "tiers": {"rows": 30_000, "sources": 8},
        "queries": {"events": 10_000, "documents": 500},
        "ingest": {"rows": 60_000, "sources": 16, "data_horizon_s": 2 * 86400, "files": 4},
    },
    "small": {
        "tiers": {"rows": 20_000, "sources": 4},
        "queries": {"events": 1_000, "documents": 500},
        "ingest": {"rows": 20_000, "sources": 8, "data_horizon_s": 2 * 86400, "files": 4},
    },
}


def noop(df) -> None:
    """Materialize every output column without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def union_all(frames):
    return reduce(lambda a, b: a.unionByName(b), frames)


@dataclass
class PassResult:
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # workload-level figures of this pass (points_per_s, family walls, ...)
    figures: dict[str, float] = field(default_factory=dict)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def compare_frames(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Order-insensitive, signbit-aware exact comparison (the contract
    gate's rule)."""
    from scripts.check_contract import compare

    return compare(name, got.reset_index(drop=True), exp.reset_index(drop=True))


def close_frames(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str], exact: list[str]) -> list[str]:
    """Keyed comparison: ``exact`` columns equal, every other column
    (floats and float arrays) equal to 1e-9 — the kernels' batched BLAS
    order differs from the per-span oracle's."""
    g = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    e = exp.sort_values(keys, kind="mergesort").reset_index(drop=True)
    if len(g) != len(e):
        return [f"rows {len(g)} != {len(e)}"]
    errs = []
    for c in e.columns:
        if c in exact:
            if not (g[c].to_numpy() == e[c].to_numpy()).all():
                errs.append(f"col {c} differs")
        else:
            gv = np.array([np.asarray(v, dtype=np.float64) for v in g[c]])
            ev = np.array([np.asarray(v, dtype=np.float64) for v in e[c]])
            if not np.allclose(gv, ev, rtol=1e-9, atol=1e-9, equal_nan=True):
                errs.append(f"col {c} not within 1e-9")
    return errs


class Workload:
    name = ""

    def __init__(self, work_dir: str, seed: int, size: str):
        self.work_dir = work_dir
        self.seed = seed
        self.size = SIZES[size][self.name]

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_scan(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tr: Tracer, check: bool) -> PassResult:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# tiers
# ---------------------------------------------------------------------------


class Tiers(Workload):
    """The second part of `suite`: one `run_tiers` pass (eigen, chunks,
    closure, persist) over a Zipf-skewed tokens table, sunk with noop."""

    name = "tiers"

    def prepare(self):
        self.path = inputs.tiers_tokens(
            os.path.join(self.work_dir, "inputs"), self.seed, self.size["rows"], self.size["sources"]
        )
        self.expected_points = None

    def tokens(self, spark):
        return spark.read.parquet(self.path).select("doc_id", "n_tok", "source")

    def warm_scan(self, spark):
        self.tokens(spark).count()

    def run_pass(self, spark, tr, check):
        from pyspark.sql import functions as F

        from covsar_spark.plans.pipeline import run_tiers

        res = PassResult()
        t0 = time.perf_counter()
        with tr.span("plans.pipeline.run_tiers"):
            tiers = run_tiers(
                self.tokens(spark), with_eigen=True, with_chunks=True, with_closure=True, persist=True
            )
        fused_all = union_all([d["fused"] for d in tiers.values()])
        try:
            if tr.enabled:
                # one layer at a time, so each layer's jobs sit in their own span
                for tier, d in tiers.items():
                    with tr.span("operators.rollup", tier=tier):
                        d["rollup"].count()
                for tier, d in tiers.items():
                    with tr.span("operators.tier_kernel", tier=tier):
                        noop(d["fused"])
                for tier, d in tiers.items():
                    with tr.span("operators.closure_correct", tier=tier):
                        noop(d["closure"])
                with tr.span("operators.tier_kernel.split_outputs"):
                    noop(union_all([d["filled"] for d in tiers.values()]))
            else:
                # one action per output family, as the flagship bench leg runs it
                noop(union_all([d["filled"] for d in tiers.values()]))
                noop(fused_all)
                noop(union_all([d["closure"] for d in tiers.values()]))
            with tr.span("points"):
                points = int(fused_all.select(F.sum("n_points")).collect()[0][0])
            res.wall_s = time.perf_counter() - t0
            res.figures["points_per_s"] = points / res.wall_s
            if check:
                self.check(tiers, points, res)
            else:
                res.record(points == self.expected_points, f"points {points} != {self.expected_points}")
        except Exception:  # a failed pass is counted, not fatal
            res.record(False, traceback.format_exc(limit=3))
        finally:
            for d in tiers.values():
                d["rollup"].unpersist()
                d["fused"].unpersist()
        return res

    def check(self, tiers, points: int, res: PassResult) -> None:
        """Oracle comparison on a fixed sample of sources (head, middle and
        tail of the Zipf order) for every tier and output, plus the total
        point count over all sources."""
        import pyarrow.parquet as pq

        from covsar_spark import oracle

        tbl = pq.read_table(self.path, columns=["doc_id", "n_tok", "source"])
        df = oracle.tokens_frame({c: tbl.column(c).to_numpy() for c in tbl.column_names})
        m1 = oracle.rollup(df, "1m")
        rolls = {"1m": m1}
        rolls["1h"] = oracle.cascade(m1, "1h")
        rolls["1d"] = oracle.cascade(rolls["1h"], "1d")
        from covsar_spark.schemas import TIERS

        want_points = 0
        for tier, r in rolls.items():
            g = r.groupby("source")["epoch_s"].agg(["min", "max"])
            want_points += int(((g["max"] - g["min"]) // TIERS[tier] + 1).sum())
        res.record(points == want_points, f"points {points} != {want_points}")
        self.expected_points = want_points

        from pyspark.sql import functions as F

        names = sorted(df["source"].unique())
        sample = [names[0], names[len(names) // 2], names[-1]]
        # one collect per output, all tiers at once
        got = {}
        for k in ("rollup", "filled", "eigen", "closure"):
            pdf = union_all(
                [d[k].filter(d[k]["source"].isin(sample)).withColumn("_tier", F.lit(t)) for t, d in tiers.items()]
            ).toPandas()
            got[k] = {t: pdf[pdf["_tier"] == t] for t in tiers}
        key = ["source", "epoch_s"]
        span_key = ["source", "span_s"]
        for tier, r in rolls.items():
            r = r[r["source"].isin(sample)].reset_index(drop=True)
            filled = oracle.gapfill(r, tier, "zero")
            for what, e, keys, exact in (
                ("rollup", r, key, ["source", "epoch_s", "token_count", "n_docs", "filled"]),
                ("filled", filled, key, ["source", "epoch_s", "token_count", "n_docs", "filled"]),
                ("eigen", oracle.eigen(filled, tier), span_key, ["source", "span_s", "n_epochs"]),
                ("closure", oracle.closure_stats(r, tier), span_key, ["source", "span_s", "n_epochs"]),
            ):
                errs = close_frames(got[what][tier][list(e.columns)], e, keys, exact)
                res.record(not errs, f"{tier} {what}: {errs}")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# declared queries per family, run in this order
FAMILIES = {
    "relational": ["rollup_1h_cascade"],
    "closure": ["epoch_pairs"],
    "sketch": ["cms_user_freq"],
    "text": ["minhash_signatures"],
    "kernel": ["phase_unwrap_2d_tiled"],
}


class Queries(Workload):
    """The first part of `suite`: the FAMILIES queries, in order."""

    name = "queries"

    def prepare(self):
        self.path = inputs.query_tables(
            os.path.join(self.work_dir, "inputs"), self.seed, self.size["events"], self.size["documents"]
        )

    def warm_scan(self, spark):
        for t in ("events", "documents", "region"):
            spark.read.parquet(f"{self.path}/{t}.parquet").count()

    def run_pass(self, spark, tr, check):
        """Each query is collected to the driver, as the driver contract
        consumes it; the collected frames of a checked pass are compared
        after the pass."""
        from covsar_spark.contract import QUERIES

        res = PassResult()
        results = {}
        plan_s = 0.0
        for family, names in FAMILIES.items():
            f0 = time.perf_counter()
            with tr.span(f"contract.{family}"):
                for name in names:
                    with tr.span(f"contract.{family}.{name}"):
                        try:
                            t = time.perf_counter()
                            with tr.span("plans.build"):
                                df = QUERIES[name](spark, self.path)
                            plan_s += time.perf_counter() - t
                            results[name] = (df.columns, df.toPandas())
                        except Exception:
                            res.record(False, f"{name}: {traceback.format_exc(limit=3)}")
            res.figures[f"family.{family}_s"] = time.perf_counter() - f0
        res.wall_s = sum(v for k, v in res.figures.items() if k.startswith("family."))
        res.figures["plan_build_s"] = plan_s
        if check:
            self.check(results, res)
        else:
            for name in results:
                res.record(True, name)
        return res

    def check(self, results: dict, res: PassResult) -> None:
        """Entries with a DuckDB oracle are compared with it; the others
        (rows-only) must return rows with the columns they declare."""
        import duckdb

        from covsar_spark.contract import ORACLE

        con = duckdb.connect()
        try:
            for t in ("events", "documents", "region"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.path}/{t}.parquet'")
            for name, (declared, got) in results.items():
                if name not in ORACLE:
                    ok = len(got) > 0 and list(got.columns) == declared
                    res.record(ok, f"{name}: {len(got)} rows, columns {list(got.columns)}")
                else:
                    errs = compare_frames(name, got, con.sql(ORACLE[name]).df())
                    res.record(not errs, f"{name}: {errs}")
        finally:
            con.close()


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest(Workload):
    name = "ingest"

    def prepare(self):
        s = self.size
        self.paths = inputs.ingest_tokens(
            os.path.join(self.work_dir, "inputs"), self.seed, s["rows"], s["sources"],
            s["data_horizon_s"], s["files"],
        )
        self.n_pass = 0
        self.expected = None

    def warm_scan(self, spark):
        spark.read.parquet(self.paths["stream"]).count()
        spark.read.parquet(self.paths["late"]).count()

    def run_pass(self, spark, tr, check):
        from pyspark.sql import functions as F

        from covsar_spark.operators.refresh import refresh_tier_table
        from covsar_spark.operators.rollup import cascade, rollup_tokens, with_event_time
        from covsar_spark.sources.tables import compact_tier, write_tier
        from covsar_spark.streaming.rollup_stream import run_stream_to_files

        out = os.path.join(self.work_dir, "ingest-out", f"pass-{self.n_pass}")
        self.n_pass += 1
        shutil.rmtree(out, ignore_errors=True)
        p = {k: os.path.join(out, k) for k in ("stream_1m", "ckpt", "t1m", "t1h", "t1d")}
        res = PassResult()
        stats = {}
        try:
            t0 = time.perf_counter()
            with tr.span("streaming.rollup_stream.run_stream_to_files"):
                run_stream_to_files(
                    spark, self.paths["stream"], p["stream_1m"], p["ckpt"], "1m",
                    watermark=f"{self.size['data_horizon_s']} seconds",
                )
            t1 = time.perf_counter()
            m1 = spark.read.parquet(p["stream_1m"]).filter(F.col("source") != inputs.FLUSH_SOURCE)
            # two appends per day, as successive stream commits leave them
            first_half = (F.col("epoch_s") % 3600) < 1800
            with tr.span("sources.tables.write_tier", tier="1m"):
                write_tier(m1.filter(first_half), p["t1m"], "1m")
                write_tier(m1.filter(~first_half), p["t1m"], "1m", mode="append")
            h1 = cascade(m1, "1h")
            with tr.span("sources.tables.write_tier", tier="1h"):
                write_tier(h1, p["t1h"], "1h")
            with tr.span("sources.tables.write_tier", tier="1d"):
                write_tier(cascade(h1, "1d"), p["t1d"], "1d")
            on_time = spark.read.parquet(self.paths["stream"]).filter(F.col("source") != inputs.FLUSH_SOURCE)
            late = spark.read.parquet(self.paths["late"])
            with tr.span("operators.refresh.refresh_tier_table"):
                stats["refresh"] = refresh_tier_table(
                    spark, p["t1h"], with_event_time(on_time.unionByName(late)), with_event_time(late),
                    3600, lambda df: rollup_tokens(df, "1h"),
                )
            with tr.span("sources.tables.compact_tier"):
                stats["compact"] = compact_tier(spark, p["t1m"])
            t2 = time.perf_counter()
            res.wall_s = t2 - t0
            res.figures["stream_s"] = t1 - t0
            res.figures["maintain_s"] = t2 - t1
            res.figures["stream_rows"] = self.stream_rows
            res.figures["stream_rows_per_s"] = self.stream_rows / (t1 - t0)
            res.figures["dirty_days"] = len(stats["refresh"]["dirty_days"])
            res.figures["rows_written"] = stats["refresh"]["rows_written"]
            res.figures["files_before"] = stats["compact"]["files_before"]
            res.figures["files_after"] = stats["compact"]["files_after"]
            if check:
                self.check(spark, p, stats, res)
            else:
                got = (res.figures["rows_written"], res.figures["files_after"])
                res.record(got == self.expected, f"(rows_written, files_after) {got} != {self.expected}")
        except Exception:
            res.record(False, traceback.format_exc(limit=3))
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return res

    @property
    def stream_rows(self) -> int:
        import pyarrow.dataset as pads

        return pads.dataset(self.paths["stream"]).count_rows()

    def check(self, spark, p: dict, stats: dict, res: PassResult) -> None:
        """The streamed 1m tier equals the batch rollup of the on-time rows;
        the refreshed 1h table equals a recompute over on-time + late rows;
        compaction kept the 1m table's rows and cut its file count."""
        import pyarrow.parquet as pq

        from covsar_spark import oracle

        def frame(path):
            tbl = pq.read_table(path, columns=["doc_id", "n_tok", "source"])
            return oracle.tokens_frame({c: tbl.column(c).to_numpy() for c in tbl.column_names})

        on_time = frame(self.paths["stream"])
        on_time = on_time[on_time["source"] != inputs.FLUSH_SOURCE]
        late = frame(self.paths["late"])
        cols = ["source", "epoch_s", "token_count", "n_docs", "max_tok", "min_tok", "rate", "filled"]

        streamed = spark.read.parquet(p["stream_1m"]).filter(f"source != '{inputs.FLUSH_SOURCE}'")
        want_1m = oracle.rollup(on_time, "1m")[cols]
        errs = compare_frames("stream_1m", streamed.toPandas()[cols], want_1m)
        res.record(not errs, f"streamed 1m: {errs}")

        refreshed = spark.read.parquet(p["t1h"]).toPandas()[cols]
        want_1h = oracle.rollup(pd.concat([on_time, late]), "1h")[cols]
        errs = compare_frames("refreshed_1h", refreshed, want_1h)
        res.record(not errs and len(stats["refresh"]["dirty_days"]) > 0, f"refreshed 1h: {errs}")

        compacted = spark.read.parquet(p["t1m"]).toPandas()[cols]
        errs = compare_frames("compacted_1m", compacted, want_1m)
        c = stats["compact"]
        ok = not errs and 0 < c["files_after"] < c["files_before"]
        res.record(ok, f"compacted 1m: {errs} files {c['files_before']} -> {c['files_after']}")
        self.expected = (stats["refresh"]["rows_written"], c["files_after"])


# ---------------------------------------------------------------------------
# suite: the read side — declared queries, then the flagship tier pipeline
# ---------------------------------------------------------------------------


class Suite(Workload):
    """The query families followed by the `tiers` family (the flagship
    `run_tiers` leg), in one session, as the repo's bench suite runs its
    leaves."""

    name = "suite"

    def __init__(self, work_dir: str, seed: int, size: str):
        self.parts = (Queries(work_dir, seed, size), Tiers(work_dir, seed, size))

    def prepare(self):
        for w in self.parts:
            w.prepare()

    def warm_scan(self, spark):
        for w in self.parts:
            w.warm_scan(spark)

    def run_pass(self, spark, tr, check):
        queries, tiers = self.parts
        q = queries.run_pass(spark, tr, check)
        with tr.span("tiers"):
            t = tiers.run_pass(spark, tr, check)
        return PassResult(
            wall_s=q.wall_s + t.wall_s,
            attempted=q.attempted + t.attempted,
            failed=q.failed + t.failed,
            errors=q.errors + t.errors,
            figures={**q.figures, **t.figures, "family.tiers_s": t.wall_s},
        )


WORKLOADS = {w.name: w for w in (Suite, Ingest)}
