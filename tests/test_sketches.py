"""Sketch-cascade invariants (operators/sketches.py): HLL distinct counts
and HDR-histogram quantiles must (a) merge associatively so any tier chain
yields the SAME sketch as a direct build, (b) estimate within their declared
error envelopes against exact answers, and (c) keep every bucket/register
computation integer-exact (the cross-engine contract oracle relies on it).
The exact-parity surface is the contract entries (hll_user_cascade /
hdr_value_quantiles vs DuckDB); these tests pin the math itself on
synthetic data where the truth is known by construction.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from covsar_spark.operators.sketches import (
    HDR_SCALE,
    HLL_M,
    HLL_Q,
    hdr_daily_quantiles,
    hll_daily_cascade,
)

DAY = 86400


def _events(spark, n_days=4, per_day=600, n_users=300, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for d in range(n_days):
        for _ in range(per_day):
            sec = int(rng.integers(0, DAY))
            rows.append(
                (
                    pd.Timestamp("2024-03-01") + pd.Timedelta(seconds=d * DAY + sec),
                    int(rng.integers(0, n_users)),
                    float(np.round(rng.lognormal(2.0, 1.0), 2) + 0.01),
                )
            )
    pdf = pd.DataFrame(rows, columns=["ts", "user_id", "value"])
    return spark.createDataFrame(pdf), pdf


def test_hll_cascade_equals_direct_and_tracks_exact(spark):
    """The hourly→daily register MAX must reproduce the direct daily build
    bit-for-bit (associativity of max), and the estimate must sit within
    the m=256 error envelope of the true distinct count."""
    df, pdf = _events(spark)
    out = hll_daily_cascade(df, key="user_id").orderBy("day_s").toPandas()
    assert len(out) == 4
    assert (out["est_cascade"] == out["est_direct"]).all()
    truth = (
        pdf.assign(day=pdf["ts"].dt.floor("D"))
        .groupby("day")["user_id"]
        .nunique()
        .to_numpy()
    )
    assert (out["n_exact"].to_numpy() == truth).all()
    # 1.04/sqrt(256) ~ 6.5% std err; allow 4 sigma plus small-n slack
    rel = np.abs(out["est_cascade"].to_numpy() - truth) / truth
    assert rel.max() < 0.26, rel


def test_hll_register_table_matches_numpy_oracle(spark):
    """The register/rank columns are a pure function of md5 — replay them
    row-by-row in Python (hashlib) and compare the daily register table."""
    import hashlib

    df, pdf = _events(spark, n_days=1, per_day=200, n_users=120)
    daily = (
        hll_daily_cascade(df, key="user_id")
        .select("day_s", "present")
        .toPandas()
    )
    regs: dict[int, int] = {}
    for u in pdf["user_id"]:
        h = int(hashlib.md5(str(u).encode()).hexdigest()[:10], 16)
        reg, w = h & (HLL_M - 1), h >> 8
        rank = (HLL_Q + 1) - w.bit_length() if w else HLL_Q + 1
        regs[reg] = max(regs.get(reg, 0), rank)
    assert daily["present"].iloc[0] == len(regs)


def test_hll_estimator_formula_pinned(spark):
    """Small-range (linear counting) branch: with n distinct ≪ m the
    estimate must equal m·ln(m/V) exactly for the observed V."""
    pdf = pd.DataFrame(
        {
            "ts": [pd.Timestamp("2024-03-01 00:00:05")] * 8,
            "user_id": list(range(8)),
            "value": [1.0] * 8,
        }
    )
    out = hll_daily_cascade(spark.createDataFrame(pdf), key="user_id").toPandas()
    present = int(out["present"].iloc[0])
    v = HLL_M - present
    expect = round(HLL_M * math.log(HLL_M / v), 4)
    assert out["est_direct"].iloc[0] == pytest.approx(expect, abs=1e-9)


def test_hdr_cascade_equals_direct_and_bounds_exact(spark):
    """Bucket-count SUM across hours must equal the direct daily sketch,
    and the lower-bound quantile must satisfy q_est ≤ exact < q_est·(1+1/16)
    + one value-grid step (the declared HDR envelope)."""
    df, _ = _events(spark, n_days=3, per_day=800)
    out = hdr_daily_quantiles(df).orderBy("day_s", "p_pct").toPandas()
    assert len(out) == 9
    assert (out["q_est"] == out["q_est_direct"]).all()
    assert (out["q_est"] <= out["q_exact"] + 1e-9).all()
    ceiling = out["q_est"] * (1 + 1 / 16) + 2.0 / HDR_SCALE
    assert (out["q_exact"] < ceiling).all(), out


def test_hdr_bucket_roundtrip_integer_exact(spark):
    """hdr_index/hdr_lower must roundtrip: lower(idx(v)) ≤ v and v sits in
    a bucket of width ≤ max(1, lower/16) — checked densely over the small
    range and loggy samples above it, via the SAME SQL fragments the plan
    and the oracle use."""
    from covsar_spark.operators.sketches import hdr_index_sql, hdr_lower_sql

    vals = list(range(1, 600)) + [2**k + j for k in range(10, 16) for j in (0, 1, 7)]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got = df.selectExpr(
        "v",
        f"CAST({hdr_index_sql('v')} AS BIGINT) AS idx",
    ).selectExpr("v", "idx", f"CAST({hdr_lower_sql('idx')} AS BIGINT) AS lb").toPandas()
    assert (got["lb"] <= got["v"]).all()
    width = np.maximum(1, got["lb"] // 16)
    assert (got["v"] < got["lb"] + width).all()
    # idx must be monotone in v
    g = got.sort_values("v")
    assert (np.diff(g["idx"].to_numpy()) >= 0).all()


def test_hll_streaming_register_merge(spark, tmp_path):
    """The register table is a standard max-aggregate, so it runs under
    Structured Streaming unchanged: a file-source stream over the same rows
    must produce the identical daily register merge (the tier path's
    streaming form — sketch mergeability IS streaming compatibility)."""
    from pyspark.sql import functions as F

    df, _ = _events(spark, n_days=2, per_day=300)
    src = str(tmp_path / "ev")
    df.coalesce(2).write.parquet(src)

    batch = hll_daily_cascade(spark.read.parquet(src)).orderBy("day_s")
    b = batch.toPandas()

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    from covsar_spark.operators.sketches import _spark_hash40, hll_rank_sql, hll_reg_sql

    h = _spark_hash40("user_id")
    keyed = stream.selectExpr(
        "ts",
        "unix_timestamp(date_trunc('day', ts)) AS day_s",
        f"{hll_reg_sql(h)} AS reg",
        f"CAST({hll_rank_sql(h)} AS INT) AS rank",
    )
    agg = keyed.groupBy("day_s", "reg").agg(F.max("rank").alias("m_rank"))
    q = (
        agg.writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    from covsar_spark.operators.sketches import hll_estimate

    s = (
        hll_estimate(spark.table("hll_regs"), ["day_s"])
        .orderBy("day_s")
        .toPandas()
    )
    assert (s["est"].to_numpy() == b["est_direct"].to_numpy()).all()
    assert (s["present"].to_numpy() == b["present"].to_numpy()).all()


def test_hdr_streaming_bucket_merge(spark, tmp_path):
    """HDR's merge is a SUM — the streaming form of the bucket tier must
    equal the batch daily sketch (the second half of 'mergeable IS
    streaming-compatible'; the HLL sibling above covers max)."""
    from pyspark.sql import functions as F

    from covsar_spark.operators.sketches import hdr_index_sql

    df, _ = _events(spark, n_days=2, per_day=300, seed=11)
    src = str(tmp_path / "ev_hdr")
    df.coalesce(2).write.parquet(src)

    v_int = "CAST(floor(value * 100) AS BIGINT)"
    batch = (
        spark.read.parquet(src)
        .where(F.col("value") > 0)
        .selectExpr(
            "unix_timestamp(date_trunc('day', ts)) AS day_s",
            f"CAST({hdr_index_sql(v_int)} AS BIGINT) AS idx",
        )
        .groupBy("day_s", "idx")
        .agg(F.count("*").alias("cnt"))
        .orderBy("day_s", "idx")
        .toPandas()
    )

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    agg = (
        stream.where(F.col("value") > 0)
        .selectExpr(
            "ts",
            "unix_timestamp(date_trunc('day', ts)) AS day_s",
            f"CAST({hdr_index_sql(v_int)} AS BIGINT) AS idx",
        )
        .groupBy("day_s", "idx")
        .agg(F.count("*").alias("cnt"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("hdr_buckets")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("hdr_buckets").orderBy("day_s", "idx").toPandas()
    assert (got.to_numpy() == batch.to_numpy()).all()


def test_hll_register_tier_rides_write_tier_and_retention(spark, tmp_path):
    """The sketch register table is a first-class retention tier: it
    carries (source, epoch_s) like every rollup, so write_tier's day
    partitioning and apply_retention's day drops work unchanged — and the
    estimator over the SURVIVING registers equals a fresh build over the
    raw rows that survive the same cutoff (sketch tiers expire without
    touching raw data)."""
    from pyspark.sql import functions as F

    from covsar_spark.operators.sketches import (
        _spark_hash40,
        hll_estimate,
        hll_rank_sql,
        hll_reg_sql,
    )
    from covsar_spark.sources.tables import apply_retention, read_tier, write_tier

    df, _ = _events(spark, n_days=4, per_day=400, seed=23)
    ev = df.withColumn("source", (F.col("user_id") % 3).cast("string"))

    h = _spark_hash40("user_id")
    hourly = (
        ev.selectExpr(
            "source",
            "unix_timestamp(date_trunc('hour', ts)) AS epoch_s",
            f"{hll_reg_sql(h)} AS reg",
            f"CAST({hll_rank_sql(h)} AS INT) AS rank",
        )
        .groupBy("source", "epoch_s", "reg")
        .agg(F.max("rank").alias("m_rank"))
    )
    path = str(tmp_path / "hll_tier_1h")
    write_tier(hourly, path, "1h")

    # drop the first two days from the SKETCH tier only
    cutoff = int(ev.agg(F.min(F.unix_timestamp("ts"))).collect()[0][0]) + 2 * 86400
    cutoff -= cutoff % 86400
    metrics = apply_retention(spark, path, cutoff)
    assert metrics["dropped_days"] and metrics["kept_days"]

    surviving = read_tier(spark, path)
    merged = (
        hll_estimate(
            surviving.groupBy("source", "reg").agg(F.max("m_rank").alias("m_rank")),
            ["source"],
        )
        .orderBy("source")
        .toPandas()
    )
    fresh = (
        hll_estimate(
            ev.where(F.unix_timestamp("ts") >= cutoff)
            .selectExpr(
                "source",
                f"{hll_reg_sql(h)} AS reg",
                f"CAST({hll_rank_sql(h)} AS INT) AS m_rank",
            )
            .groupBy("source", "reg")
            .agg(F.max("m_rank").alias("m_rank")),
            ["source"],
        )
        .orderBy("source")
        .toPandas()
    )
    assert (merged["est"].to_numpy() == fresh["est"].to_numpy()).all()
    assert (merged["present"].to_numpy() == fresh["present"].to_numpy()).all()


def test_hdr_sql_fragment_matches_python_mirror(spark):
    """The dialect-shared SQL fragments and the pure-Python property-test
    oracle must agree on random 52-bit integers (one Spark batch, fixed
    seed) — ties the hypothesis-verified invariants to the fragments the
    plan and the DuckDB oracle actually execute."""
    from covsar_spark.operators.sketches import (
        hdr_index_py,
        hdr_index_sql,
        hdr_lower_py,
        hdr_lower_sql,
    )

    rng = np.random.default_rng(99)
    vals = [int(v) for v in rng.integers(1, 2**52, size=500)]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got = (
        df.selectExpr("v", f"CAST({hdr_index_sql('v')} AS BIGINT) AS idx")
        .selectExpr("v", "idx", f"CAST({hdr_lower_sql('idx')} AS BIGINT) AS lb")
        .orderBy("v")
        .toPandas()
    )
    expect_idx = [hdr_index_py(v) for v in sorted(vals)]
    expect_lb = [hdr_lower_py(i) for i in expect_idx]
    assert got["idx"].tolist() == expect_idx
    assert got["lb"].tolist() == expect_lb


def test_hll_register_stream_restart_exactly_once(spark, tmp_path):
    """A restarted register stream must resume from its checkpoint: the
    second invocation (after later-time data arrives) appends ONLY
    newly-finalized windows — no re-read, no re-emit, no clobber — and
    every emitted row equals the batch register build for its window."""
    from pyspark.sql import functions as F

    from covsar_spark.operators.sketches import (
        _spark_hash40,
        hll_rank_sql,
        hll_reg_sql,
    )
    from covsar_spark.streaming.runner import file_stream, run_stream
    from covsar_spark.streaming.sketch_stream import streaming_hll_registers

    df, pdf = _events(spark, n_days=4, per_day=500, seed=31)
    early = df.where(F.col("ts") < "2024-03-03").orderBy("ts").coalesce(1)
    late = df.where(F.col("ts") >= "2024-03-03").orderBy("ts").coalesce(1)
    src = str(tmp_path / "ev_stream")
    early.write.parquet(src)

    out = str(tmp_path / "tiers")
    tier = f"{out}/hll_registers_1h"

    def run():  # same sink and checkpoint on every call: a second call is a restart
        run_stream(
            streaming_hll_registers(file_stream(spark, src)), "append",
            path=tier, checkpoint=f"{out}/_hll_checkpoint",
        )

    run()
    first = spark.read.parquet(tier).toPandas()
    assert len(first) > 0  # earlier windows finalized once the wm advanced

    late.write.mode("append").parquet(src)
    run()
    second = spark.read.parquet(tier)
    s = second.toPandas()

    # strictly more windows, zero duplicate (epoch_s, reg) rows
    assert len(s) > len(first)
    dup = second.groupBy("epoch_s", "reg").count().filter("count > 1").count()
    assert dup == 0, "restart re-emitted an already-finalized (window, reg)"
    # first-run rows survive the restart byte-identically
    merged = s.merge(first, on=["epoch_s", "reg"], suffixes=("", "_old"))
    assert len(merged) == len(first)
    assert (merged["m_rank"] == merged["m_rank_old"]).all()

    # every emitted row equals the batch register build for its window
    h = _spark_hash40("user_id")
    batch = (
        spark.read.parquet(src)
        .selectExpr(
            "unix_timestamp(date_trunc('hour', ts)) AS epoch_s",
            f"{hll_reg_sql(h)} AS reg",
            f"CAST({hll_rank_sql(h)} AS INT) AS rank",
        )
        .groupBy("epoch_s", "reg")
        .agg(F.max("rank").alias("m_rank"))
        .toPandas()
    )
    chk = s.merge(batch, on=["epoch_s", "reg"], suffixes=("", "_batch"))
    assert len(chk) == len(s)
    assert (chk["m_rank"] == chk["m_rank_batch"]).all()


def test_hll_union_and_overlap_estimates(spark):
    """Set algebra on register tables: union = per-register MAX (must equal
    a direct sketch of the union bit-for-bit), and inclusion–exclusion
    overlap tracks the true intersection within the compounded error
    envelope. Planted sets: A = [0, 3000), B = [2000, 6000) → |A∩B| = 1000,
    |A∪B| = 6000."""
    from pyspark.sql import functions as F

    from covsar_spark.operators.sketches import (
        _spark_hash40,
        hll_estimate,
        hll_overlap,
        hll_rank_sql,
        hll_reg_sql,
        hll_union,
    )

    h = _spark_hash40("user_id")

    def regs_of(df, extra):
        return (
            df.selectExpr("user_id", *extra)
            .selectExpr(
                *[e.split(" AS ")[-1] for e in extra],
                f"{hll_reg_sql(h)} AS reg",
                f"CAST({hll_rank_sql(h)} AS INT) AS rank",
            )
            .groupBy(*[e.split(" AS ")[-1] for e in extra], "reg")
            .agg(F.max("rank").alias("m_rank"))
        )

    a = spark.range(0, 3000).selectExpr("id AS user_id", "'A' AS set_id")
    b = spark.range(2000, 6000).selectExpr("id AS user_id", "'B' AS set_id")
    both = a.unionByName(b)
    regs = regs_of(both, ["set_id AS set_id"])

    # union merge == direct sketch of the deduplicated union, bit-for-bit
    u = hll_union(regs.drop("set_id"), [])
    direct = regs_of(spark.range(0, 6000).selectExpr("id AS user_id", "'U' AS set_id"), [
        "set_id AS set_id"
    ]).drop("set_id")
    got = u.orderBy("reg").toPandas()
    want = direct.orderBy("reg").toPandas()
    assert got.equals(want)

    out = hll_overlap(regs, "set_id", ("A", "B")).toPandas().iloc[0]
    assert abs(out["est_union"] - 6000) / 6000 < 0.2
    assert abs(out["est_a"] - 3000) / 3000 < 0.2
    # intersection compounds three estimates' errors: generous envelope,
    # but it must land in the right order of magnitude and below min(a, b)
    assert 200 < out["est_intersection"] < 2500
    assert out["est_intersection"] <= min(out["est_a"], out["est_b"]) + 1e-9


# ---------------------------------------------------------------------------
# Count-Min sketch (round 8, wave 4)
# ---------------------------------------------------------------------------


def test_cms_bucket_sql_matches_python_mirror(spark):
    """The row-j bucket fragment must replay the hashlib mirror exactly on
    random 52-bit keys (same recipe as the HLL/HDR fragment pins)."""
    import numpy as np
    import pandas as pd

    from covsar_spark.operators.sketches import (
        CMS_D,
        cms_bucket_py,
        cms_bucket_sql,
        _spark_hash40_salted,
    )

    rng = np.random.default_rng(3)
    keys = [int(v) for v in rng.integers(1, 2**52, size=200)]
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    for j in range(CMS_D):
        got = (
            df.selectExpr("k", f"CAST({cms_bucket_sql(_spark_hash40_salted(j, 'k'))} AS INT) AS b")
            .orderBy("k")
            .toPandas()
        )
        want = [cms_bucket_py(j, k) for k in sorted(keys)]
        assert got["b"].tolist() == want, f"row {j}"


def test_cms_estimates_one_sided_and_cascade_equal(spark):
    """CMS guarantees est ≥ exact ALWAYS; the hourly→daily SUM cascade must
    equal the direct daily build bit-for-bit; and per (day, j) the matrix
    conserves mass (Σ buckets == rows that day)."""
    import pandas as pd

    from covsar_spark.operators.sketches import CMS_D, cms_daily_estimates

    df, pdf = _events(spark, n_days=3, per_day=800, seed=5)
    got = cms_daily_estimates(df, key="user_id", probe_mod=7).toPandas()
    assert len(got) > 20
    assert (got.est_direct == got.est_cascade).all()
    assert (got.est_direct >= got.n_exact).all()
    # probes with activity estimate within the CMS envelope on this density
    act = got[got.n_exact > 0]
    assert len(act) > 10
    # exactness sanity: estimates are counts from the probe's own buckets,
    # never below truth and bounded by the day's total rows
    day_tot = pdf.assign(day=pdf.ts.dt.floor("D")).groupby("day").size()
    assert got.est_direct.max() <= day_tot.max()


def test_cms_mass_conservation(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from covsar_spark.operators.sketches import CMS_D, cms_bucket_sql, _spark_hash40_salted

    df, pdf = _events(spark, n_days=2, per_day=500, seed=9)
    legs = ", ".join(
        f"{j}, CAST({cms_bucket_sql(_spark_hash40_salted(j, 'k'))} AS INT)"
        for j in range(CMS_D)
    )
    keyed = df.selectExpr(
        "unix_timestamp(date_trunc('day', ts)) AS day_s",
        "CAST(user_id AS BIGINT) AS k",
    ).selectExpr("day_s", f"stack({CMS_D}, {legs}) AS (j, bucket)")
    per_row = (
        keyed.groupBy("day_s", "j").agg(F.count(F.lit(1)).alias("n")).toPandas()
    )
    day_tot = pdf.assign(day=pdf.ts.dt.floor("D")).groupby("day").size().tolist()
    for _, r in per_row.iterrows():
        assert r.n in day_tot  # every (day, row) holds exactly the day's rows


def test_cms_matrix_stream_matches_batch(spark, tmp_path):
    """Streamed CMS matrix == batch hourly matrix for every finalized
    window (append-mode watermark semantics; flush row pushes the
    watermark past every real window, its own far-future window never
    finalizes)."""
    from pyspark.sql import functions as F

    from covsar_spark.operators.sketches import CMS_D, cms_bucket_sql, _spark_hash40_salted
    from covsar_spark.streaming.runner import file_stream, run_stream
    from covsar_spark.streaming.sketch_stream import streaming_cms_matrix

    df, pdf = _events(spark, n_days=2, per_day=600, seed=13)
    flush = spark.createDataFrame(
        pd.DataFrame({"ts": [pdf.ts.max() + pd.Timedelta(days=30)],
                      "user_id": [999_999_999]})
    )
    src = str(tmp_path / "ev")
    df.select("ts", "user_id").unionByName(flush).orderBy("ts").coalesce(1).write.parquet(src)

    tier = str(tmp_path / "tiers" / "cms_matrix_1h")
    run_stream(
        streaming_cms_matrix(file_stream(spark, src), watermark="1 minute"), "append",
        path=tier, checkpoint=str(tmp_path / "tiers" / "_cms_checkpoint"),
    )
    got = (
        spark.read.parquet(tier).toPandas()
        .sort_values(["epoch_s", "j", "bucket"]).reset_index(drop=True)
    )
    legs = ", ".join(
        f"{j}, CAST({cms_bucket_sql(_spark_hash40_salted(j, 'user_id'))} AS INT)"
        for j in range(CMS_D)
    )
    batch = (
        df.selectExpr("unix_timestamp(date_trunc('hour', ts)) AS epoch_s",
                      f"stack({CMS_D}, {legs}) AS (j, bucket)")
        .groupBy("epoch_s", "j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
        .toPandas().sort_values(["epoch_s", "j", "bucket"]).reset_index(drop=True)
    )
    assert len(got) == len(batch) > 0
    for c in ("epoch_s", "j", "bucket", "cnt"):
        assert got[c].tolist() == batch[c].tolist(), c
