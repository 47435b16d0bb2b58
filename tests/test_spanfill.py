"""The span-kernel skeleton (operators/spanfill): in-kernel zero-fill ==
relational gapfill + kernel, and the observed-only view.

Every span operator (closure correction, real and complex eigen, nonlinear
fit, chunk compression) runs on the skeleton: it reads the RAW sparse
rollup and zero-fills each span's dense grid inside the kernel (sentinel
prep) instead of materializing the dense calendar grid relationally first.
The ``*_fill_equals_relational`` tests run each operator on the raw rollup
and on `gapfill(raw, "1m", "zero")`: since gapfill emits the full lattice,
their equality is also the proof that the kernel's zero-fill is the
identity on an already-filled tier. They pin, on a gappy multi-source
rollup with off-span-boundary ranges, grids, counts, and codec blobs
bit-for-bit; gemm-fed floats to 1e-9 (see _assert_equal for why the last
ulp can move). The ROUNDED declared contract outputs are pinned
bit-for-bit against an independent per-span numpy reference on real data,
and `observed_only` against hand-built batches and a per-span reference.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from covsar_spark.operators.gapfill import gapfill


@pytest.fixture(scope="module")
def sparse_rollup(spark):
    """Gappy 1m rollup: 3 sources, ranges starting/ending off span
    boundaries, ~35% of minutes observed, deterministic values."""
    rows = []
    for s, (start_min, n_min, keep_mod) in {
        "a": (7, 700, 3),      # starts mid-span, 1/3 observed
        "b": (130, 260, 2),    # different lattice offset
        "c": (1441, 60, 1),    # fully dense source
    }.items():
        for k in range(n_min):
            if k % keep_mod:
                continue
            e = (start_min + k) * 60
            tok = (k * 37 + (ord(s) * 13) % 101) % 997 + 1
            rows.append((s, e, tok, 1, tok, tok, round(tok / 60.0, 6), False))
    return spark.createDataFrame(
        rows,
        "source string, epoch_s long, token_count long, n_docs long, "
        "max_tok int, min_tok int, rate double, filled boolean",
    )


def _collect(df, sort_cols):
    rows = df.orderBy(*sort_cols).collect()
    return [tuple(r) for r in rows]


def _assert_equal(old, new, float_tol=0.0):
    """float_tol=0 -> bitwise. The gemm-fed kernels (closure, eigen, nlfit)
    get float_tol=1e-9 (the repo's existing batch-vs-single pin,
    tests/test_closure_correct.py): their batched BLAS results wiggle in
    the last ulp with the BATCH SIZE, and the in-kernel-fill path groups
    spans by Arrow batch instead of by 64-span bucket, so the same class
    of last-ulp wiggle appears (a per-span reference differs the same way
    from the batched kernels). Every declared query output rounds to
    >= 4dp, far above 1e-9's reach on O(1) values; the rounded contract
    outputs are additionally pinned identical in
    test_contract_outputs_identical below."""
    assert len(old) == len(new)
    for ro, rn in zip(old, new):
        assert len(ro) == len(rn)
        for a, b in zip(ro, rn):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                if float_tol and a != b:
                    assert abs(a - b) <= float_tol * max(1.0, abs(a)), (ro, rn)
                else:
                    assert math.copysign(1.0, a) == math.copysign(1.0, b) and a == b, (ro, rn)
            elif isinstance(a, list):
                ax, bx = np.asarray(a), np.asarray(b)
                if float_tol and ax.dtype.kind == "f":
                    np.testing.assert_allclose(ax, bx, rtol=float_tol, atol=1e-12)
                else:
                    np.testing.assert_array_equal(ax, bx)
            else:
                assert a == b, (ro, rn)


def test_closure_correct_fill_equals_relational(sparse_rollup):
    from covsar_spark.operators.closure_correct import closure_correct

    filled = gapfill(sparse_rollup, "1m", "zero")
    old = _collect(closure_correct(filled, "1m"), ["source", "span_s"])
    new = _collect(closure_correct(sparse_rollup, "1m", fill="zero"), ["source", "span_s"])
    _assert_equal(old, new, float_tol=1e-9)


def test_closure_correct_fill_stats_only(sparse_rollup):
    from covsar_spark.operators.closure_correct import closure_correct

    filled = gapfill(sparse_rollup, "1m", "zero")
    old = _collect(closure_correct(filled, "1m", emit_pairs=False), ["source", "span_s"])
    new = _collect(
        closure_correct(sparse_rollup, "1m", emit_pairs=False, fill="zero"),
        ["source", "span_s"],
    )
    _assert_equal(old, new, float_tol=1e-9)


@pytest.mark.parametrize("method", ["evd", "mle"])
def test_eigen_rollup_fill_equals_relational(sparse_rollup, method):
    from covsar_spark.operators.eigen import eigen_rollup

    filled = gapfill(sparse_rollup, "1m", "zero")
    old = _collect(eigen_rollup(filled, "1m", method=method), ["source", "span_s"])
    new = _collect(eigen_rollup(sparse_rollup, "1m", method=method), ["source", "span_s"])
    _assert_equal(old, new, float_tol=1e-9)


def test_nlfit_rollup_fill_equals_relational(sparse_rollup):
    from covsar_spark.operators.nlfit import nlfit_rollup

    filled = gapfill(sparse_rollup, "1m", "zero")
    old = _collect(nlfit_rollup(filled, "1m"), ["source", "span_s"])
    new = _collect(nlfit_rollup(sparse_rollup, "1m"), ["source", "span_s"])
    _assert_equal(old, new, float_tol=1e-9)


def test_compress_rollup_fill_equals_relational(sparse_rollup):
    from covsar_spark.operators.compress import compress_rollup

    filled = gapfill(sparse_rollup, "1m", "zero")
    old = _collect(compress_rollup(filled, "1m", value_col="rate"), ["source", "span_s"])
    new = _collect(compress_rollup(sparse_rollup, "1m", value_col="rate"), ["source", "span_s"])
    # blobs must be byte-identical, counts equal — no gemm in this path,
    # so no float tolerance
    _assert_equal(old, new)


def test_contract_outputs_identical(spark):
    """The DECLARED outputs (post-rounding) of the four span-kernel contract
    entries must be bit-identical to an independent per-span numpy
    reference on the sf0.001 contract data: the rollup collected to pandas,
    `oracle.gapfill`, then the single-span kernels (`oracle.eigen`,
    `oracle.closure_stats`, `correct_span`) and the filled rate, rounded
    by the same Spark expressions as each entry — the last-ulp BLAS wiggle
    between batched and single-span kernels must never survive the
    contract's 6dp rounding."""
    import pandas as pd

    from covsar_spark import oracle
    from covsar_spark.contract import QUERIES, _events_1m
    from covsar_spark.operators.closure_correct import MAX_EPOCHS, correct_span

    sf = "/root/testdata/sf0.001"
    filled = oracle.gapfill(_events_1m(spark, sf).toPandas(), "1m", "zero")
    spans = filled.assign(span_s=(filled["epoch_s"] // 3600) * 3600)
    r6 = lambda c: F.round(c, 6).alias(c)  # noqa: E731 — the entries' rounding

    # closure_pair_correction
    pairs = []
    for (src, sp), g in spans.groupby(["source", "span_s"], sort=True):
        v = g.sort_values("epoch_s")["token_count"].to_numpy(np.float64)[:MAX_EPOCHS]
        res = correct_span(v)
        for i, j, phi, err, corr in zip(
            res["pi"], res["pj"], res["phi"], res["phi_err"], res["phi_corr"]
        ):
            pairs.append((src, int(sp), int(i), int(j), float(phi), float(err), float(corr)))
    ref_pairs = spark.createDataFrame(
        pairs, "source string, span_s long, i int, j int, phi double, phi_err double, phi_corr double"
    ).select("source", "span_s", "i", "j", r6("phi"), r6("phi_err"), r6("phi_corr"))
    key = ["source", "span_s", "i", "j"]
    _assert_equal(
        _collect(ref_pairs, key), _collect(QUERIES["closure_pair_correction"](spark, sf), key)
    )

    # corrected_drift
    stats = oracle.closure_stats(filled, "1m", max_epochs=MAX_EPOCHS)
    ref_drift = spark.createDataFrame(
        stats[["source", "span_s", "n_epochs", "r", "slope", "rmse", "drift_rms", "bias"]]
    ).select(
        "source", "span_s", F.col("n_epochs").cast("int").alias("n_epochs"),
        r6("r"), r6("slope"), r6("rmse"), r6("drift_rms"), r6("bias"),
    )
    key = ["source", "span_s"]
    _assert_equal(_collect(ref_drift, key), _collect(QUERIES["corrected_drift"](spark, sf), key))

    # eigen_1m
    eig = oracle.eigen(filled, "1m")
    ref_eig = spark.createDataFrame(eig[["source", "span_s", "n_epochs", "lam", "tc"]]).select(
        "source", "span_s", F.col("n_epochs").cast("int").alias("n_epochs"),
        F.round("lam", 6).cast("double").alias("lam"),
        F.round("tc", 6).cast("double").alias("tc"),
    )
    _assert_equal(_collect(ref_eig, key), _collect(QUERIES["eigen_1m"](spark, sf), key))

    # codec_roundtrip (bit-exact end to end, exact oracle entry)
    ref_rt = spark.createDataFrame(
        pd.DataFrame({"source": filled["source"], "epoch_s": filled["epoch_s"], "val": filled["rate"]})
    ).select("source", "epoch_s", F.round("val", 6).cast("double").alias("rate"))
    key = ["source", "epoch_s"]
    _assert_equal(_collect(ref_rt, key), _collect(QUERIES["codec_roundtrip"](spark, sf), key))


def test_fill_rejects_other_policies(sparse_rollup):
    from covsar_spark.operators.closure_correct import closure_correct

    with pytest.raises(ValueError):
        closure_correct(sparse_rollup, "1m", fill="ffill")


def test_fill_shuffles_sparse_rows_only(sparse_rollup, spark):
    """Plan shape: the in-kernel-fill path has NO grid join (a second scan
    of the rollup joined to an exploded calendar) — one union of sentinels
    with observed rows feeding one repartition."""
    from covsar_spark.operators.eigen import eigen_rollup

    df = eigen_rollup(sparse_rollup, "1m")
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Join LeftOuter" not in plan and "SortMergeJoin" not in plan, plan


_PAYLOAD = [("v", "double", 0.0)]


def _hand_prep():
    """A hand-built `sentinel_union_prep` frame (1m tier, 1h spans): source
    a observes spans 0 and 7200 and nothing in span 3600; source b starts
    mid-span at 4200. Sorted like the skeleton sorts it."""
    import pandas as pd

    obs = {
        "a": {0: 1.0, 120: 2.0, 180: 3.0, 7260: 4.0, 7500: 5.0},
        "b": {4200: 6.0, 4260: 7.0, 4980: 8.0, 7200: 9.0, 7260: 10.0},
    }
    rows = []
    for src, pts in obs.items():
        lo, hi = min(pts), max(pts)
        for sp in range(lo // 3600 * 3600, hi + 1, 3600):
            rows.append((src, sp, True, sp, lo, hi, np.nan))
            rows += [(src, sp, False, e, np.nan, np.nan, v) for e, v in pts.items() if sp <= e < sp + 3600]
    cols = ["source", "span_s", "is_sentinel", "epoch_s", "lo", "hi", "v"]
    return pd.DataFrame(rows, columns=cols)


def _observed_view(frames):
    from covsar_spark.operators.spanfill import fill_groups, observed_only, span_batches

    keys, series, gap_spans = [], [], []
    for batch in span_batches(iter(frames)):
        k, grids, values, observed = fill_groups(batch, 60, 3600, _PAYLOAD)
        gap_spans += [key for key, o in zip(k, observed) if not o.any()]
        k, (v,) = observed_only(k, values, observed)
        keys += k
        series += v
    return keys, series, gap_spans


def test_observed_only_drops_gap_spans_any_batch_split():
    """`observed_only` over the carry loop keeps every span with an
    observed epoch, cut to its observed values in epoch order, and drops
    the all-gap span — identically for every cut of the frame stream,
    including one that splits a span across two input frames."""
    pdf = _hand_prep()
    want_keys = [("a", 0), ("a", 7200), ("b", 3600), ("b", 7200)]
    want = [[1.0, 2.0, 3.0], [4.0, 5.0], [6.0, 7.0, 8.0], [9.0, 10.0]]

    splits = [[pdf]] + [[pdf.iloc[:k], pdf.iloc[k:]] for k in range(1, len(pdf))]
    splits.append([pdf.iloc[i : i + 1] for i in range(len(pdf))])
    for frames in splits:
        keys, series, gap_spans = _observed_view(frames)
        assert keys == want_keys
        assert gap_spans == [("a", 3600)]  # the skeleton fills it; the view drops it
        assert [s.tolist() for s in series] == want
        assert all(s.dtype == np.float64 for s in series)


def test_observed_only_operators_match_per_span_reference(spark):
    """`closure_correct(raw)` and `eigen_complex_rollup` read each span's
    OBSERVED epochs: on a rollup with all-gap hours inside both sources
    they equal a per-span numpy reference over the observed rows — same
    spans (none for an all-gap hour), exact n_epochs, floats within the
    batched-BLAS 1e-9 with equal signbits."""
    from covsar_spark.operators.closure_correct import MAX_EPOCHS, closure_correct, correct_span
    from covsar_spark.operators.eigen import eigen_complex_rollup, lagcov_eig_complex
    from covsar_spark.operators.rollup import rollup_tokens, with_event_time

    from .test_tier_kernel import _tokens_at

    a = list(range(0, 25)) + [130] + [190, 215] + [250, 251, 259]
    b = [5, 50, 55] + list(range(300, 321))
    tokens, horizon = _tokens_at(spark, {"a": a, "b": b})
    roll = rollup_tokens(with_event_time(tokens, horizon), "1m")
    ph = F.log(F.col("token_count") + 1.0)
    z = roll.select("source", "epoch_s", F.cos(ph).alias("re"), F.sin(ph).alias("im"))
    base = z.join(roll.select("source", "epoch_s", "token_count"), ["source", "epoch_s"]).toPandas()
    base["span_s"] = (base["epoch_s"] // 3600) * 3600
    groups = {k: g.sort_values("epoch_s") for k, g in base.groupby(["source", "span_s"])}
    t0 = base["epoch_s"].min() // 3600 * 3600
    assert ("a", t0 + 3600) not in groups and ("b", t0 + 3600) not in groups

    def close(got, exp):
        got, exp = np.asarray(got, np.float64), np.asarray(exp, np.float64)
        assert got.shape == exp.shape
        assert np.array_equal(np.signbit(got), np.signbit(exp))
        np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-9)

    cc = closure_correct(roll, "1m").toPandas()
    assert sorted(zip(cc["source"], cc["span_s"])) == sorted(groups)
    for row in cc.itertuples():
        exp = correct_span(groups[(row.source, row.span_s)]["token_count"].to_numpy(np.float64)[:MAX_EPOCHS])
        assert row.n_epochs == exp["n_epochs"]
        np.testing.assert_array_equal(row.p_i, exp["pi"])
        for c in ("phi", "phi_err", "phi_corr", "r", "slope", "intercept", "rmse", "drift_rms", "bias", "chi2_s", "pval"):
            close(getattr(row, c), exp[c])

    ec = eigen_complex_rollup(z, "1m").toPandas()
    assert sorted(zip(ec["source"], ec["span_s"])) == sorted(groups)
    for row in ec.itertuples():
        g = groups[(row.source, row.span_s)]
        lam, tc, v = lagcov_eig_complex(g["re"].to_numpy(np.float64) + 1j * g["im"].to_numpy(np.float64))
        assert row.n_epochs == len(g)
        close([row.lam, row.tc], [lam, tc])
        close(row.eig_re, v.real)
        close(row.eig_im, v.imag)
