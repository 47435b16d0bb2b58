"""Eigen kernel math on planted fixtures (FIXTURES.md F3) + batch/single
bit-equivalence + end-to-end Spark vs oracle exactness."""

from __future__ import annotations

import numpy as np

from covsar_spark import oracle
from covsar_spark.datagen import gen_planted
from covsar_spark.operators.eigen import eigen_rollup, lagcov_eig, lagcov_eig_batch
from covsar_spark.operators.gapfill import gapfill
from covsar_spark.operators.rollup import rollup_tokens, with_event_time

from .conftest import cols_to_spark


def test_gram_is_psd_and_symmetric():
    rng = np.random.default_rng(0)
    for _ in range(20):
        x = rng.normal(0, 1, rng.integers(2, 100))
        lam, tc, v = lagcov_eig(x)
        assert lam >= -1e-12
        assert 0.0 <= tc <= 1.0 + 1e-12
        assert abs(np.linalg.norm(v) - 1.0) < 1e-12


def test_rank1_recovery_exact_structure():
    """For a constant-amplitude (rank-1 trajectory) series, the dominant mode
    carries all the energy — the property CovSAR relies on at
    closure_inten.py:591-595."""
    x = np.full(64, 3.0)
    lam, tc, v = lagcov_eig(x, p=8)
    assert abs(tc - 1.0) < 1e-12
    # eigvec of the all-ones rank-1 Gram is uniform with positive gauge
    assert np.allclose(v, np.full(8, 1 / np.sqrt(8)), atol=1e-12)
    assert v[0] > 0


def test_planted_signal_recovered():
    """Planted smooth signal + small noise: leading eigenvector ~ the lag
    embedding of the signal; tc stays high."""
    src, ts, val = gen_planted(n_sources=2, p=64)
    for s in ("planted-0", "planted-1"):
        x = val[src == s]
        lam, tc, v = lagcov_eig(x, p=8)
        assert tc > 0.9
        assert v[0] > 0


def test_zero_series_deterministic():
    lam, tc, v = lagcov_eig(np.zeros(16), p=8)
    assert lam == 0.0 and tc == 0.0
    assert len(v) == 8


def test_short_series_shrinks_lag_dim():
    lam, tc, v = lagcov_eig(np.array([1.0, 2.0, 3.0]), p=8)
    assert len(v) == 3
    lam, tc, v = lagcov_eig(np.array([], dtype=float), p=8)
    assert len(v) == 0


def test_batch_equals_single_bitwise():
    """lagcov_eig_batch (the engine path) must agree with lagcov_eig (the
    oracle path) bit-for-bit — guards the exact-match gate."""
    rng = np.random.default_rng(1)
    series = [rng.integers(0, 1000, n).astype(float) for n in (60, 60, 24, 60, 7, 24)]
    batch = lagcov_eig_batch(series)
    for s, (blam, btc, bv) in zip(series, batch):
        lam, tc, v = lagcov_eig(s)
        assert lam == blam and tc == btc
        assert np.array_equal(v, bv)


def test_eigen_rollup_matches_oracle(spark, tiny_cols):
    df = with_event_time(cols_to_spark(spark, tiny_cols))
    filled = gapfill(rollup_tokens(df, "1m"), "1m", "zero")
    got = eigen_rollup(filled, "1m").toPandas()
    ofilled = oracle.gapfill(oracle.rollup(oracle.tokens_frame(tiny_cols), "1m"), "1m", "zero")
    exp = oracle.eigen(ofilled, "1m")
    got = got.sort_values(["source", "span_s"], kind="mergesort").reset_index(drop=True)
    exp = exp.sort_values(["source", "span_s"], kind="mergesort").reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["source"] == exp["source"]).all()
    assert np.array_equal(got["span_s"].to_numpy(), exp["span_s"].to_numpy())
    assert np.array_equal(got["n_epochs"].to_numpy(), exp["n_epochs"].to_numpy())
    assert np.array_equal(got["lam"].to_numpy(), exp["lam"].to_numpy()), "lam not bit-identical"
    assert np.array_equal(got["tc"].to_numpy(), exp["tc"].to_numpy())
    for a, b in zip(got["eig"], exp["eig"]):
        assert np.array_equal(np.asarray(a), np.asarray(b))


# ---------------------------------------------------------------------------
# MLE (EMI) linker — the reference's third phase-linking variant
# (covsar/closure_inten.py:502-520 EIG|MLE|NN dispatch)
# ---------------------------------------------------------------------------


def _planted_coherence(P, s, decay, noise, rng):
    """C = (s s^T) ∘ A + symmetric noise, unit diagonal — the planted
    sign-vector analogue of Gamma = Theta |Gamma| Theta^H."""
    idx = np.arange(P)
    A = np.exp(-np.abs(idx[:, None] - idx[None, :]) / decay)
    C = A * np.outer(s, s)
    if noise:
        E = rng.normal(0, noise, (P, P))
        C = C + (E + E.T) / 2
        np.fill_diagonal(C, 1.0)
    return C


def test_emi_noise_free_exact_recovery():
    """Model-exact case: C = Theta A Theta with Theta=diag(s). Then
    |C|^-1 ∘ C = Theta (A^-1 ∘ A) Theta, whose bottom eigenpair is
    (1, s/sqrt(P)) — EMI recovers the planted sign vector exactly."""
    from covsar_spark.operators.eigen import emi_link

    rng = np.random.default_rng(7)
    for P in (6, 12, 20):
        s = np.where(rng.random(P) < 0.5, -1.0, 1.0)
        s[0] = 1.0  # gauge: emi_link makes the first nonzero element positive
        C = _planted_coherence(P, s, decay=3.0, noise=0.0, rng=rng)
        lam, tc, v = emi_link(C)
        assert abs(lam - 1.0) < 1e-9
        assert np.allclose(v, s / np.sqrt(P), atol=1e-9)


def test_emi_beats_evd_at_low_coherence():
    """The reference's motivation for the MLE linker: at low coherence
    (fast-decaying |Gamma|) the coherence-weighted EMI estimate recovers the
    planted signs more reliably than the plain dominant eigenvector."""
    from covsar_spark.operators.eigen import emi_link

    for noise in (0.05, 0.08):
        rng = np.random.default_rng(42)
        P, trials = 24, 40
        emi_err = evd_err = 0
        for _ in range(trials):
            s = np.where(rng.random(P) < 0.5, -1.0, 1.0)
            C = _planted_coherence(P, s, decay=1.0, noise=noise, rng=rng)
            _, _, v_emi = emi_link(C)
            w, V = np.linalg.eigh(C)
            v_evd = V[:, -1]
            for v, acc in ((v_emi, "emi"), (v_evd, "evd")):
                sg = np.sign(v)
                sg[sg == 0] = 1.0
                err = min(int((sg != s).sum()), int((-sg != s).sum()))
                if acc == "emi":
                    emi_err += err
                else:
                    evd_err += err
        assert emi_err < evd_err, f"noise={noise}: EMI {emi_err} vs EVD {evd_err}"


def test_emi_ridge_extends_robust_regime():
    """Shrinkage toward identity keeps EMI competitive when the plug-in |C|
    estimate is noisy at moderate coherence — where pure inv(|C|) amplifies
    noise (measured: ridge 0.3 cuts sign errors ~3x at decay 1.5/noise 0.2)."""
    from covsar_spark.operators.eigen import emi_link

    rng = np.random.default_rng(42)
    P, trials = 24, 40
    plain = ridged = 0
    for _ in range(trials):
        s = np.where(rng.random(P) < 0.5, -1.0, 1.0)
        C = _planted_coherence(P, s, decay=1.5, noise=0.2, rng=rng)
        for r, acc in ((0.0, "plain"), (0.3, "ridged")):
            _, _, v = emi_link(C, ridge=r)
            sg = np.sign(v)
            sg[sg == 0] = 1.0
            err = min(int((sg != s).sum()), int((-sg != s).sum()))
            if acc == "plain":
                plain += err
            else:
                ridged += err
    assert ridged < plain, f"ridged {ridged} vs plain {plain}"


def test_emi_batch_equals_single():
    rng = np.random.default_rng(3)
    from covsar_spark.operators.eigen import emi_link, emi_link_batch

    Gs = []
    for _ in range(8):
        X = rng.normal(0, 1, (10, 40))
        Gs.append(X @ X.T / 40)
    G = np.stack(Gs)
    lam_b, v_b = emi_link_batch(G)
    for i in range(8):
        lam, _, v = emi_link(G[i])
        assert abs(lam - lam_b[i]) < 1e-9
        assert np.allclose(v, v_b[i], atol=1e-9)


def test_lagcov_mle_single_vs_batch():
    rng = np.random.default_rng(11)
    series = [rng.integers(0, 1000, n).astype(float) for n in (60, 60, 24, 7)]
    batch = lagcov_eig_batch(series, method="mle")
    for s, (blam, btc, bv) in zip(series, batch):
        lam, tc, v = lagcov_eig(s, method="mle")
        assert abs(lam - blam) < 1e-9 and abs(tc - btc) < 1e-9
        assert np.allclose(v, bv, atol=1e-9)


def test_eigen_rollup_mle_matches_single(spark, tiny_cols):
    """Spark plumbing for method='mle': grouped-batch output equals the pure
    single-series kernel on identically ordered, gap-filled series."""
    import pandas as pd

    df = with_event_time(cols_to_spark(spark, tiny_cols))
    filled = gapfill(rollup_tokens(df, "1m"), "1m", "zero")
    got = eigen_rollup(filled, "1m", method="mle").toPandas()
    base = filled.toPandas().sort_values(["source", "epoch_s"])
    from covsar_spark.schemas import EIGEN_SPAN

    span = EIGEN_SPAN["1m"]
    base["span_s"] = (base["epoch_s"] // span) * span
    by_span = dict(tuple(base.groupby(["source", "span_s"])))
    assert len(got) > 0
    for row in got.itertuples():
        g = by_span[(row.source, row.span_s)]
        x = g.sort_values("epoch_s")["token_count"].to_numpy(np.float64)
        lam, tc, v = lagcov_eig(x, method="mle")
        assert abs(lam - row.lam) < 1e-9
        assert abs(tc - row.tc) < 1e-9
        # the bottom eigenvalue can be degenerate (periodic series -> singular
        # |C|), making the eigvec non-unique across LAPACK paths; the plumbing
        # check is the eigen-RESIDUAL of the emitted vector against the
        # locally rebuilt EMI matrix, which any valid eigenvector satisfies
        p_eff = min(8, len(x))
        m = len(x) - p_eff + 1
        X = np.lib.stride_tricks.sliding_window_view(x, m)
        G = X @ X.T / m
        d = np.sqrt(np.diag(G))
        d = np.where(d > 1e-12, d, 1.0)
        C = G / np.outer(d, d)
        A = np.abs(C)
        ve = np.asarray(row.eig, np.float64)
        if np.linalg.cond(A) < 1e8:  # singular |C| -> eigvec ill-defined
            M = np.linalg.inv(A) * C
            resid = np.linalg.norm(M @ ve - row.lam * ve)
            assert resid <= 1e-6 * max(1.0, np.linalg.norm(M)), resid
        assert abs(np.linalg.norm(ve) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# Complex phase linking (covsar/library.py:113-146 on complex coherence)
# ---------------------------------------------------------------------------


def test_complex_rank1_phasor_exact_recovery():
    """A constant-rate phasor series z_t = exp(i(w t + phi0)) has an exactly
    rank-1 trajectory: tc == 1 and the linked eigenvector is the lag phasor
    ramp exp(i w l)/sqrt(p), first element real-positive (reference gauge)."""
    from covsar_spark.operators.eigen import lagcov_eig_complex

    w, phi0, n, p = 0.37, 1.1, 64, 8
    z = np.exp(1j * (w * np.arange(n) + phi0))
    lam, tc, v = lagcov_eig_complex(z, p=p)
    assert abs(tc - 1.0) < 1e-12
    want = np.exp(1j * w * np.arange(p)) / np.sqrt(p)
    np.testing.assert_allclose(v, want, atol=1e-9)
    assert abs(v[0].imag) < 1e-12 and v[0].real > 0


def test_complex_batch_equals_single():
    from covsar_spark.operators.eigen import (
        lagcov_eig_complex,
        lagcov_eig_complex_batch,
    )

    rng = np.random.default_rng(5)
    series = [
        np.exp(1j * rng.normal(0, 1, n)).astype(np.complex128) for n in (60, 60, 24, 7)
    ]
    batch = lagcov_eig_complex_batch(series)
    for s, (blam, btc, bv) in zip(series, batch):
        lam, tc, v = lagcov_eig_complex(s)
        assert lam == blam and tc == btc
        assert np.array_equal(v, bv)


def test_eigen_complex_rollup_matches_single(spark, tiny_cols):
    """Spark plumbing: unit phasors from the 1m rollup's cumulative phase
    (the phase_cumprod construction) through the span kernel equal the
    pure single-series kernel on identically ordered series."""
    from covsar_spark.operators.eigen import eigen_complex_rollup, lagcov_eig_complex
    from covsar_spark.operators.rollup import rollup_tokens, with_event_time
    from covsar_spark.schemas import EIGEN_SPAN

    from pyspark.sql import functions as F

    roll = rollup_tokens(with_event_time(cols_to_spark(spark, tiny_cols)), "1m")
    ph = F.log(F.col("token_count") + 1.0)
    z = roll.select(
        "source", "epoch_s", F.cos(ph).alias("re"), F.sin(ph).alias("im")
    )
    got = eigen_complex_rollup(z, "1m").toPandas()
    base = z.toPandas().sort_values(["source", "epoch_s"])
    span = EIGEN_SPAN["1m"]
    base["span_s"] = (base["epoch_s"] // span) * span
    assert len(got) > 0
    for row in got.itertuples():
        g = base[(base["source"] == row.source) & (base["span_s"] == row.span_s)]
        g = g.sort_values("epoch_s")
        zz = g["re"].to_numpy(np.float64) + 1j * g["im"].to_numpy(np.float64)
        lam, tc, v = lagcov_eig_complex(zz)
        assert lam == row.lam and tc == row.tc
        np.testing.assert_array_equal(np.asarray(row.eig_re), v.real)
        np.testing.assert_array_equal(np.asarray(row.eig_im), v.imag)
