"""Distributed closure correction — the defining CovSAR step, end-to-end.

Reference pipeline per pixel (covsar/closure_inten.py:205-345):
  1. evaluate ALL C(N,3) triplet closures over the stack's pair phases
     (closure_inten.py:205-218) plus the intensity-triplet regressors
     (library.py:239-272),
  2. regress closure on intensity triplet (Pearson r + OLS,
     closure_inten.py:250-256),
  3. invert the FITTED closures back to per-pair phase errors with the
     broadcast least-norm pseudo-inverse A-dagger (closures.py:271-292; SVD
     construction closure_inten.py:187-191),
  4. correct the coherence C o conj(E) (closure_inten.py:344-345),
  5. compare corrected vs uncorrected time series — the drift / bias maps
     (closure_inten.py:512-551, J5),
  6. chi-squared closure significance over adjacent triplets
     (closures.py:130-141, write_closures 144-189).

Engine graft (real-valued token series, one "pixel" = one (source, span)):
  pair value     phi_ij = cbrt(v_i - v_j)      (signed-root transform — the
                 reference's own nonlinearity, closures.py:27-32; nonlinear so
                 closures are genuinely nonzero, unlike plain differences)
  intensity      I_t = 10*log10(v_t + 1)       (get_intensity, covariance.py:66-67)
  regressor      a_ijk = (I_i - I_j) - (I_j - I_k)   (intensity triplet,
                 library.py:239-272 nested-difference form)
  correction     phi'_ij = phi_ij - e_ij       (real analogue of C o conj(E))
  NN timeseries  cumulative sum of the superdiagonal pair values
                 (nearest_neighbor cumprod, pl/nn.py:5-9, additive domain)
  drift/bias     ts_corr - ts_unc, OLS slope over epoch index
                 (closure_inten.py:522-551)
  chi2           S = c_adj^T (sigma^2 A_adj A_adj^T)^-1 c_adj over adjacent
                 triplets (closures.py:37-45), dof k = C(N-1, 2)
                 (closures.py:134); sigma^2 is the residual variance of the
                 span's own min-norm inversion (the graft's stand-in for the
                 coherence-derived phase covariance, closures.py:208-245,
                 which needs complex coherence we don't have).

One shuffle: the span-kernel skeleton (operators/spanfill.py); the design
matrices A / A-dagger / adjacency depend only on N and are lru_cached per
Python worker (constant hoisting, closure_inten.py:178-191). Stacks are
capped at ``max_epochs`` epochs per span exactly like the reference's
``files[:20]`` limit (closure_inten.py:73), which bounds kernel memory:
N=20 -> 190 pairs, 1140 triplets.

`run_tiers(with_closure=True)` fuses these stats into its tier kernel
(operators/tier_kernel.py); this operator stays their equality oracle.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.stats import chi2_sf
from .closure import design_matrix
from .spanfill import dense_span_kernel, observed_only

MAX_EPOCHS = 20  # files[:20] analogue (covsar/closure_inten.py:73)


@lru_cache(maxsize=64)
def _constants(n: int):
    """(A, A_dagger, pair index arrays, triplet index arrays, adjacent rows,
    superdiagonal pair positions) for an N-epoch stack — computed once per N
    per worker (reference hoists these out of the pixel loop,
    closure_inten.py:178-191)."""
    # ONE definition of the triplets->pairs incidence: closure.design_matrix
    # (round-4 review: this block was a verbatim copy — an incidence fix
    # applied to one path would silently diverge the other)
    A, pairs, trips = design_matrix(n)
    pidx = {p: c for c, p in enumerate(pairs)}
    # SVD pseudo-inverse, rank-truncated like the reference
    # (closure_inten.py:190-191)
    A_dag = np.linalg.pinv(A) if len(trips) else np.zeros((len(pairs), 0))
    pi = np.array([p[0] for p in pairs], dtype=np.int64)
    pj = np.array([p[1] for p in pairs], dtype=np.int64)
    ti = np.array([t[0] for t in trips], dtype=np.int64)
    tj = np.array([t[1] for t in trips], dtype=np.int64)
    tk = np.array([t[2] for t in trips], dtype=np.int64)
    adj = np.array(
        [r for r, t in enumerate(trips) if t[1] == t[0] + 1 and t[2] == t[1] + 1],
        dtype=np.int64,
    )
    sd = np.array([pidx[(t, t + 1)] for t in range(n - 1)], dtype=np.int64)
    return A, A_dag, pi, pj, ti, tj, tk, adj, sd


def min_norm_errors(phi: np.ndarray, n: int) -> np.ndarray:
    """Least-norm pair errors of a pair-phase vector's OWN closures:
    e = A_dagger (A phi) = phi - proj_{consistent}(phi), computed by the
    closed-form projection (theta_i = row means of the antisymmetric pair
    matrix) — the commented-out `uncorrected_phi_errors` path of the
    reference (closure_inten.py:332-335). Bit-validated against
    pinv(A) @ (A @ phi) in tests."""
    _, _, pi, pj, _, _, _, _, _ = _constants(n)
    M = np.zeros((n, n))
    M[pi, pj] = phi
    M[pj, pi] = -phi
    theta = M.sum(axis=1) / n
    return phi - (theta[pi] - theta[pj])


def correct_span(v: np.ndarray) -> dict:
    """Pure per-span kernel: series -> correction outputs (shared verbatim by
    the Spark kernel and the single-threaded oracle, so the Spark-vs-oracle
    test isolates the distributed plumbing)."""
    v = np.asarray(v, dtype=np.float64)
    n = len(v)
    if n < 3:
        return {
            "n_epochs": n, "pi": np.zeros(0, np.int64), "pj": np.zeros(0, np.int64),
            "phi": np.zeros(0), "phi_err": np.zeros(0), "phi_corr": np.zeros(0),
            "r": 0.0, "slope": 0.0, "intercept": 0.0, "rmse": 0.0,
            "drift_rms": 0.0, "bias": 0.0, "chi2_s": 0.0, "pval": 1.0,
        }
    A, A_dag, pi, pj, ti, tj, tk, adj, sd = _constants(n)
    ivals = 10.0 * np.log10(v + 1.0)
    d = v[pi] - v[pj]
    phi = np.sign(d) * np.abs(d) ** (1.0 / 3.0)  # signed root, closures.py:27-32
    c = A @ phi  # all C(N,3) closures (closure_inten.py:205-218)
    amp = (ivals[ti] - ivals[tj]) - (ivals[tj] - ivals[tk])

    va = amp.var()
    cov = ((amp - amp.mean()) * (c - c.mean())).mean()
    slope = cov / va if va > 1e-30 else 0.0
    intercept = c.mean() - slope * amp.mean()
    sc = c.std()
    sa = amp.std()
    r = cov / (sa * sc) if sa > 1e-15 and sc > 1e-15 else 0.0
    est = intercept + slope * amp  # eval_systematic_closure (linear form)
    rmse = float(np.sqrt(np.mean((est - c) ** 2)))

    phi_err = A_dag @ est  # least_norm w/ pseudo_inv (closures.py:271-292)
    phi_corr = phi - phi_err  # C o conj(E) real analogue (closure_inten.py:344-345)

    drift = np.cumsum(phi_corr[sd]) - np.cumsum(phi[sd])  # J5 NN drift
    drift_rms = float(np.sqrt(np.mean(drift**2)))
    x = np.arange(len(drift), dtype=np.float64)
    vx = x.var()
    bias = float(((x - x.mean()) * (drift - drift.mean())).mean() / vx) if vx > 0 else 0.0

    # chi2 significance over adjacent triplets (closures.py:130-141)
    c_adj = c[adj]
    e_raw = min_norm_errors(phi, n)
    dof_res = max(len(phi) - (n - 1), 1)
    sigma2 = float(np.sum(e_raw**2)) / dof_res
    if sigma2 > 1e-30 and len(adj):
        A_adj = A[adj]
        cov_c = sigma2 * (A_adj @ A_adj.T)
        s_stat = float(c_adj @ np.linalg.solve(cov_c, c_adj))
    else:
        s_stat = 0.0
    k = (n - 1) * (n - 2) / 2.0  # special.comb(N-1, 2), closures.py:134
    pval = float(chi2_sf(s_stat, k)) if s_stat > 0 else 1.0

    return {
        "n_epochs": n, "pi": pi, "pj": pj, "phi": phi, "phi_err": phi_err,
        "phi_corr": phi_corr, "r": float(r), "slope": float(slope),
        "intercept": float(intercept), "rmse": rmse, "drift_rms": drift_rms,
        "bias": bias, "chi2_s": s_stat, "pval": pval,
    }


@lru_cache(maxsize=64)
def _batch_constants(n: int):
    """Extra per-N constants for the batched kernel: the theta projector
    Tmat (phi @ Tmat = per-epoch theta row-means of the antisymmetric pair
    matrix) and the inverse adjacent-triplet Gram inv(A_adj A_adj^T) — the
    sigma^2-independent core of the chi2 statistic."""
    A, A_dag, pi, pj, ti, tj, tk, adj, sd = _constants(n)
    P = len(pi)
    Tmat = np.zeros((P, n))
    Tmat[np.arange(P), pi] += 1.0 / n
    Tmat[np.arange(P), pj] -= 1.0 / n
    A_adj = A[adj]
    Minv = np.linalg.inv(A_adj @ A_adj.T) if len(adj) else np.zeros((0, 0))
    return Tmat, Minv


def correct_span_batch(series: list[np.ndarray]) -> list[dict]:
    """Vectorized correct_span over many spans: spans sharing a length run
    through batched gemms (PHI @ A^T, EST @ A_dag^T, einsum chi2) instead of
    a per-span Python loop — the same no-per-row-Python discipline as
    `eigen.lagcov_eig_batch` (covsar/library.py:121-128 chunking). Math is
    identical to `correct_span` up to BLAS summation order (pinned to ~1e-9
    in tests/test_closure_correct.py)."""
    out: list[dict | None] = [None] * len(series)
    by_len: dict[int, list[int]] = {}
    for i, s in enumerate(series):
        by_len.setdefault(len(s), []).append(i)
    for n, idxs in by_len.items():
        if n < 3:
            for i in idxs:
                out[i] = correct_span(series[i])
            continue
        A, A_dag, pi, pj, ti, tj, tk, adj, sd = _constants(n)
        Tmat, Minv = _batch_constants(n)
        B = len(idxs)
        V = np.empty((B, n), dtype=np.float64)
        for b, i in enumerate(idxs):
            V[b] = series[i]
        ivals = 10.0 * np.log10(V + 1.0)
        D = V[:, pi] - V[:, pj]
        PHI = np.sign(D) * np.abs(D) ** (1.0 / 3.0)
        C = PHI @ A.T
        AMP = (ivals[:, ti] - ivals[:, tj]) - (ivals[:, tj] - ivals[:, tk])

        am = AMP.mean(axis=1, keepdims=True)
        cm = C.mean(axis=1, keepdims=True)
        va = AMP.var(axis=1)
        cov = ((AMP - am) * (C - cm)).mean(axis=1)
        slope = np.where(va > 1e-30, cov / np.where(va > 1e-30, va, 1.0), 0.0)
        intercept = cm[:, 0] - slope * am[:, 0]
        sa = AMP.std(axis=1)
        sc = C.std(axis=1)
        ok = (sa > 1e-15) & (sc > 1e-15)
        r = np.where(ok, cov / np.where(ok, sa * sc, 1.0), 0.0)
        EST = intercept[:, None] + slope[:, None] * AMP
        rmse = np.sqrt(np.mean((EST - C) ** 2, axis=1))

        PHI_ERR = EST @ A_dag.T
        PHI_CORR = PHI - PHI_ERR

        drift = np.cumsum(PHI_CORR[:, sd], axis=1) - np.cumsum(PHI[:, sd], axis=1)
        drift_rms = np.sqrt(np.mean(drift**2, axis=1))
        x = np.arange(n - 1, dtype=np.float64)
        vx = x.var()
        bias = (
            ((x - x.mean()) * (drift - drift.mean(axis=1, keepdims=True))).mean(axis=1) / vx
            if vx > 0
            else np.zeros(B)
        )

        C_adj = C[:, adj]
        THETA = PHI @ Tmat
        E_RAW = PHI - (THETA[:, pi] - THETA[:, pj])
        dof_res = max(len(pi) - (n - 1), 1)
        sigma2 = (E_RAW**2).sum(axis=1) / dof_res
        quad = np.einsum("bi,ij,bj->b", C_adj, Minv, C_adj) if len(adj) else np.zeros(B)
        s_ok = (sigma2 > 1e-30) & (len(adj) > 0)
        s_stat = np.where(s_ok, quad / np.where(s_ok, sigma2, 1.0), 0.0)
        k = (n - 1) * (n - 2) / 2.0
        pval = np.where(s_stat > 0, chi2_sf(s_stat, k), 1.0)

        for b, i in enumerate(idxs):
            out[i] = {
                "n_epochs": n, "pi": pi, "pj": pj, "phi": PHI[b],
                "phi_err": PHI_ERR[b], "phi_corr": PHI_CORR[b],
                "r": float(r[b]), "slope": float(slope[b]),
                "intercept": float(intercept[b]), "rmse": float(rmse[b]),
                "drift_rms": float(drift_rms[b]), "bias": float(bias[b]),
                "chi2_s": float(s_stat[b]), "pval": float(pval[b]),
            }
    return out  # type: ignore[return-value]


_SPAN_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("span_s", T.LongType(), False),
        T.StructField("n_epochs", T.IntegerType(), False),
        T.StructField("p_i", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("p_j", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("phi", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("phi_err", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("phi_corr", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("r", T.DoubleType(), False),
        T.StructField("slope", T.DoubleType(), False),
        T.StructField("intercept", T.DoubleType(), False),
        T.StructField("rmse", T.DoubleType(), False),
        T.StructField("drift_rms", T.DoubleType(), False),
        T.StructField("bias", T.DoubleType(), False),
        T.StructField("chi2_s", T.DoubleType(), False),
        T.StructField("pval", T.DoubleType(), False),
    ]
)


_ARRAY_COLS = ("p_i", "p_j", "phi", "phi_err", "phi_corr")
_STATS_SCHEMA = T.StructType([f for f in _SPAN_SCHEMA.fields if f.name not in _ARRAY_COLS])


def closure_correct(
    rollup: DataFrame,
    tier: str,
    value_col: str = "token_count",
    max_epochs: int = MAX_EPOCHS,
    emit_pairs: bool = True,
    fill: str | None = None,
) -> DataFrame:
    """Span correction kernel: one span row per (source, eigen-span) with
    fit/drift/chi2 stats (+ pair arrays when ``emit_pairs``), on the
    span-kernel skeleton (operators/spanfill.py: one shuffle, many spans
    per Arrow batch). ``emit_pairs=False`` keeps the P-sized arrays out of
    the Arrow return path when only the stats are consumed (~190 doubles x
    3 per span saved).

    ``fill=None`` corrects each span's OBSERVED epochs (`observed_only`; a
    span with no observed row emits nothing). ``fill="zero"`` corrects the
    span's zero-filled dense grid instead — output-identical to feeding
    `gapfill(rollup, tier, "zero")` here (tests/test_spanfill.py) while only
    observed rows shuffle. Both modes cap each span at ``max_epochs``."""
    if fill not in (None, "zero"):
        raise ValueError(f"only fill=None or 'zero' is kernel-fillable, got {fill!r}")
    schema = _SPAN_SCHEMA if emit_pairs else _STATS_SCHEMA

    def batch_fn(keys, grids, values, observed):
        if fill is None:
            keys, values = observed_only(keys, values, observed)
        results = correct_span_batch([v[:max_epochs] for v in values[0]])
        if emit_pairs:
            rows = [
                (
                    src, sp, res["n_epochs"],
                    np.asarray(res["pi"], np.int32), np.asarray(res["pj"], np.int32),
                    res["phi"], res["phi_err"], res["phi_corr"],
                    res["r"], res["slope"], res["intercept"], res["rmse"],
                    res["drift_rms"], res["bias"], res["chi2_s"], res["pval"],
                )
                for (src, sp), res in zip(keys, results)
            ]
        else:
            rows = [
                (
                    src, sp, res["n_epochs"],
                    res["r"], res["slope"], res["intercept"], res["rmse"],
                    res["drift_rms"], res["bias"], res["chi2_s"], res["pval"],
                )
                for (src, sp), res in zip(keys, results)
            ]
        return pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return dense_span_kernel(rollup, tier, [(value_col, "double", 0.0)], batch_fn, schema)


def corrected_pairs(span_rows: DataFrame) -> DataFrame:
    """Explode span rows to per-pair rows (the corrected coherence entries —
    write_timeseries-shaped sink input, covsar/evd.py:33-61)."""
    z = F.explode(F.arrays_zip("p_i", "p_j", "phi", "phi_err", "phi_corr")).alias("p")
    return span_rows.select("source", "span_s", z).select(
        "source",
        "span_s",
        F.col("p.p_i").alias("i"),
        F.col("p.p_j").alias("j"),
        F.col("p.phi").alias("phi"),
        F.col("p.phi_err").alias("phi_err"),
        F.col("p.phi_corr").alias("phi_corr"),
    )


def span_stats(span_rows: DataFrame) -> DataFrame:
    """Per-span fit + corrected-vs-uncorrected drift + chi2 significance
    (the reference's rs / rsme / bias / pval map outputs)."""
    return span_rows.select(
        "source", "span_s", "n_epochs", "r", "slope", "intercept", "rmse",
        "drift_rms", "bias", "chi2_s", "pval",
    )
