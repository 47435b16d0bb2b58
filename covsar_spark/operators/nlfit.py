"""Nonlinear closure-model fit — the reference's continuous phase-vs-
intensity estimator beyond the kappa GRID search.

Reference workflow (covsar/regression/nl_phase.py:73-86 `estimate_s`):
  1. coarse grid search: s over linspace(s0-rnge, s0+rnge, N), minimizing
     the L1 norm of the wrapped residual
         r(s) = angle(exp(1j*s*x) * conj(phases))      (nl_phase.py:21-35)
  2. Gauss-Newton refinement with the linearized jacobian J = x
     (nl_phase.py:14-18 `jacobian2`, 56-69 `grad_descent`):
         m <- m - (J^T r)/(J^T J),  stop when |(m - m_prev)/m| < 1e-3.

Engine graft (same data model as closure_correct.py): one "pixel" = one
(source, span); observations are the span's C(P,2) epoch pairs with
  x_ij   = I_i - I_j,  I_t = 10*log10(v_t + 1)   (intensity difference, dB)
  ph_ij  = exp(1j * cbrt(v_i - v_j))             (the engine's signed-root
           pair phase, wrapped onto the unit circle)
and the kernel estimates the scalar coupling s per span.

Scale shape: identical to eigen_rollup — the span-kernel skeleton
(operators/spanfill.py), ONE shuffle, each Arrow batch carries many spans,
and all spans of one pair-count run through a single fully-vectorized grid
+ masked Gauss-Newton pass (no per-span Python once batched). Grid cost is
O(B x P x N) elementwise; GN iterations update only not-yet-converged rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .spanfill import dense_span_kernel

_EPS = 1e-12


def nl_fit_stack(
    PH: np.ndarray,
    X: np.ndarray,
    s0: float = 0.0,
    rnge: float = 2.0,
    grid_n: int = 5,
    maxi: int = 50,
    tol: float = 1e-3,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized estimate_s over a (B, P) stack of complex phases PH and
    real regressors X. Returns (s_grid, s_fit, n_iter, resid_l1) each (B,).

    Matches the reference per-series loop exactly — including the iteration
    count convention: grad_descent (nl_phase.py:57-71) returns the 0-based
    loop index at convergence (= GN updates performed - 1) and ``maxi`` when
    the loop exhausts, so converged rows here report updates-1 while
    non-converged rows report maxi. A converged row stops updating, so
    batch results equal the one-at-a-time run by construction. Rows with
    J^T J ~ 0 (constant intensity) keep the grid argmin and report 0
    iterations.
    """
    B, P = PH.shape
    grid = np.linspace(s0 - rnge, s0 + rnge, grid_n)
    l1 = np.empty((B, grid_n))
    conj = np.conj(PH)
    for gi, s in enumerate(grid):  # grid_n is tiny (5); inner work vectorized
        r = np.angle(np.exp(1j * s * X) * conj)
        l1[:, gi] = np.abs(r).sum(axis=1)
    s_grid = grid[np.argmin(l1, axis=1)]

    xx = np.einsum("bp,bp->b", X, X)
    fittable = xx > _EPS
    m = s_grid.copy()
    n_iter = np.zeros(B, dtype=np.int64)
    active = fittable.copy()
    for _ in range(maxi):
        if not active.any():
            break
        r = np.angle(np.exp(1j * m[:, None] * X) * conj)
        step = np.einsum("bp,bp->b", X, r) / np.where(xx > _EPS, xx, 1.0)
        m_new = np.where(active, m - step, m)
        moved = active & (np.abs(m_new) > _EPS)
        rel = np.abs(np.where(moved, (m_new - m) / np.where(np.abs(m_new) > _EPS, m_new, 1.0), np.inf))
        n_iter = np.where(active, n_iter + 1, n_iter)
        m = m_new
        active = active & ~(moved & (rel < tol))
    # reference convention: grad_descent returns the 0-based loop index at
    # convergence, i.e. updates-1; non-converged rows return maxi (= updates)
    converged = fittable & ~active
    n_iter = np.where(converged, n_iter - 1, n_iter)
    r_final = np.angle(np.exp(1j * m[:, None] * X) * conj)
    resid_l1 = np.abs(r_final).sum(axis=1)
    return s_grid, m, n_iter, resid_l1


def nl_phase_fit(
    phases: np.ndarray, x: np.ndarray, **kw
) -> tuple[float, float, int, float]:
    """Single-series form: batch-of-1 of `nl_fit_stack` (bit-identical)."""
    sg, sf, ni, rl = nl_fit_stack(
        np.asarray(phases, dtype=np.complex128)[None, :],
        np.asarray(x, dtype=np.float64)[None, :],
        **kw,
    )
    return float(sg[0]), float(sf[0]), int(ni[0]), float(rl[0])


NLFIT_SCHEMA = (
    "source string, span_s long, n_epochs long, n_pairs long, "
    "s_grid double, s_fit double, n_iter long, resid_l1 double"
)


def nlfit_rollup(
    rollup: DataFrame,
    tier: str,
    value_col: str = "token_count",
    max_epochs: int = 12,
) -> DataFrame:
    """Per-(source, eigen-span) nonlinear fit of the pair-phase model.

    Same span-kernel skeleton as eigen_rollup: each span's dense grid is
    zero-filled INSIDE the kernel from a raw or gap-filled rollup
    (output-identical to fitting `gapfill(rollup, tier, "zero")`; on a
    gap-filled tier the fill changes nothing, tests/test_spanfill.py). Spans
    are re-grouped by epoch count so every distinct pair count runs ONE
    vectorized grid + Gauss-Newton pass, and are capped at ``max_epochs``
    epochs (C(12,2)=66 pairs) exactly like the reference's per-pixel stack
    cap.
    """

    def batch_fn(keys, grids, values, observed):
        return _nlfit_rows(keys, [v[:max_epochs] for v in values[0]])

    return dense_span_kernel(rollup, tier, [(value_col, "double", 0.0)], batch_fn, NLFIT_SCHEMA)


def _nlfit_rows(keys, series) -> pd.DataFrame:
    """nlfit rows from per-span series: one vectorized grid + Gauss-Newton
    pass per distinct epoch count."""
    out = {
        "source": [], "span_s": [], "n_epochs": [], "n_pairs": [],
        "s_grid": [], "s_fit": [], "n_iter": [], "resid_l1": [],
    }
    by_len: dict[int, list[int]] = {}
    for i, s in enumerate(series):
        by_len.setdefault(len(s), []).append(i)
    for n, idxs in by_len.items():
        if n < 2:
            for i in idxs:
                out["source"].append(keys[i][0])
                out["span_s"].append(keys[i][1])
                out["n_epochs"].append(n)
                out["n_pairs"].append(0)
                out["s_grid"].append(None)
                out["s_fit"].append(None)
                out["n_iter"].append(0)
                out["resid_l1"].append(None)
            continue
        V = np.stack([series[i] for i in idxs])  # (B, n)
        ii, jj = np.triu_indices(n, 1)
        X = 10.0 * (np.log10(V[:, ii] + 1.0) - np.log10(V[:, jj] + 1.0))
        PH = np.exp(1j * np.cbrt(V[:, ii] - V[:, jj]))
        sg, sf, ni, rl = nl_fit_stack(PH, X)
        for b, i in enumerate(idxs):
            out["source"].append(keys[i][0])
            out["span_s"].append(keys[i][1])
            out["n_epochs"].append(n)
            out["n_pairs"].append(len(ii))
            out["s_grid"].append(float(sg[b]))
            out["s_fit"].append(float(sf[b]))
            out["n_iter"].append(int(ni[b]))
            out["resid_l1"].append(float(rl[b]))
    return pd.DataFrame(out)
