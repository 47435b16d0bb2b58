"""Phase-linking analogue: lag-covariance Gram + dominant eigenvector.

CovSAR's inner loop builds an N x N sample covariance across epochs per pixel
(covsar/covariance.py:27-43) and extracts the per-pixel phase time series as
the dominant eigenvector via batched `numpy.linalg.eigh`
(covsar/library.py:113-146, `eig_decomp`), with the eigenvector gauge fixed by
normalizing to the first element (covsar/library.py:134-138) and a temporal
coherence quality metric (covsar/library.py:160-168, `compute_tc`).

Engine form: per (source, eigen-span) group — the span is the next-coarser
retention tier, so one "stack" = the finer-tier epochs inside one coarser
window — embed the token-count series into a P-lag trajectory matrix, form the
P x P Gram G = X X^T / M, and emit the leading eigenpair. Batched eigh over
(B, P, P) with NO per-row Python, exactly like the reference's chunked eigh
(covsar/library.py:121-128).

Determinism / exact-match (SURVEY.md §7.4): the kernel sorts each group by
epoch canonically before building X (Spark groups arrive unordered, unlike
the reference's glob-sorted file lists, covsar/closure_inten.py:70), so the
float pipeline sees bit-identical inputs regardless of partitioning; the
single-threaded oracle calls the SAME pure function `lagcov_eig` on the same
series, making the comparison sensitive to every piece of Spark plumbing
(grouping, gap-fill, ordering) while kernel math itself is validated
separately on planted-structure fixtures (FIXTURES.md F3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import EIGEN_P, EIGEN_SCHEMA
from .spanbucket import with_span_bucket

_GAUGE_EPS = 1e-12


def lagcov_eig(
    x: np.ndarray, p: int = EIGEN_P, method: str = "evd"
) -> tuple[float, float, np.ndarray]:
    """Pure kernel: series -> (leading eigenvalue, temporal coherence, eigvec).

    ``x`` must be the canonical (time-ordered, gap-filled) float64 series.
    If the series is shorter than ``p`` the lag dimension shrinks to len(x).
    Gauge: first element with |v_i| > eps is made positive (the real-valued
    analogue of the reference's first-element phase normalization).
    tc = lam / trace(G): fraction of series energy in the dominant mode.
    ``method='mle'`` routes the same Gram through the EMI linker instead
    (lam is then the BOTTOM eigenvalue of |C|^-1 ∘ C; tc unchanged).
    """
    if method not in ("evd", "mle"):
        raise ValueError(f"unknown eigen method {method!r} (expected 'evd' or 'mle')")
    x = np.asarray(x, dtype=np.float64)
    p_eff = min(p, len(x))
    if p_eff == 0:
        return 0.0, 0.0, np.zeros(0)
    m = len(x) - p_eff + 1
    # trajectory (Hankel) matrix: X[l, t] = x[t + l]
    X = np.lib.stride_tricks.sliding_window_view(x, m)  # (p_eff, m)
    G = (X @ X.T) / m
    if method == "mle":
        return emi_link(G)
    w, V = np.linalg.eigh(G)
    lam = float(w[-1])
    v = V[:, -1].copy()
    nz = np.nonzero(np.abs(v) > _GAUGE_EPS)[0]
    if nz.size and v[nz[0]] < 0:
        v = -v
    tr = float(np.trace(G))
    tc = lam / tr if tr > _GAUGE_EPS else 0.0
    return lam, tc, v


def lagcov_eig_batch(series: list[np.ndarray], p: int = EIGEN_P, method: str = "evd"):
    """Batched variant: groups whose series share a length run through ONE
    strided-view + batched-gemm + batched-`eigh` call, fully vectorized
    including the gauge fix (covsar/library.py:121-128 pattern, but with no
    per-span Python at all). ``method='mle'`` adds one batched inverse +
    eigh on the same Grams (EMI linker) — still zero per-span Python."""
    if method not in ("evd", "mle"):
        raise ValueError(f"unknown eigen method {method!r} (expected 'evd' or 'mle')")
    out = [None] * len(series)
    by_len: dict[int, list[int]] = {}
    for i, s in enumerate(series):
        by_len.setdefault(len(s), []).append(i)
    for n, idxs in by_len.items():
        p_eff = min(p, n)
        if p_eff == 0:
            for i in idxs:
                out[i] = (0.0, 0.0, np.zeros(0))
            continue
        m = n - p_eff + 1
        B = len(idxs)
        stack = np.empty((B, n), dtype=np.float64)
        for b, i in enumerate(idxs):
            stack[b] = series[i]
        # contiguous copy: the strided-view gemm uses a different BLAS
        # micro-kernel than the contiguous one and breaks bit-equality with
        # the single-span oracle path (exact-match gate, SURVEY.md §7.4)
        Xs = np.ascontiguousarray(
            np.lib.stride_tricks.sliding_window_view(stack, m, axis=1)
        )  # (B, p_eff, m)
        G = Xs @ Xs.transpose(0, 2, 1) / m
        w, V = np.linalg.eigh(G)  # batched
        tr = np.trace(G, axis1=1, axis2=2)  # same summation order as the
        # single-span oracle path (einsum orders differently -> tc bit-drift)
        top = w[:, -1]
        tc = np.where(tr > _GAUGE_EPS, top / np.where(tr > _GAUGE_EPS, tr, 1.0), 0.0)
        if method == "mle":
            lam, vecs = emi_link_batch(G)
        else:
            lam = top
            vecs = V[:, :, -1].copy()
            # vectorized gauge: flip rows whose first |.|>eps element is negative
            big = np.abs(vecs) > _GAUGE_EPS
            has = big.any(axis=1)
            first = np.argmax(big, axis=1)
            signs = vecs[np.arange(B), first]
            flip = has & (signs < 0)
            vecs[flip] *= -1.0
        for b, i in enumerate(idxs):
            out[i] = (float(lam[b]), float(tc[b]), vecs[b])
    return out


def emi_link(G: np.ndarray, ridge: float = 0.0) -> tuple[float, float, np.ndarray]:
    """MLE phase linking (EMI), real-valued graft — the reference's third
    linker variant beside EVD and NN (dispatched at
    covsar/closure_inten.py:502-520 as EIG|MLE|NN; covsar/pl/mle.py:1 is an
    empty stub delegating to the external `greg.EMI` package, so this follows
    the published algorithm: Ansari, De Zan & Parizzi, "Efficient Phase
    Estimation for Interferogram Stacks", IEEE TGRS 2018 — public knowledge).

    ``ridge`` shrinks the magnitude matrix toward identity before inversion
    ((1-r)|C| + rI) — the usual plug-in-estimate regularization: pure EMI
    (ridge=0) is MLE-optimal in the low-coherence regime it was built for,
    but inv(|C|) amplifies estimation noise when coherence is high.

    EMI estimates the linked phase as the eigenvector of the SMALLEST
    eigenvalue of (|Gamma|^-1 ∘ Gamma), weighting each pair by its coherence
    magnitude. Real graft: normalize the Gram to a correlation matrix C, take
    A = |C| (coherence magnitudes), solve eigh(inv(A) * C) and keep the
    bottom eigenpair. Quality = P / (lam_min * trace-normalized spread): we
    report lam_min directly (1.0 at perfect coherence, growing with
    inconsistency) plus the same tc energy metric as EVD for comparability.
    Gauge matches `lagcov_eig`: first |v_i| > eps element made positive.
    """
    P = G.shape[0]
    if P == 0:
        return 0.0, 0.0, np.zeros(0)
    d = np.sqrt(np.diag(G))
    d = np.where(d > _GAUGE_EPS, d, 1.0)
    C = G / np.outer(d, d)
    A = np.abs(C)
    if ridge:
        A = (1.0 - ridge) * A + ridge * np.eye(P)
    try:
        Ainv = np.linalg.inv(A)
    except np.linalg.LinAlgError:
        Ainv = np.linalg.pinv(A)
    w, V = np.linalg.eigh(Ainv * C)
    lam = float(w[0])
    v = V[:, 0].copy()
    nz = np.nonzero(np.abs(v) > _GAUGE_EPS)[0]
    if nz.size and v[nz[0]] < 0:
        v = -v
    wG, _ = np.linalg.eigh(G)
    tr = float(np.trace(G))
    tc = float(wG[-1]) / tr if tr > _GAUGE_EPS else 0.0
    return lam, tc, v


def emi_link_batch(G: np.ndarray, ridge: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """Batched EMI over a (B, P, P) Gram stack: one batched inverse + one
    batched eigh — the same no-per-row-Python discipline as
    `lagcov_eig_batch`. Returns (lam_min (B,), eigvecs (B, P)) with the
    vectorized gauge fix."""
    B, P, _ = G.shape
    d = np.sqrt(np.einsum("bii->bi", G))
    d = np.where(d > _GAUGE_EPS, d, 1.0)
    C = G / (d[:, :, None] * d[:, None, :])
    A = np.abs(C)
    if ridge:
        A = (1.0 - ridge) * A + ridge * np.eye(P)
    try:
        Ainv = np.linalg.inv(A)  # batched
    except np.linalg.LinAlgError:
        # invert per matrix so non-singular members keep the exact inv()
        # result (batch==single consistency); pinv only for the singular ones
        def _inv1(a: np.ndarray) -> np.ndarray:
            try:
                return np.linalg.inv(a)
            except np.linalg.LinAlgError:
                return np.linalg.pinv(a)

        Ainv = np.stack([_inv1(a) for a in A])
    w, V = np.linalg.eigh(Ainv * C)
    lam = w[:, 0]
    vecs = V[:, :, 0].copy()
    big = np.abs(vecs) > _GAUGE_EPS
    has = big.any(axis=1)
    first = np.argmax(big, axis=1)
    signs = vecs[np.arange(B), first]
    vecs[has & (signs < 0)] *= -1.0
    return lam, vecs


def eigen_rollup(
    rollup: DataFrame,
    tier: str,
    p: int = EIGEN_P,
    value_col: str = "token_count",
    spans_per_bucket: int = 64,
    method: str = "evd",
    fill: str | None = None,
) -> DataFrame:
    """Per-(source, eigen-span) linked eigenpair of the lag-cov Gram.

    ``fill="zero"``: zero-fill the dense grid INSIDE the kernel from the
    raw rollup (operators/spanfill) — output-identical to passing
    `gapfill(rollup, tier, "zero")` (tests/test_spanfill.py) with only
    observed rows shuffled.

    ``method`` mirrors the reference's EIG|MLE|NN dispatch
    (covsar/closure_inten.py:502-520): 'evd' = dominant eigenvector of G
    (covsar/library.py:113-146); 'mle' = EMI — bottom eigenvector of
    |C|^-1 ∘ C (see `emi_link`); the NN form lives in
    windowfns.phase_cumprod. Same grouped batch either way — MLE adds one
    batched inverse + eigh, no extra shuffle.

    Input: a (preferably gap-filled) tier rollup. One shuffle, hashed on
    (source, span-bucket): grouping per individual span would mean one Arrow
    round-trip per tiny group, so ``spans_per_bucket`` CONSECUTIVE spans
    share a bucket — each Python-side frame carries many spans of one source
    and the kernel runs ONE batched eigh per series length. Group size is
    bounded by construction (spans_per_bucket x span/tier rows ≈ 3.8k for
    1m) INDEPENDENT of retention horizon, and the bucket COUNT grows with
    the data instead (round-3 verdict: a fixed modulo-32 bucketing grew
    ~160k-row groups at a 10-year horizon and produced 32x tiny groups for
    short sources).
    """
    if method not in ("evd", "mle"):
        raise ValueError(f"method must be 'evd' or 'mle', got {method!r}")

    def rows_from(keys, series) -> pd.DataFrame:
        res = lagcov_eig_batch(series, p, method)
        return pd.DataFrame(
            {
                "source": [k[0] for k in keys],
                "span_s": [k[1] for k in keys],
                "n_epochs": [k[2] for k in keys],
                "lam": [r[0] for r in res],
                "tc": [r[1] for r in res],
                "eig": [r[2] for r in res],
            }
        )

    if fill is not None:
        from .spanfill import dense_span_kernel

        def batch_fn(keys, grids, values, observed):
            return rows_from([(s, sp, len(g)) for (s, sp), g in zip(keys, grids)], values[0])

        return dense_span_kernel(
            rollup, tier, [(value_col, "double", 0.0)], batch_fn, EIGEN_SCHEMA, fill=fill
        )

    with_span = with_span_bucket(
        rollup, tier, spans_per_bucket, F.col(value_col).cast("double").alias("val")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # one pandas frame may hold MANY (source, span) groups when keys are
        # co-partitioned; groupby locally and run one batched eigh per length
        keys, series = [], []
        for (src, sp), g in pdf.groupby(["source", "span_s"], sort=True):
            g = g.sort_values("epoch_s", kind="mergesort")
            keys.append((src, sp, len(g)))
            series.append(g["val"].to_numpy(np.float64))
        return rows_from(keys, series)

    return with_span.groupBy("source", "_bkt").applyInPandas(kernel, EIGEN_SCHEMA)


# ---------------------------------------------------------------------------
# Complex-valued phase linking — the reference's actual domain
# (covsar/library.py:113-146 eig_decomp on complex coherence). The real graft
# above covers the BASELINE payload; this extension runs the same kernel on
# unit-phasor series carried as (re, im) column pairs (SURVEY.md §1.2:
# "complex support is an extension").
# ---------------------------------------------------------------------------


def lagcov_eig_complex(z: np.ndarray, p: int = EIGEN_P) -> tuple[float, float, np.ndarray]:
    """Complex series -> (leading eigenvalue, tc, complex eigvec).

    Hermitian lag Gram G = X X^H / m over the complex trajectory matrix;
    gauge matches the reference exactly (covsar/library.py:134-138): rotate
    by conj(v0/|v0|) so the first element is real-positive.

    Defined as the batch-of-1 of `lagcov_eig_complex_batch` so single and
    grouped paths are bit-identical by construction (the 2-D and batched
    zgemm forms differ in the last ulp, unlike the real dgemm path); the
    kernel MATH is pinned independently by the exact rank-1 phasor recovery
    test, not by single-vs-batch redundancy."""
    return lagcov_eig_complex_batch([np.asarray(z, dtype=np.complex128)], p)[0]


def lagcov_eig_complex_batch(series: list[np.ndarray], p: int = EIGEN_P):
    """Batched complex variant: same by-length batching as the real kernel —
    one batched complex gemm + batched eigh per length group, vectorized
    reference gauge."""
    out = [None] * len(series)
    by_len: dict[int, list[int]] = {}
    for i, s in enumerate(series):
        by_len.setdefault(len(s), []).append(i)
    for n, idxs in by_len.items():
        p_eff = min(p, n)
        if p_eff == 0:
            for i in idxs:
                out[i] = (0.0, 0.0, np.zeros(0, dtype=np.complex128))
            continue
        m = n - p_eff + 1
        B = len(idxs)
        stack = np.empty((B, n), dtype=np.complex128)
        for b, i in enumerate(idxs):
            stack[b] = series[i]
        Xs = np.ascontiguousarray(
            np.lib.stride_tricks.sliding_window_view(stack, m, axis=1)
        )  # (B, p_eff, m)
        G = Xs @ Xs.conj().transpose(0, 2, 1) / m
        w, V = np.linalg.eigh(G)
        lam = w[:, -1]
        vecs = V[:, :, -1].copy()
        tr = np.trace(G, axis1=1, axis2=2).real
        v0 = vecs[:, 0]
        scale = np.abs(v0)
        rot = np.where(scale > _GAUGE_EPS, v0 / np.where(scale > _GAUGE_EPS, scale, 1.0), 1.0)
        vecs *= np.conj(rot)[:, None]
        tc = np.where(tr > _GAUGE_EPS, lam / np.where(tr > _GAUGE_EPS, tr, 1.0), 0.0)
        for b, i in enumerate(idxs):
            out[i] = (float(lam[b]), float(tc[b]), vecs[b])
    return out


EIGEN_COMPLEX_SCHEMA = (
    "source string, span_s long, n_epochs int, lam double, tc double, "
    "eig_re array<double>, eig_im array<double>"
)


def eigen_complex_rollup(
    rollup: DataFrame,
    tier: str,
    p: int = EIGEN_P,
    re_col: str = "re",
    im_col: str = "im",
    spans_per_bucket: int = 64,
) -> DataFrame:
    """Per-(source, span) complex phase linking over (re, im) columns — the
    same single-shuffle span-bucketed plan as the real `eigen_rollup`."""
    with_span = with_span_bucket(
        rollup, tier, spans_per_bucket,
        F.col(re_col).cast("double").alias("re"),
        F.col(im_col).cast("double").alias("im"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        keys, series = [], []
        for (src, sp), g in pdf.groupby(["source", "span_s"], sort=True):
            g = g.sort_values("epoch_s", kind="mergesort")
            keys.append((src, sp, len(g)))
            series.append(
                g["re"].to_numpy(np.float64) + 1j * g["im"].to_numpy(np.float64)
            )
        res = lagcov_eig_complex_batch(series, p)
        return pd.DataFrame(
            {
                "source": [k[0] for k in keys],
                "span_s": [k[1] for k in keys],
                "n_epochs": [k[2] for k in keys],
                "lam": [r[0] for r in res],
                "tc": [r[1] for r in res],
                "eig_re": [r[2].real.copy() for r in res],
                "eig_im": [r[2].imag.copy() for r in res],
            }
        )

    return with_span.groupBy("source", "_bkt").applyInPandas(kernel, EIGEN_COMPLEX_SCHEMA)
