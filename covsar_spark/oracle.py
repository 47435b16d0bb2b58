"""Single-threaded NumPy/pandas oracle engine (the trusted reference for
exact-match tests, BASELINE.json:metric). Implements the same semantics as the
Spark engine — rollup tiers, cascade, gap-fill, eigen spans — in plain pandas,
mirroring how CovSAR itself is an eager single-process NumPy dataflow.

The eigen kernel is the SAME pure function (`operators.eigen.lagcov_eig`), so
the Spark-vs-oracle comparison isolates exactly the distributed plumbing
(grouping, shuffles, ordering, gap-fill); kernel math is validated separately
on planted fixtures (tests/test_eigen_kernel.py).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from .operators.eigen import lagcov_eig
from .schemas import EIGEN_P, EIGEN_SPAN, EPOCH0_UNIX, HORIZON_S, TIERS


def derive_epoch_s(doc_ids) -> np.ndarray:
    return np.array(
        [EPOCH0_UNIX + (zlib.crc32(d.encode()) % HORIZON_S) for d in doc_ids],
        dtype=np.int64,
    )


def tokens_frame(cols: dict) -> pd.DataFrame:
    """datagen columnar dict -> flat pandas frame with event time."""
    return pd.DataFrame(
        {
            "doc_id": cols["doc_id"],
            "n_tok": cols["n_tok"].astype(np.int64),
            "source": cols["source"],
            "epoch_s": derive_epoch_s(cols["doc_id"]),
        }
    )


def rollup(df: pd.DataFrame, tier: str) -> pd.DataFrame:
    tier_s = TIERS[tier]
    g = df.assign(epoch_s=(df["epoch_s"] // tier_s) * tier_s).groupby(
        ["source", "epoch_s"], sort=True
    )
    out = g["n_tok"].agg(token_count="sum", n_docs="count", max_tok="max", min_tok="min")
    out = out.reset_index()
    out["token_count"] = out["token_count"].astype(np.int64)
    out["n_docs"] = out["n_docs"].astype(np.int64)
    out["rate"] = out["token_count"] / float(tier_s)
    out["filled"] = False
    return out


def cascade(finer: pd.DataFrame, to_tier: str) -> pd.DataFrame:
    tier_s = TIERS[to_tier]
    src = finer[~finer["filled"]]
    g = src.assign(epoch_s=(src["epoch_s"] // tier_s) * tier_s).groupby(
        ["source", "epoch_s"], sort=True
    )
    out = g.agg(
        token_count=("token_count", "sum"),
        n_docs=("n_docs", "sum"),
        max_tok=("max_tok", "max"),
        min_tok=("min_tok", "min"),
    ).reset_index()
    out["rate"] = out["token_count"] / float(tier_s)
    out["filled"] = False
    return out


def gapfill(roll: pd.DataFrame, tier: str, policy: str = "zero") -> pd.DataFrame:
    tier_s = TIERS[tier]
    # cross policy: two-way multiplicative stats over OBSERVED rows
    em = roll.groupby("epoch_s")["rate"].mean()
    sm = roll.groupby("source")["rate"].mean()
    gm = float(roll["rate"].mean()) if len(roll) else 0.0
    pieces = []
    for src, g in roll.groupby("source", sort=True):
        lo, hi = g["epoch_s"].min(), g["epoch_s"].max()
        grid = pd.DataFrame({"epoch_s": np.arange(lo, hi + 1, tier_s, dtype=np.int64)})
        m = grid.merge(g, on="epoch_s", how="left")
        m["source"] = src
        m["filled"] = m["token_count"].isna()
        m["token_count"] = m["token_count"].fillna(0).astype(np.int64)
        m["n_docs"] = m["n_docs"].fillna(0).astype(np.int64)
        if policy == "zero":
            m["rate"] = m["rate"].fillna(0.0)
        elif policy == "ffill":
            m["rate"] = m["rate"].ffill().fillna(0.0)
        elif policy == "linear":
            obs = m["rate"].copy()
            interp = obs.interpolate(method="index", limit_direction="both")
            m["rate"] = interp.fillna(0.0)
        elif policy == "cross":
            est = m["epoch_s"].map(em) * sm[src] / gm if gm != 0.0 else pd.Series(np.nan, index=m.index)
            est = est.fillna(sm[src] if not np.isnan(sm[src]) else 0.0)
            m["rate"] = m["rate"].where(~m["filled"], est).fillna(0.0)
        else:
            raise ValueError(policy)
        pieces.append(m)
    out = pd.concat(pieces, ignore_index=True)
    return out[
        ["source", "epoch_s", "token_count", "n_docs", "max_tok", "min_tok", "rate", "filled"]
    ]


def eigen(roll: pd.DataFrame, tier: str, p: int = EIGEN_P, value_col: str = "token_count") -> pd.DataFrame:
    span = EIGEN_SPAN[tier]
    rows = []
    d = roll.assign(span_s=(roll["epoch_s"] // span) * span)
    for (src, sp), g in d.groupby(["source", "span_s"], sort=True):
        g = g.sort_values("epoch_s", kind="mergesort")
        lam, tc, v = lagcov_eig(g[value_col].to_numpy(np.float64), p)
        rows.append((src, sp, len(g), lam, tc, v))
    return pd.DataFrame(
        rows, columns=["source", "span_s", "n_epochs", "lam", "tc", "eig"]
    )


def closure_stats(
    roll: pd.DataFrame, tier: str, max_epochs: int = 20, value_col: str = "token_count"
) -> pd.DataFrame:
    """Single-threaded golden for the closure-correction span stats: the
    SAME pure kernel (`closure_correct.correct_span`) over pandas groups, so
    Spark-vs-oracle comparison isolates the distributed plumbing (grouping,
    ordering, batching)."""
    from .operators.closure_correct import correct_span
    from .schemas import EIGEN_SPAN

    span = EIGEN_SPAN[tier]
    rows = []
    d = roll.assign(span_s=(roll["epoch_s"] // span) * span)
    for (src, sp), g in d.groupby(["source", "span_s"], sort=True):
        g = g.sort_values("epoch_s", kind="mergesort")
        res = correct_span(g[value_col].to_numpy(np.float64)[:max_epochs])
        rows.append(
            (src, sp, res["n_epochs"], res["r"], res["slope"], res["intercept"],
             res["rmse"], res["drift_rms"], res["bias"], res["chi2_s"], res["pval"])
        )
    return pd.DataFrame(
        rows,
        columns=["source", "span_s", "n_epochs", "r", "slope", "intercept",
                 "rmse", "drift_rms", "bias", "chi2_s", "pval"],
    )
