"""Flagship pipeline composition — the engine's `evd.py` analogue
(covsar/evd.py:84-117: scan -> covariance window agg -> coherence -> eigh ->
quality -> partitioned sink), re-expressed as:

    tokens -> event time -> 1m rollup -> cascade 1h/1d
           -> tier kernel per tier (zero gap-fill + eigen + codec in one
              shuffle)
           -> compressed chunk tables

One raw scan; every tier derives from the previous (continuous aggregates);
the 1m rollup is persisted because three consumers branch from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.rollup import cascade, rollup_tokens, with_event_time
from ..operators.tier_kernel import closure_stats, split_outputs, tier_kernel
from ..schemas import TIERS


def run_tiers(
    tokens: DataFrame,
    with_eigen: bool = True,
    with_chunks: bool = True,
    with_closure: bool = False,
    persist: bool = True,
    horizon_s: int | None = None,
) -> dict[str, dict[str, DataFrame]]:
    """Returns per tier: {"rollup", "fused", "filled", "eigen", "chunks",
    "closure"?}, where "fused" is the tier kernel's span rows.

    The tier kernel (zero gap-fill + eigen + codec in one shuffle,
    operators/tier_kernel.py) is the only path; other fill policies compose
    the public `gapfill` operator with `eigen_rollup` / `compress_rollup`
    directly. The kernel always yields the eigen and chunk tables, so
    ``with_eigen`` and ``with_chunks`` are accepted only as ``True``, for
    callers that still name them."""
    from ..schemas import HORIZON_S

    if not (with_eigen and with_chunks):
        raise ValueError("the tier kernel always yields eigen and chunks")
    ts = with_event_time(tokens, horizon_s or HORIZON_S)
    out: dict[str, dict[str, DataFrame]] = {}
    finer: DataFrame | None = None
    for tier in TIERS:
        roll = rollup_tokens(ts, tier) if finer is None else cascade(finer, tier)
        if persist:
            roll = roll.persist(StorageLevel.MEMORY_AND_DISK)
        k = tier_kernel(roll, tier, closure=with_closure)
        if persist:
            k = k.persist(StorageLevel.MEMORY_AND_DISK)
        d: dict[str, DataFrame] = {"rollup": roll, "fused": k}
        d["filled"], d["eigen"], d["chunks"] = split_outputs(k)
        if with_closure:
            # the defining CovSAR step (per-(source, eigen-span) closure
            # evaluation + fit + least-norm correction + drift/chi2
            # stats) ran inside the kernel on each span's observed
            # series: a filter-and-select over its span rows, no second
            # shuffle or Python pass over the rollup
            d["closure"] = closure_stats(k)
        out[tier] = d
        finer = roll
    return out


def flagship(tokens: DataFrame) -> DataFrame:
    """The 1m tier's per-window rolled-up points + dominant-mode metrics:
    one select over the tier kernel's span rows (the kernel `run_tiers`
    and the benchmark run). `EIGEN_SPAN["1m"]` is one hour, so each span
    row is one hourly window, and its point arrays hold that hour's dense
    filled series; the window sums are taken over those arrays."""
    k = run_tiers(tokens, persist=False)["1m"]["fused"]
    return k.select(
        "source",
        "span_s",
        F.aggregate("p_tok", F.lit(0).cast("long"), lambda a, x: a + x).alias("token_count"),
        F.aggregate("p_docs", F.lit(0).cast("long"), lambda a, x: a + x).alias("n_docs"),
        F.size(F.filter("p_filled", lambda x: x)).cast("long").alias("n_filled"),
        "n_epochs",
        "lam",
        "tc",
        "eig",
    )
