"""Flagship pipeline composition — the engine's `evd.py` analogue
(covsar/evd.py:84-117: scan -> covariance window agg -> coherence -> eigh ->
quality -> partitioned sink), re-expressed as:

    tokens -> event time -> 1m rollup -> cascade 1h/1d
           -> gap-fill (zero) -> eigen kernel per tier
           -> compressed chunk tables

One raw scan; every tier derives from the previous (continuous aggregates);
the 1m rollup is persisted because three consumers branch from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.compress import compress_rollup
from ..operators.eigen import eigen_rollup
from ..operators.gapfill import gapfill
from ..operators.rollup import cascade, rollup_tokens, with_event_time
from ..schemas import TIERS


def run_tiers(
    tokens: DataFrame,
    policy: str = "zero",
    with_eigen: bool = True,
    with_chunks: bool = False,
    with_filled: bool = True,
    with_closure: bool = False,
    persist: bool = True,
    persist_fused: bool = True,
    horizon_s: int | None = None,
) -> dict[str, dict[str, DataFrame]]:
    """Returns per tier: {"rollup", "filled", "eigen"?, "chunks"?, "closure"?}."""
    from ..schemas import HORIZON_S

    ts = with_event_time(tokens, horizon_s or HORIZON_S)
    out: dict[str, dict[str, DataFrame]] = {}
    finer: DataFrame | None = None
    for tier in TIERS:
        roll = rollup_tokens(ts, tier) if finer is None else cascade(finer, tier)
        if persist:
            roll = roll.persist(StorageLevel.MEMORY_AND_DISK)
        d: dict[str, DataFrame] = {"rollup": roll}
        if policy == "zero" and with_eigen and with_chunks:
            # single-shuffle fast path: gap-fill + eigen + codec in one
            # kernel pass (operators/tier_kernel.py); bit-identical to the
            # relational path (tests/test_tier_kernel.py)
            from ..operators.tier_kernel import closure_stats, split_outputs, tier_kernel

            k = tier_kernel(roll, tier, emit_points=with_filled, closure=with_closure)
            if persist and persist_fused:
                # only when several outputs are materialized separately —
                # a single consumer (e.g. chunk write) should stream through
                k = k.persist(StorageLevel.MEMORY_AND_DISK)
            d["fused"] = k
            if with_filled:
                d["filled"], d["eigen"], d["chunks"] = split_outputs(k)
            else:
                d["eigen"] = k.select("source", "span_s", "n_epochs", "lam", "tc", "eig")
                d["chunks"] = k.select("source", "span_s", "n_points", "ts_blob", "val_blob")
            if with_closure:
                # the defining CovSAR step (per-(source, eigen-span) closure
                # evaluation + fit + least-norm correction + drift/chi2
                # stats) ran inside the kernel on each span's observed
                # series: a filter-and-select over its span rows, no second
                # shuffle or Python pass over the rollup
                d["closure"] = closure_stats(k)
        else:
            filled = gapfill(roll, tier, policy)
            if persist:
                # multiple consumers branch from the gap-filled tier —
                # without this the grid join + fill windows re-execute each
                filled = filled.persist(StorageLevel.MEMORY_AND_DISK)
            d["filled"] = filled
            if with_eigen:
                d["eigen"] = eigen_rollup(filled, tier)
            if with_chunks:
                d["chunks"] = compress_rollup(filled, tier)
            if with_closure:
                # the grouped closure operator (operators/closure_correct.py)
                # off the same persisted rollup
                from ..operators.closure_correct import closure_correct, span_stats

                d["closure"] = span_stats(closure_correct(roll, tier, emit_pairs=False))
        out[tier] = d
        finer = roll
    return out


def flagship(tokens: DataFrame) -> DataFrame:
    """One DataFrame joining the 1m rollup quality summary with its eigen
    kernel output — the per-window rolled-up points + dominant-mode metrics.

    The persist below is load-bearing: BOTH branches (hourly summary and
    the eigen kernel) read the gap-filled 1m tier, so without it the
    calendar-grid join + fill would execute twice in `entry()`'s plan
    (InMemoryRelation reuse instead; verified in
    tests/test_plans.py::test_flagship_reuses_filled_tier). ONLY the shared
    filled tier is cached — run_tiers(persist=True) would also pin the
    pre-fill rollup (a single-consumer plan here) into executor storage
    with zero reuse.

    Cache lifetime is owned by the CALLER: the returned DataFrame's plan
    references the persisted filled tier, so flagship() cannot unpersist
    before the caller's action runs. Long-lived sessions issuing repeated
    flagship() calls should `spark.catalog.clearCache()` (or unpersist via
    the plan's InMemoryRelation) between calls to avoid accumulating pinned
    tiers in executor storage."""
    from pyspark.storagelevel import StorageLevel

    tiers = run_tiers(tokens, with_eigen=True, persist=False)
    filled = tiers["1m"]["filled"].persist(StorageLevel.MEMORY_AND_DISK)
    eig = tiers["1m"]["eigen"]
    hourly = filled.groupBy(
        "source", (F.floor(F.col("epoch_s") / 3600) * 3600).cast("long").alias("span_s")
    ).agg(
        F.sum("token_count").alias("token_count"),
        F.sum("n_docs").alias("n_docs"),
        F.sum(F.col("filled").cast("long")).alias("n_filled"),
    )
    return hourly.join(eig, ["source", "span_s"], "inner").select(
        "source",
        "span_s",
        "token_count",
        "n_docs",
        "n_filled",
        "n_epochs",
        "lam",
        "tc",
        "eig",
    )
