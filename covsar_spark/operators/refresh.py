"""Incremental (dirty-window) refresh of continuous-aggregate tiers.

The reference recomputes every downstream product from scratch whenever new
SLC epochs land — its main loop re-globs the whole stack directory and
rebuilds each interferogram/closure product (covsar/closure_inten.py:68-78,
181-185). Here late-arriving raw rows repair ONLY the tier windows they
touch: the TimescaleDB continuous-aggregate *invalidation* model
re-expressed relationally in Spark, so a 10^12-sequence tier chain absorbs a
trickle of late data without ever rescanning clean history.

Semantics (the invariant every test pins): after
``refresh_tier(tier, raw_all, late, ...)`` the result is row-identical to
rebuilding the tier from ``raw_all`` from scratch — incremental is an
optimization, never an approximation.

Scale notes (100 TB / 1000 executors):
- the dirty set is ``distinct (keys, window)`` of the LATE batch — O(|late|)
  rows after dedup, orders of magnitude smaller than the tier → both the
  tier-side anti-join and the raw-side semi-join broadcast (plan-pinned in
  tests/test_plans.py);
- the raw re-scan is bounded twice: a coarse epoch-range predicate from the
  late batch's own min/max window (pushable to a scan that stores the time
  or day-partition column) AND the exact broadcast semi-join on
  (keys, window) — never a full raw scan;
- the tier merge is anti-join + union: no shuffle of the clean tier rows
  (broadcast anti-join is map-side);
- on disk, ``refresh_tier_table`` rewrites only the dirty days' partitions
  via dynamic partition overwrite — the read side is partition-pruned to the
  same days (the chunk-granularity repair TimescaleDB calls reordering a
  chunk; day layout from sources/tables.py).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TIERS


def _win(col: F.Column, tier_s: int) -> F.Column:
    return (F.floor(col / tier_s) * tier_s).cast("long")


def dirty_windows(
    late: DataFrame, tier_s: int, time_col: str = "epoch_s", keys: Sequence[str] = ("source",)
) -> DataFrame:
    """Distinct (keys, window-start) pairs a late batch invalidates.

    One narrow distinct over the late batch — the invalidation log, tiny by
    contract (late data is the exception, not the stream)."""
    return late.select(
        *[F.col(k) for k in keys], _win(F.col(time_col), tier_s).alias("epoch_s")
    ).distinct()


def refresh_tier(
    tier_df: DataFrame,
    raw_all: DataFrame,
    late: DataFrame,
    tier_s: int,
    rollup_fn: Callable[[DataFrame], DataFrame],
    time_col: str = "epoch_s",
    keys: Sequence[str] = ("source",),
    bound_scan: bool = True,
) -> DataFrame:
    """Repair ``tier_df`` in place of a full rebuild: recompute exactly the
    windows the ``late`` batch touches from ``raw_all`` (which must already
    contain the late rows), keep every other tier row untouched.

    ``rollup_fn`` maps a raw slice to tier rows keyed by (*keys, epoch_s) —
    pass the same builder used for the full tier so incremental == rebuild
    by construction (e.g. ``lambda df: rollup_tokens(df, "1h")``).

    ``bound_scan`` adds the coarse min/max-window range predicate on
    ``time_col`` ahead of the exact semi-join. Deriving the two bounds is
    one 1-row action over the LATE batch only (the refresh trigger payload —
    the same role as AQE runtime statistics; never touches raw or tier).
    Disable when the caller already pruned the raw side (e.g. a day-pruned
    ``read_tier`` slice).
    """
    dirty = dirty_windows(late, tier_s, time_col=time_col, keys=keys)

    raw = raw_all
    if bound_scan:
        lo, hi = late.agg(
            F.min(_win(F.col(time_col), tier_s)), F.max(_win(F.col(time_col), tier_s))
        ).first()
        if lo is None:  # empty late batch — the tier is already correct
            return tier_df
        raw = raw.filter((F.col(time_col) >= lo) & (F.col(time_col) < hi + tier_s))

    # window key under a temp name so the raw time column reaches rollup_fn
    # untouched whatever it is called
    touched = raw.withColumn("_w", _win(F.col(time_col), tier_s))
    sel = touched.join(
        F.broadcast(dirty.withColumnRenamed("epoch_s", "_w")), [*keys, "_w"], "left_semi"
    ).drop("_w")
    recomputed = rollup_fn(sel)

    join_keys = [*keys, "epoch_s"]

    kept = tier_df.join(F.broadcast(dirty), join_keys, "left_anti")
    return kept.unionByName(recomputed)


def refresh_token_tier(
    tier_df: DataFrame, tokens_ts: DataFrame, late_ts: DataFrame, tier: str, salt_buckets: int = 0
) -> DataFrame:
    """Token-table convenience: repair a 1m/1h/1d rollup tier (ROLLUP_SCHEMA)
    after a late tokens batch. ``tokens_ts``/``late_ts`` carry the derived
    ``epoch_s`` (rollup.with_event_time); ``tokens_ts`` includes the late rows."""
    from .rollup import rollup_tokens

    return refresh_tier(
        tier_df,
        tokens_ts,
        late_ts,
        TIERS[tier],
        lambda df: rollup_tokens(df, tier, salt_buckets=salt_buckets),
    )


def refresh_tier_table(
    spark: SparkSession,
    path: str,
    raw_all: DataFrame,
    late: DataFrame,
    tier_s: int,
    rollup_fn: Callable[[DataFrame], DataFrame],
    time_col: str = "epoch_s",
    keys: Sequence[str] = ("source",),
) -> dict:
    """On-disk form: repair a persisted tier table (sources/tables.py layout,
    partitioned by ``day``) rewriting ONLY the dirty days' partitions.

    Dynamic partition overwrite replaces exactly the day directories present
    in the written frame, so the written frame must hold those days WHOLE:
    (existing rows of dirty days, minus dirty windows) ∪ (recomputed dirty
    windows). Clean days are neither read nor written — the read side is
    day-partition-pruned to the dirty days (check PartitionFilters).

    Commit goes through Spark's staged-rename protocol (same crash posture
    as write_tier); like compact_tier, assumes a single writer per tier —
    pause streaming appenders for the dirty days during the swap.

    Returns a lineage/metrics dict {n_dirty_windows, dirty_days, rows_written}
    (plans/checkpoint.py-style side-output).
    """
    from ..sources.tables import utc_day

    days, n_dirty = (
        dirty_windows(late, tier_s, time_col=time_col, keys=keys)
        .agg(F.sort_array(F.collect_set(utc_day("epoch_s"))), F.count(F.lit(1)))
        .first()
    )
    dirty_days = [d.isoformat() for d in days]
    if not dirty_days:
        return {"n_dirty_windows": 0, "dirty_days": [], "rows_written": 0}

    # day-pruned read of ONLY the dirty partitions, repaired by the same
    # merge as the in-memory form
    existing = spark.read.parquet(path).filter(F.col("day").isin(dirty_days))
    merged = refresh_tier(
        existing.drop("day"), raw_all, late, tier_s, rollup_fn, time_col, keys
    ).withColumn("day", utc_day())
    (
        merged.repartition("day", *keys)
        .sortWithinPartitions(*keys, "epoch_s")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )
    rows = spark.read.parquet(path).filter(F.col("day").isin(dirty_days)).count()
    # re-arm the downsample-retention policy for repaired days: the rewrite
    # above restores FULL rollup density to each dirty day, so a stale
    # `_downsample/<day>.json` audit marker would make downsample_tier skip
    # the day forever (sources/tables.py documents this composition)
    from ..sources.tables import _hfs

    jvm, _, fs = _hfs(spark, path)
    cleared = []
    for d in dirty_days:
        marker = jvm.org.apache.hadoop.fs.Path(path, f"_downsample/day={d}.json")
        if fs.exists(marker):
            fs.delete(marker, False)
            cleared.append(f"day={d}")
    return {
        "n_dirty_windows": n_dirty,
        "dirty_days": dirty_days,
        "rows_written": rows,
        "downsample_markers_cleared": cleared,
    }
