"""Dedicated S9/S10 sinks — the reference's two structured output trees.

S9 `write_timeseries` (covsar/evd.py:33-61): for every CONSECUTIVE epoch
pair, the pair value (there: wrapped phase of ts_i * conj(ts_{i-1})), plus a
temporal-coherence quality layer per pixel. Engine form: per-source
consecutive-pair diffs of the tier rollup (W2 lag window) joined with the
eigen kernel's per-span tc quality, written day-partitioned.

S10 `write_closures` (covsar/closures.py:144-189): per-triplet closure maps
plus the chi-squared p-value map. Engine form: the closure-correction
kernel's span stats (chi2_s, pval — the p-value map) and the full triplet
table, written day-partitioned.

Both sinks write with dynamic partition overwrite: re-running a window
replaces exactly that window's partitions (idempotent resume, the engine's
answer to the reference's destructive clear-and-recreate,
covsar/closure_inten.py:620-625).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _day(col: str = "epoch_s") -> F.Column:
    # integer-UTC day key (see sources/tables.utc_day): timezone-free, so
    # the dynamic-partition overwrite stays idempotent across sessions
    return F.date_from_unix_date(F.floor(F.col(col) / 86400).cast("int"))


def _write_partitioned(df: DataFrame, path: str, part_col: str = "day") -> None:
    (
        df.repartition(part_col, "source")
        .sortWithinPartitions("source", *[c for c in ("epoch_s", "span_s") if c in df.columns])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )


def timeseries_frame(roll: DataFrame, eigen: DataFrame, span: int) -> DataFrame:
    """Consecutive-pair rows + per-span quality: (source, epoch_s, value,
    pair_diff, tc)."""
    w = W.partitionBy("source").orderBy("epoch_s")
    pairs = roll.select(
        "source",
        "epoch_s",
        F.col("token_count").alias("value"),
        (F.col("token_count") - F.lag("token_count").over(w)).alias("pair_diff"),
    ).filter(F.col("pair_diff").isNotNull())
    q = eigen.select("source", "span_s", "tc")
    keyed = pairs.withColumn("span_s", (F.floor(F.col("epoch_s") / span) * span).cast("long"))
    return keyed.join(q, ["source", "span_s"], "left").select(
        "source", "epoch_s", "value", "pair_diff", "tc"
    )


def write_timeseries(roll: DataFrame, eigen: DataFrame, path: str, span: int) -> None:
    """S9 sink: consecutive-pair + quality rows, day-partitioned parquet
    (Iceberg-layout; see sources/tables.py for the jar-gated Iceberg path)."""
    _write_partitioned(timeseries_frame(roll, eigen, span).withColumn("day", _day()), path)


def write_closures(span_stats: DataFrame, triplets: DataFrame, path: str) -> None:
    """S10 sink: two subtrees — `pval/` (the chi-squared significance map per
    span) and `triplets/` (per-triplet closure values), both day-partitioned."""
    pval = span_stats.select(
        "source", "span_s", "n_epochs", "chi2_s", "pval"
    ).withColumn("day", _day("span_s"))
    _write_partitioned(pval, f"{path}/pval")
    tr = triplets.withColumn("day", _day("span_s"))
    _write_partitioned(tr, f"{path}/triplets")
