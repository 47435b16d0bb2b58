"""Streaming continuous-aggregate maintenance: the 1h tier kept up to date
from the streamed 1m tier (the streaming form of A7 `relook` re-aggregation,
covsar/covariance.py:48-61; SURVEY.md §2.9).

Shape: watermarked append-mode 1m rollup -> `foreachBatch` maintenance:

  1. the finalized 1m windows of each micro-batch land in the 1m tier dir
     partitioned by (epoch_day, batch_id) — a REPLAYED batch overwrites its
     own partitions, so the sink is exactly-once without a transaction log
     (Iceberg/Delta would make this a commit; the layout degrades the same
     way sources/tables.py does). The checkpointLocation is mandatory for
     that claim to survive restarts: without it a resumed stream re-numbers
     batches from 0 and dynamic overwrite would silently clobber prior
     partitions with differently-grouped data.
  2. the batch's affected day partitions of the 1h tier are recomputed FROM
     the day-pruned 1m tier and dynamically overwritten — idempotent window
     re-rollup, the engine's resume primitive (plans/checkpoint.py shares
     the same principle). Day keys are INTEGER UTC days
     (floor(epoch_s/86400)) — no timezone function anywhere, so a session
     timezone with a non-whole-hour offset can never split a UTC hour
     across day partitions and make the overwrite drop rows.

Exactness: the 1h recompute IS operators/rollup.cascade (integral sums), so
the streamed 1h tier must equal a batch cascade over the same finalized 1m
windows bit-for-bit and carries the full ROLLUP_SCHEMA (rate, filled)
(tests/test_streaming.py::test_streaming_cascade_matches_batch).

Scale: per-micro-batch maintenance reads ONLY the touched epoch_day
partitions of the 1m tier (partition pruning on the integer day key), so
the recompute cost is bounded by the watermark horizon — independent of
total retained history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rollup import cascade
from ..schemas import TOKENS_SCHEMA
from .rollup_stream import streaming_rollup
from .runner import file_stream, run_stream


def _epoch_day(col: str = "epoch_s") -> F.Column:
    """Integer UTC day — timezone-free and hour-aligned by construction."""
    return F.floor(F.col(col) / 86400).cast("long")


def cascade_1h_from_1m(m1: DataFrame) -> DataFrame:
    """Exact 1h re-rollup of 1m tier rows: the batch `cascade` operator
    verbatim (relook law; full ROLLUP_SCHEMA including rate + filled), so
    streamed and batch tiers cannot drift."""
    return cascade(m1, "1h")


def run_cascade_stream(
    spark: SparkSession,
    tokens_path: str,
    out_dir: str,
    watermark: str = "10 minutes",
    checkpoint: str | None = None,
) -> tuple[str, str]:
    """Drive the stream over a static dir to completion (test/smoke path);
    returns (tier_1m_dir, tier_1h_dir). The same query runs forever in
    production; ``checkpoint`` defaults to ``<out_dir>/_checkpoint`` so a
    restarted stream resumes offsets AND batch numbering instead of
    re-numbering from 0 over existing batch_id partitions."""
    tier_1m = f"{out_dir}/tier_1m"
    tier_1h = f"{out_dir}/tier_1h"
    m1 = streaming_rollup(file_stream(spark, tokens_path, TOKENS_SCHEMA, max_files=4), "1m", watermark)

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.persist()
        if b.count() == 0:
            b.unpersist()
            return
        sess = b.sparkSession
        try:
            # (1) exactly-once 1m append: the batch owns its (day, batch)
            # partitions; day-first layout makes step (2) prune by day
            (
                b.withColumn("epoch_day", _epoch_day())
                .withColumn("batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch_day", "batch_id")
                .parquet(tier_1m)
            )
            # (2) recompute ONLY the days this batch touched, reading ONLY
            # those day partitions (integer partition key -> pruning), and
            # overwrite exactly those 1h partitions. The collect is a
            # DISTINCT DAY list — bounded by the watermark horizon, never
            # row data.
            days = [r["d"] for r in b.select(_epoch_day().alias("d")).distinct().collect()]
            full_1m = (
                sess.read.parquet(tier_1m)
                .filter(F.col("epoch_day").isin(days))
                .drop("epoch_day", "batch_id")
            )
            (
                cascade_1h_from_1m(full_1m)
                .withColumn("epoch_day", _epoch_day())
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch_day")
                .parquet(tier_1h)
            )
        finally:
            b.unpersist()

    run_stream(m1, "append", checkpoint=checkpoint or f"{out_dir}/_checkpoint", foreach_batch=maintain)
    return tier_1m, tier_1h
