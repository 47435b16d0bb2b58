"""Structured Streaming form of the sketch register tier.

The HLL register table (operators/sketches.py) is a plain max-aggregate
over (window, register), so it streams under the same watermarked
tumbling-window semantics as the rollup tier (SURVEY.md §2.9): a window's
registers finalize in append mode once event time passes window end +
allowed lateness, and land in a parquet register tier through Spark's
file sink — whose commit manifest makes the append exactly-once across
restarts (the checkpoint carries both source offsets and sink epochs, so
a restarted stream neither re-reads nor re-emits).

At scale this is the continuous form of "distinct sequences per window":
the streamed tier holds ≤256 rows per finalized window regardless of raw
volume, and any coarser tier (daily, weekly) merges it with the same
per-register MAX the batch cascade uses — no raw replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import _spark_hash40, hll_rank_sql, hll_reg_sql

_DUR = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def streaming_hll_registers(
    events_stream: DataFrame,
    key: str = "user_id",
    tier: str = "1h",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window HLL register aggregation (append-mode
    finalization): one row per (window, register) with the max rank."""
    h = _spark_hash40(key)
    keyed = events_stream.selectExpr(
        "ts",
        f"{hll_reg_sql(h)} AS reg",
        f"CAST({hll_rank_sql(h)} AS INT) AS rank",
    )
    agg = (
        keyed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", _DUR[tier]).alias("win"), "reg")
        .agg(F.max("rank").alias("m_rank"))
    )
    return agg.select(
        F.unix_timestamp(F.col("win.start")).alias("epoch_s"), "reg", "m_rank"
    )


def streaming_cms_matrix(
    events_stream: DataFrame,
    key: str = "user_id",
    tier: str = "1h",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window Count-Min matrix aggregation (append-
    mode finalization): one row per (window, j, bucket) with the cell
    count. SUM-mergeable downstream exactly like the batch cascade
    (operators/sketches.cms_daily_estimates) — the streamed tier holds
    ≤ d·w rows per finalized window regardless of raw volume."""
    from ..operators.sketches import CMS_D, cms_bucket_sql, _spark_hash40_salted

    legs = ", ".join(
        f"{j}, CAST({cms_bucket_sql(_spark_hash40_salted(j, key))} AS INT)"
        for j in range(CMS_D)
    )
    keyed = events_stream.selectExpr("ts", f"stack({CMS_D}, {legs}) AS (j, bucket)")
    agg = (
        keyed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", _DUR[tier]).alias("win"), "j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return agg.select(
        F.unix_timestamp(F.col("win.start")).alias("epoch_s"), "j", "bucket", "cnt"
    )
