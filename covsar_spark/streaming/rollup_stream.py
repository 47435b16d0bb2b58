"""Structured Streaming form of the tier rollup.

The reference assumes a closed stack (all N epochs present before compute,
covsar/covariance.py:18-22); the streaming engine relaxes that with a
watermark: a tumbling window finalizes (append mode) only after event time
passes window end + allowed lateness — the streaming statement of the same
"window closes, then aggregate" semantics (SURVEY.md §2.9).

At scale this runs continuously against the token-sequence table's append
stream; tiers beyond 1m cascade in the batch path from the streamed 1m tier
(foreachBatch), keeping exactly-once via idempotent window overwrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import EPOCH0_UNIX, HORIZON_S, TIERS, TOKENS_SCHEMA
from .runner import file_stream, run_stream


def streaming_rollup(tokens_stream: DataFrame, tier: str, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window rollup; append-mode finalization."""
    dur = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}[tier]
    with_ts = tokens_stream.withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(EPOCH0_UNIX) + F.pmod(F.crc32(F.col("doc_id").cast("binary")), F.lit(HORIZON_S))
        ),
    )
    agg = (
        with_ts.withWatermark("ts", watermark)
        .groupBy("source", F.window("ts", dur).alias("win"))
        .agg(
            F.sum(F.col("n_tok").cast("long")).alias("token_count"),
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tok").alias("max_tok"),
            F.min("n_tok").alias("min_tok"),
        )
    )
    tier_s = TIERS[tier]
    return agg.select(
        "source",
        F.unix_timestamp(F.col("win.start")).alias("epoch_s"),
        "token_count",
        "n_docs",
        "max_tok",
        "min_tok",
        (F.col("token_count") / F.lit(float(tier_s))).alias("rate"),
        F.lit(False).alias("filled"),
    )


def run_stream_to_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    checkpoint_path: str,
    tier: str,
    watermark: str = "10 minutes",
) -> None:
    """File-sink form: the streamed tier-table writer. The parquet dir this
    produces is ROLLUP_SCHEMA-shaped and is the upstream a deployment points
    `streaming/span_stream.py` at — the composed streamed pipeline
    (tests/test_streaming_span.py::test_composed_stream_pipeline_matches_batch).
    Durable checkpoint: a restart resumes source offsets + window state."""
    run_stream(
        streaming_rollup(file_stream(spark, path, TOKENS_SCHEMA, max_files=4), tier, watermark),
        "append",
        path=out_path,
        checkpoint=checkpoint_path,
    )
