"""Streaming exact deduplication — the §2.9 form of `dedup.exact_dedup`.

A training-data ingest stream must drop duplicate documents as they arrive,
with BOUNDED state: keyed state on the content hash, evicted once the
watermark passes (`dropDuplicatesWithinWatermark`, the state-TTL primitive
Structured Streaming provides for exactly this). The batch operator
(operators/dedup.py:50) is the replay/backfill form; this is the
continuous-maintenance form, mirroring how the streaming 1m rollup pairs
with the batch rollup.

At scale: state is hash-partitioned on the content hash across executors;
the watermark caps state size at (arrival rate x lateness horizon) instead
of the full corpus — the reason this beats a naive `dropDuplicates` with no
watermark, whose state grows unboundedly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import EPOCH0_UNIX, HORIZON_S


def streaming_exact_dedup(docs_stream: DataFrame, watermark: str = "365 days") -> DataFrame:
    """First-seen document per content hash, duplicate-free within the
    watermark horizon. Event time derives deterministically from doc_id
    (same convention as the streaming rollup) so a static-dir replay is
    reproducible."""
    with_h = docs_stream.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("h"),
        F.timestamp_seconds(
            F.lit(EPOCH0_UNIX)
            + F.pmod(F.crc32(F.col("doc_id").cast("string").cast("binary")), F.lit(HORIZON_S))
        ).alias("ts"),
    )
    return with_h.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["h"])
