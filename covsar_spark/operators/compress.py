"""Compressed tier persistence: pack each (source, span) chunk of rollup
points into Gorilla XOR + delta-of-delta blobs (the engine's analogue of the
reference's binary raster sink, covsar/isceio.py:13-35).

The heavy path is the encoder, reached through ONE `applyInPandas` per chunk
group: timestamps/values are collected per (source, span), canonically
ordered, and bit-packed by the vectorized numpy codecs. Decode (`read_chunks`)
is the cold path, used for verification and point reads.

Scale notes: chunk size = span/tier points (60 or 24); blobs land in a
partitioned table keyed (source, span) — at 100 TB this is the retention
store, orders of magnitude smaller than raw, and pruning on (source, span)
ranges is partition pruning on the sink table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import CHUNK_SCHEMA
from .spanbucket import with_span_bucket
from .codecs import decode_dod_many, decode_xor_many, encode_dod_many, encode_xor_many


def compress_rollup(
    rollup: DataFrame, tier: str, value_col: str = "rate", spans_per_bucket: int = 64,
    fill: str | None = None,
) -> DataFrame:
    """tier rollup -> one compressed chunk row per (source, eigen-span).

    Grouped by (source, span-bucket), NOT per span: one Arrow round-trip
    carries many spans; the kernel splits locally (same shape as the eigen
    kernel — per-span groups are too small to amortize UDF overhead).

    ``fill="zero"``: zero-fill the dense grid INSIDE the kernel from the
    raw rollup (operators/spanfill) — output-identical to compressing
    `gapfill(rollup, tier, "zero")` (tests/test_spanfill.py) with only
    observed rows shuffled; the dense timestamps are manufactured at the
    encoder, which is also where they compress best.
    """
    if fill is not None:
        from .spanfill import dense_span_kernel

        def batch_fn(keys, grids, values, observed):
            return pd.DataFrame(
                {
                    "source": [k[0] for k in keys],
                    "span_s": [k[1] for k in keys],
                    "n_points": [len(g) for g in grids],
                    "ts_blob": encode_dod_many(grids),
                    "val_blob": encode_xor_many(values[0]),
                },
                columns=["source", "span_s", "n_points", "ts_blob", "val_blob"],
            )

        return dense_span_kernel(
            rollup, tier, [(value_col, "double", 0.0)], batch_fn, CHUNK_SCHEMA, fill=fill
        )

    with_span = with_span_bucket(
        rollup, tier, spans_per_bucket, F.col(value_col).cast("double").alias("val")
    )

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        # segmented batch encoders (codecs.encode_*_many): every span of the
        # Arrow batch is bit-packed in one vectorized pass — byte-identical
        # to per-span encode_dod/encode_xor (guide §4.2: the per-span loop
        # paid ~50us of numpy dispatch per span; the tier kernel already
        # encoded this way, compress_rollup had missed it)
        keys, ts_list, val_list = [], [], []
        for (src, sp), g in pdf.groupby(["source", "span_s"], sort=True, observed=True):
            g = g.sort_values("epoch_s", kind="mergesort")
            keys.append((src, sp, len(g)))
            ts_list.append(g["epoch_s"].to_numpy(np.int64))
            val_list.append(g["val"].to_numpy(np.float64))
        ts_blobs = encode_dod_many(ts_list)
        val_blobs = encode_xor_many(val_list)
        return pd.DataFrame(
            {
                "source": [k[0] for k in keys],
                "span_s": [k[1] for k in keys],
                "n_points": [k[2] for k in keys],
                "ts_blob": ts_blobs,
                "val_blob": val_blobs,
            },
            columns=["source", "span_s", "n_points", "ts_blob", "val_blob"],
        )

    return with_span.groupBy("source", "_bkt").applyInPandas(enc, CHUNK_SCHEMA)


def decompress_chunks(chunks: DataFrame) -> DataFrame:
    """chunk rows -> exploded (source, epoch_s, val) points (cold read path)."""

    def dec(it):
        for pdf in it:
            # segmented batch decoders (codecs.decode_*_many): all spans of
            # the Arrow batch advance in vectorized lockstep rounds instead
            # of a per-POINT Python bit-reader loop (was the hot path of
            # codec_roundtrip — ~2M interpreted read() calls at sf0.1;
            # guide §4.2). Output bit-identical, pinned in tests.
            ns = pdf["n_points"].to_numpy(np.int64)
            ts_blobs = [bytes(b) for b in pdf["ts_blob"].to_numpy()]
            val_blobs = [bytes(b) for b in pdf["val_blob"].to_numpy()]
            yield pd.DataFrame(
                {
                    "source": np.repeat(pdf["source"].to_numpy(), ns),
                    "epoch_s": decode_dod_many(ts_blobs, ns),
                    "val": decode_xor_many(val_blobs, ns),
                }
            )

    return chunks.mapInPandas(dec, "source string, epoch_s long, val double")
