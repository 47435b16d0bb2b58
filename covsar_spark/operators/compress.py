"""Compressed tier persistence: pack each (source, span) chunk of rollup
points into Gorilla XOR + delta-of-delta blobs (the engine's analogue of the
reference's binary raster sink, covsar/isceio.py:13-35).

The heavy path is the encoder, run on the span-kernel skeleton
(operators/spanfill.py): each (source, span)'s dense grid timestamps and
values are bit-packed by the segmented numpy codecs, one vectorized pass
per Arrow batch. Decode (`read_chunks`)
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

from ..schemas import CHUNK_SCHEMA
from .codecs import decode_dod_many, decode_xor_many, encode_dod_many, encode_xor_many
from .spanfill import dense_span_kernel


def compress_rollup(rollup: DataFrame, tier: str, value_col: str = "rate") -> DataFrame:
    """tier rollup -> one compressed chunk row per (source, eigen-span).

    Input: a tier rollup, raw or gap-filled. Each span's dense grid is
    zero-filled INSIDE the kernel (operators/spanfill) — output-identical
    to compressing `gapfill(rollup, tier, "zero")`, and on a gap-filled tier
    of any policy the fill changes nothing (tests/test_spanfill.py). Only
    observed rows shuffle; the dense timestamps are manufactured at the
    encoder, which is also where they compress best.
    """

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

    return dense_span_kernel(rollup, tier, [(value_col, "double", 0.0)], batch_fn, CHUNK_SCHEMA)


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
