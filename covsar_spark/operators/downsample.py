"""LTTB (Largest-Triangle-Three-Buckets) series downsampling.

The north rule names "downsample" as a first-class engine duty; the engine's
existing downsample paths are value-preserving (decimation = every k-th
sample, tier cascade = windowed re-aggregation). LTTB (Steinarsson 2013,
public MSc thesis; TimescaleDB toolkit ships it as ``lttb()``) is the
SHAPE-preserving one: pick ``n_out`` samples that keep the visual/extremal
structure of the series by maximizing triangle areas between a fixed
previous pick, each candidate in the current bucket, and the next bucket's
centroid. The reference's plotting scripts decimate rasters by striding
(covsar/plot_phi.py-style figure code, no engine analogue); LTTB is what a
store serving dashboards over 10^12-point series actually needs.

Algorithm (exact, deterministic): first and last samples always survive;
interior samples split into ``n_out - 2`` near-equal buckets; bucket i's
pick maximizes ``|(x_a-x_c)(y_b-y_a) - (x_a-x_b)(y_c-y_a)|`` where a = the
previous pick, b = the candidate, c = the NEXT bucket's centroid (the last
bucket uses the final sample as c). Ties take the earliest candidate
(strict ``>`` argmax), so output is unique and replayable.

Scale notes (100 TB / 1000 executors):
- the sequential dependency (pick i needs pick i-1) is per-SERIES, so the
  distributed form is one ``applyInPandas`` over the series keys — numpy
  per group, no per-row Python;
- a single 10^12-point series cannot be grouped whole; ``chunk_s`` bounds
  per-task state by adding a coarse time-chunk to the grouping key and
  running LTTB per chunk with ``n_out`` scaled to the chunk — the standard
  production decomposition (each chunk keeps its own endpoints, so chunked
  output == concatenation of per-chunk LTTB; pinned by test);
- downstream consumers read ``sel_rank`` to re-order without a global sort.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def lttb_indices(x: np.ndarray, y: np.ndarray, n_out: int) -> np.ndarray:
    """Indices LTTB keeps from a series already sorted by x (numpy kernel,
    also the test oracle's building block). n_out < 3 or n_out >= n returns
    every index (downsampling to fewer than endpoints+1 is meaningless).

    Integer inputs take an EXACT path: the centroid mean (the one division
    in LTTB) is cleared by scaling each candidate's area by the next
    bucket's count — a constant within the bucket, so the argmax is
    bit-identical to canonical LTTB under exact arithmetic, and every term
    is int64 (x/y are first shifted by their own first sample; triangle
    area is translation-invariant, and the shift bounds the products far
    below 2^63 for any realistic epoch/value series). This is what makes a
    cross-engine SQL oracle possible: float64 centroids round differently
    per engine's summation order; int64 products do not.
    """
    n = len(x)
    if n_out >= n or n_out < 3:
        return np.arange(n)
    ints = np.issubdtype(x.dtype, np.integer) and np.issubdtype(y.dtype, np.integer)
    if ints:
        x = (x - x[0]).astype(np.int64)
        y = (y - y[0]).astype(np.int64)
    else:
        x = x.astype(np.float64)
        y = y.astype(np.float64)
    # bucket b covers interior slice [edges[b], edges[b+1]) — near-equal split
    edges = 1 + np.floor(np.arange(n_out - 1) * (n - 2) / (n_out - 2)).astype(np.int64)
    edges[-1] = n - 1
    out = np.empty(n_out, dtype=np.int64)
    out[0] = 0
    a = 0
    for b in range(n_out - 2):
        lo, hi = edges[b], edges[b + 1]
        if b + 2 <= n_out - 2:
            nlo, nhi = edges[b + 1], edges[b + 2]
            if ints:
                cnt = int(nhi - nlo)
                sx, sy = int(x[nlo:nhi].sum()), int(y[nlo:nhi].sum())
            else:
                cx, cy = x[nlo:nhi].mean(), y[nlo:nhi].mean()
        else:  # last interior bucket: centroid is the final sample
            if ints:
                cnt, sx, sy = 1, int(x[n - 1]), int(y[n - 1])
            else:
                cx, cy = x[n - 1], y[n - 1]
        if ints:
            # cnt·area: (x_a − cx)·cnt = x_a·cnt − Σx, (cy − y_a)·cnt = Σy − y_a·cnt
            area = np.abs(
                (int(x[a]) * cnt - sx) * (y[lo:hi] - y[a])
                - (x[a] - x[lo:hi]) * (sy - int(y[a]) * cnt)
            )
        else:
            area = np.abs(
                (x[a] - cx) * (y[lo:hi] - y[a]) - (x[a] - x[lo:hi]) * (cy - y[a])
            )
        a = lo + int(np.argmax(area))  # argmax takes the FIRST max — stable
        out[b + 1] = a
    out[-1] = n - 1
    return out


def lttb(
    df: DataFrame,
    n_out: int,
    keys: Sequence[str] = ("source",),
    x_col: str = "epoch_s",
    y_col: str = "value",
    chunk_s: int | None = None,
) -> DataFrame:
    """Distributed LTTB: per-(keys[, time chunk]) grouped-map downsample.

    Returns (keys..., x_col, y_col, sel_rank) — ``sel_rank`` is the pick's
    0-based position within its group so consumers re-order without a global
    sort. With ``chunk_s``, groups become (keys, floor(x/chunk_s)) and each
    chunk emits its own ``n_out`` picks (state bound: one chunk per task).
    """
    gcols = list(keys)
    src = df.select(*keys, F.col(x_col).cast("long").alias("_x"), F.col(y_col).alias("_y"))
    if chunk_s is not None:
        src = src.withColumn("_chunk", (F.floor(F.col("_x") / chunk_s)).cast("long"))
        gcols.append("_chunk")

    key_fields = [src.schema[c] for c in gcols]
    out_schema = StructType(
        key_fields
        + [
            StructField("_x", LongType()),
            src.schema["_y"],
            StructField("sel_rank", LongType()),
        ]
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_x", "_y"], kind="mergesort").reset_index(drop=True)
        idx = lttb_indices(pdf["_x"].to_numpy(), pdf["_y"].to_numpy(), n_out)
        out = pdf.iloc[idx][gcols + ["_x", "_y"]].reset_index(drop=True)
        out["sel_rank"] = np.arange(len(idx), dtype=np.int64)
        return out

    # pinned-width kernel exchange (see operators/spanfill.py): AQE sizes
    # by shuffle bytes and would run every series' LTTB pick in one task
    n_part = int(src.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    res = src.repartition(n_part, *gcols).groupBy(*gcols).applyInPandas(pick, out_schema)
    if chunk_s is not None:
        res = res.drop("_chunk")
    return res.withColumnsRenamed({"_x": x_col, "_y": y_col})
