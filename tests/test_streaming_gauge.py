"""Streaming LOCF time-weighted average (streaming/gauge_stream.py): every
finalized (source, window) row must equal the batch operator bit-for-bit;
the flush sentinel closes the tail windows."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from covsar_spark.operators.counters import time_weighted_avg
from covsar_spark.streaming.gauge_stream import GAUGE_SCHEMA, time_weighted_avg_stream
from covsar_spark.streaming.runner import file_stream, run_stream

TIER_S = 3600
US = 1_000_000


def _planted(seed: int, n_per_source: int = 300):
    """Irregular gauge scrape: bursty inter-arrival (some gaps span whole
    windows — the case where time-weighting differs most from plain avg)."""
    rng = np.random.default_rng(seed)
    rows = []
    for s in range(3):
        gaps = rng.choice([3, 40, 400, 5000], n_per_source, p=[0.55, 0.3, 0.13, 0.02])
        ts = (np.cumsum(gaps) * US + 1_700_000_000 * US).astype(np.int64)
        val = rng.integers(0, 10_000, n_per_source).astype(np.int64)
        rows.append(
            pd.DataFrame({"source": f"s{s}", "ts_us": ts,
                          "ord": np.arange(n_per_source, dtype=np.int64), "val": val})
        )
    return pd.concat(rows, ignore_index=True)


def _write_chunks(pdf: pd.DataFrame, path: str, n_chunks: int, flush: bool):
    os.makedirs(path, exist_ok=True)
    parts = []
    for _, g in pdf.groupby("source"):
        parts.append(np.array_split(g.sort_values(["ts_us", "ord"]).reset_index(drop=True), n_chunks))
    t0 = time.time() - 3600
    for k in range(n_chunks):
        chunk = pd.concat([p[k] for p in parts], ignore_index=True)
        if flush and k == n_chunks - 1:
            wm = int(pdf.ts_us.max()) + 10 * TIER_S * US
            sent = pd.DataFrame(
                {"source": sorted(pdf.source.unique()), "ts_us": np.int64(wm),
                 "ord": np.int64(-1), "val": np.int64(0)}
            )
            chunk = pd.concat([chunk, sent], ignore_index=True)
        f = os.path.join(path, f"chunk-{k:03d}.parquet")
        chunk.to_parquet(f, index=False)
        os.utime(f, (t0 + 10 * k, t0 + 10 * k))


def test_streamed_gauge_finalized_windows_equal_batch(spark, tmp_path):
    pdf = _planted(5)
    path = str(tmp_path / "gauge")
    _write_chunks(pdf, path, n_chunks=6, flush=True)

    got = (
        run_stream(
            time_weighted_avg_stream(file_stream(spark, path, GAUGE_SCHEMA), tier_s=TIER_S),
            "update", name="t_gauge",
        )
        .toPandas()
        .sort_values(["source", "epoch_s"])
        .reset_index(drop=True)
    )
    # the flush sentinel lands in a far-future window with zero samples and
    # zero weight — the stream never emits it (no real samples): verify
    assert (got["n_samples"] > 0).all()
    batch = (
        time_weighted_avg(
            spark.createDataFrame(pdf), "val", keys=("source",),
            ts_us_col="ts_us", order_cols=("ord",), tier_s=TIER_S,
        )
        .toPandas()
        .sort_values(["source", "epoch_s"])
        .reset_index(drop=True)
    )
    assert got.groupby(["source", "epoch_s"]).size().max() == 1, "double finalization"
    assert len(got) == len(batch)
    for c in ("source", "epoch_s", "w_sum", "dur_us_total", "n_samples"):
        assert got[c].tolist() == batch[c].tolist(), c
    np.testing.assert_array_equal(got["twa"].to_numpy(), batch["twa"].to_numpy())
    # the plant must actually split windows across micro-batches
    assert len(batch) > 3 * 6


def test_streamed_gauge_window_split_across_batches(spark, tmp_path):
    """Hand case: one window's samples split over two micro-batches — the
    carried partial (w_sum/dur/n of the open window) must merge exactly."""
    base = (1_700_000_000 * US // (TIER_S * US)) * (TIER_S * US)
    ts = np.array([base + 100 * US, base + 400 * US,      # chunk 1
                   base + 900 * US, base + 2 * TIER_S * US], dtype=np.int64)  # chunk 2
    val = np.array([10, 20, 40, 7], dtype=np.int64)
    pdf = pd.DataFrame({"source": "g0", "ts_us": ts,
                        "ord": np.arange(4, dtype=np.int64), "val": val})
    path = str(tmp_path / "edge")
    _write_chunks(pdf, path, n_chunks=2, flush=True)
    got = (
        run_stream(
            time_weighted_avg_stream(file_stream(spark, path, GAUGE_SCHEMA), tier_s=TIER_S),
            "update", name="t_gauge_edge",
        )
        .toPandas()
        .sort_values(["epoch_s"])
        .reset_index(drop=True)
    )
    # window 0: 10*(300s) + 20*(500s) + 40*(3600-900 s); window 2: 7*(3600s)
    w0 = 10 * 300 * US + 20 * 500 * US + 40 * (TIER_S - 900) * US
    assert got["w_sum"].tolist() == [w0, 7 * TIER_S * US]
    assert got["dur_us_total"].tolist() == [(TIER_S - 100) * US, TIER_S * US]
    assert got["n_samples"].tolist() == [3, 1]


def test_gauge_stream_restart_exactly_once(spark, tmp_path):
    """Checkpointed file-sink restart: run 1 (no flush) finalizes only the
    windows a later-window sample closed; run 2 delivers the rest of the
    chunks + the flush sentinel and finalizes ONLY the remaining windows —
    open-window int64 partials crossing the restart through the state
    store. Full tier == batch operator, zero duplicate windows."""
    import shutil

    pdf = _planted(17)
    path = str(tmp_path / "gauge")
    out = str(tmp_path / "tiers")
    _write_chunks(pdf, path, n_chunks=6, flush=True)
    all_chunks = sorted(os.listdir(path))
    held_back = all_chunks[3:]  # includes the flush chunk
    for f in held_back:
        shutil.move(os.path.join(path, f), os.path.join(str(tmp_path), f))

    tier = f"{out}/gauge_tier"

    def run():  # same sink and checkpoint on every call: a second call is a restart
        run_stream(
            time_weighted_avg_stream(
                file_stream(spark, path, GAUGE_SCHEMA), tier_s=TIER_S, output_mode="append"
            ),
            "append", path=tier, checkpoint=f"{out}/_gauge_checkpoint",
        )

    run()
    first = spark.read.parquet(tier).toPandas()
    assert len(first) > 0

    for f in held_back:
        shutil.move(os.path.join(str(tmp_path), f), os.path.join(path, f))
    run()
    both = spark.read.parquet(tier)
    s = both.toPandas()
    assert len(s) > len(first)
    dup = both.groupBy("source", "epoch_s").count().filter("count > 1").count()
    assert dup == 0, "restart re-finalized an already-emitted window"
    merged = s.merge(first, on=["source", "epoch_s"], suffixes=("", "_old"))
    assert len(merged) == len(first)
    for c in ("w_sum", "dur_us_total", "n_samples"):
        assert (merged[c] == merged[f"{c}_old"]).all(), c

    got = s.sort_values(["source", "epoch_s"]).reset_index(drop=True)
    batch = (
        time_weighted_avg(
            spark.createDataFrame(pdf), "val", keys=("source",),
            ts_us_col="ts_us", order_cols=("ord",), tier_s=TIER_S,
        ).toPandas().sort_values(["source", "epoch_s"]).reset_index(drop=True)
    )
    assert len(got) == len(batch)
    for c in ("source", "epoch_s", "w_sum", "dur_us_total", "n_samples"):
        assert got[c].tolist() == batch[c].tolist(), c
