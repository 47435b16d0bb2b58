"""Streaming reset-aware counter (streaming/counter_stream.py): summing the
per-batch partial rows per (source, window) must equal the batch operator
bit-for-bit, including resets that land exactly on micro-batch boundaries."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from covsar_spark.operators.counters import counter_increase
from covsar_spark.streaming.counter_stream import COUNTER_SCHEMA, counter_increase_stream
from covsar_spark.streaming.runner import file_stream, run_stream


def _planted(seed: int, n_per_source: int = 400, mod: int = 9_000):
    """Deterministic cumulative-counter scrape: cumsum of increments mod
    `mod` per source — the wraps ARE the resets, and with ~45k total drift
    per source the plant guarantees wraps well inside every chunk split."""
    rng = np.random.default_rng(seed)
    rows = []
    for s in range(3):
        eps = np.cumsum(rng.integers(5, 120, n_per_source)) + 1_700_000_000
        incs = rng.integers(0, 300, n_per_source)
        ctr = np.cumsum(incs) % mod
        rows.append(
            pd.DataFrame(
                {
                    "source": f"s{s}",
                    "epoch_s": eps.astype(np.int64),
                    "ord": np.arange(n_per_source, dtype=np.int64),
                    "ctr": ctr.astype(np.int64),
                }
            )
        )
    return pd.concat(rows, ignore_index=True)


def _write_ordered_chunks(pdf: pd.DataFrame, path: str, n_chunks: int):
    """Each chunk holds every series' next contiguous (epoch-ordered) slice;
    files get strictly increasing mtimes so the file source replays them in
    scrape order (FileStreamSource processes oldest-mtime first)."""
    os.makedirs(path, exist_ok=True)
    parts = []
    for s, g in pdf.groupby("source"):
        g = g.sort_values(["epoch_s", "ord"]).reset_index(drop=True)
        parts.append([g.iloc[idx] for idx in np.array_split(np.arange(len(g)), n_chunks)])
    t0 = time.time() - 3600
    for k in range(n_chunks):
        chunk = pd.concat([p[k] for p in parts], ignore_index=True)
        f = os.path.join(path, f"chunk-{k:03d}.parquet")
        chunk.to_parquet(f, index=False)  # FLAT file — the file source does
        # not list inside Spark-written .parquet directories
        os.utime(f, (t0 + 10 * k, t0 + 10 * k))


def test_streamed_counter_partials_sum_to_batch(spark, tmp_path):
    pdf = _planted(11)
    path = str(tmp_path / "scrape")
    _write_ordered_chunks(pdf, path, n_chunks=7)

    got = run_stream(
        counter_increase_stream(file_stream(spark, path, COUNTER_SCHEMA), tier_s=3600),
        "update", name="t_ctr",
    ).toPandas()
    summed = (
        got.groupby(["source", "epoch_s"], as_index=False)
        .agg(increase=("increase", "sum"), n_samples=("n_samples", "sum"), n_resets=("n_resets", "sum"))
        .sort_values(["source", "epoch_s"])
        .reset_index(drop=True)
    )
    batch = (
        counter_increase(
            spark.createDataFrame(pdf), "ctr", keys=("source",),
            ts_col="epoch_s", order_cols=("ord",), tier_s=3600,
        )
        .toPandas()
        .sort_values(["source", "epoch_s"])
        .reset_index(drop=True)
    )
    assert len(summed) == len(batch)
    for c in ("source", "epoch_s", "increase", "n_samples", "n_resets"):
        assert summed[c].tolist() == batch[c].tolist(), c
    # the plant must actually exercise resets, and across >1 batch
    assert batch["n_resets"].sum() > 10
    assert got.groupby(["source", "epoch_s"]).size().max() > 1, "no window spanned two batches"


def test_streamed_counter_state_is_one_row_per_series(spark, tmp_path):
    """A reset exactly at a batch boundary: the held state (last value only)
    must fold it — plant a wrap as the first sample of a later chunk."""
    eps = np.arange(20, dtype=np.int64) * 100 + 1_700_000_000
    ctr = np.concatenate([np.arange(10, dtype=np.int64) * 50,      # rises to 450
                          np.arange(10, dtype=np.int64) * 40 + 3]) # wraps to 3 at chunk 2's head
    pdf = pd.DataFrame({"source": "s0", "epoch_s": eps,
                        "ord": np.arange(20, dtype=np.int64), "ctr": ctr})
    path = str(tmp_path / "edge")
    _write_ordered_chunks(pdf, path, n_chunks=2)
    got = run_stream(
        counter_increase_stream(file_stream(spark, path, COUNTER_SCHEMA), tier_s=3600),
        "update", name="t_ctr_edge",
    ).toPandas()
    total = got.groupby(["source"], as_index=False).agg(
        increase=("increase", "sum"), n_resets=("n_resets", "sum")
    )
    # increase = within-run deltas (450 + 360) + post-reset absolute (3)
    assert total.loc[0, "increase"] == 450 + 3 + 360
    assert total.loc[0, "n_resets"] == 1


def test_counter_stream_restart_exactly_once(spark, tmp_path):
    """Checkpointed file-sink restart: the second invocation (after later
    chunks land in the source dir) processes ONLY the new files, appends
    only their partials, and the carried last-counter state survives the
    restart — so the summed tier equals the batch operator on the full
    data, which double-emission or state loss would both break."""
    pdf = _planted(29)
    path = str(tmp_path / "scrape")
    out = str(tmp_path / "tiers")
    # run 1: first 4 of 7 chunks
    _write_ordered_chunks(pdf, path, n_chunks=7)
    all_chunks = sorted(os.listdir(path))
    held_back = all_chunks[4:]
    import shutil

    for f in held_back:
        shutil.move(os.path.join(path, f), os.path.join(str(tmp_path), f))
    tier = f"{out}/counter_partials"

    def run():  # same sink and checkpoint on every call: a second call is a restart
        run_stream(
            counter_increase_stream(
                file_stream(spark, path, COUNTER_SCHEMA), tier_s=3600, output_mode="append"
            ),
            "append", path=tier, checkpoint=f"{out}/_ctr_checkpoint",
        )

    run()
    first = spark.read.parquet(tier).toPandas()
    assert len(first) > 0

    # run 2: later chunks arrive, same checkpoint
    for f in held_back:
        shutil.move(os.path.join(str(tmp_path), f), os.path.join(path, f))
    run()
    both = spark.read.parquet(tier).toPandas()
    assert len(both) > len(first)

    # run-1 partials survive byte-identically (multiset containment)
    key = ["source", "epoch_s", "increase", "n_samples", "n_resets"]
    c1 = first.groupby(key).size()
    c2 = both.groupby(key).size()
    joined = pd.concat([c1, c2], axis=1, keys=["a", "b"]).fillna(0)
    assert (joined["b"] >= joined["a"]).all(), "a run-1 partial vanished or changed"

    summed = (
        both.groupby(["source", "epoch_s"], as_index=False)
        .agg(increase=("increase", "sum"), n_samples=("n_samples", "sum"), n_resets=("n_resets", "sum"))
        .sort_values(["source", "epoch_s"]).reset_index(drop=True)
    )
    batch = (
        counter_increase(
            spark.createDataFrame(pdf), "ctr", keys=("source",),
            ts_col="epoch_s", order_cols=("ord",), tier_s=3600,
        ).toPandas().sort_values(["source", "epoch_s"]).reset_index(drop=True)
    )
    for c in ("source", "epoch_s", "increase", "n_samples", "n_resets"):
        assert summed[c].tolist() == batch[c].tolist(), c
