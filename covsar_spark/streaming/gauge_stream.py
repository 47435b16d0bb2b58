"""Streaming LOCF time-weighted average: the stateful twin of
operators/counters.time_weighted_avg.

The batch operator's windows are SELF-CONTAINED (each sample holds its
value to the next sample in the SAME window, the window's last sample holds
to window end, the first sample's weight starts at its own timestamp), so
the only cross-batch state a stream needs is the one OPEN window per
series: (window start, last sample, the window's accumulated w_sum/dur/n).
A sample landing in a later window FINALIZES the open one — emit its exact
(w_sum + tail, dur + tail) row — and opens its own. Emitted rows are final,
not partials: every finalized (source, window) row equals the batch
operator bit-for-bit (int64 sums, one terminal IEEE division), pinned by
tests/test_streaming_counter.py.

End-of-stream flush: state-timeout-based finalization is unreliable for
static-file replays (the watermark never advances past the last batch), so
the stream adopts the repo's flush-row convention (span_stream.py): a
sentinel sample with ``ord < 0`` finalizes the series' open window —
including the last-sample-to-window-end tail — contributing no weight of
its own. In production the scrape loop appends one sentinel per series at
shutdown; a live stream needs none (the next real sample finalizes).

In-order arrival per series is assumed across batches (same contract as
counter_stream.py — a scrape/append log's natural property); within a
batch any order is fine, the kernel sorts. The per-batch fold is
vectorized numpy (segment durations from one shift), no per-row Python.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

GAUGE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("ts_us", T.LongType(), False),
        T.StructField("ord", T.LongType(), False),
        T.StructField("val", T.LongType(), False),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("epoch_s", T.LongType(), False),
        T.StructField("w_sum", T.LongType(), False),
        T.StructField("dur_us_total", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("twa", T.DoubleType(), False),
    ]
)

# one OPEN window per series: start, last sample, closed-segment partials
STATE_SCHEMA = T.StructType(
    [
        T.StructField("win_us", T.LongType(), False),
        T.StructField("last_ts", T.LongType(), False),
        T.StructField("last_val", T.LongType(), False),
        T.StructField("w_sum", T.LongType(), False),
        T.StructField("dur_us", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("has", T.LongType(), False),
    ]
)


def time_weighted_avg_stream(
    stream: DataFrame, tier_s: int = 3600, output_mode: str = "update"
) -> DataFrame:
    """Finalized per-(source, window) LOCF time-weighted rows, emitted when
    a later-window sample (or the ``ord < 0`` flush sentinel) closes the
    window. Input columns: (source, ts_us, ord, val). Every emitted row is
    FINAL (each (source, window) appears exactly once), so
    ``output_mode='append'`` is equally valid and enables file sinks with
    exactly-once checkpointing."""
    tier_us = tier_s * 1_000_000

    def _update(
        key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        win0, lts, lval, ws0, du0, n0, has = (
            state.get if state.exists else (0, 0, 0, 0, 0, 0, 0)
        )
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "ord"], kind="mergesort"
        )
        flush = bool((pdf["ord"] < 0).any())
        pdf = pdf[pdf["ord"] >= 0]
        ts = pdf["ts_us"].to_numpy(np.int64)
        vv = pdf["val"].to_numpy(np.int64)
        if has:  # prepend the carried open-window sample (already counted)
            ts = np.concatenate(([np.int64(lts)], ts))
            vv = np.concatenate(([np.int64(lval)], vv))
        outs: list[tuple[int, int, int, int]] = []  # (win, w_sum, dur, n)
        if len(ts):
            win = (ts // tier_us) * tier_us
            # segment i covers ts[i] → min(ts[i+1], window end); the LAST
            # sample's tail stays open (flushed below if asked)
            end = np.minimum(
                np.concatenate((ts[1:], [np.int64(ts[-1])])), win + tier_us
            )
            dur = end - ts
            dur[-1] = 0  # last sample: open tail, not yet attributable
            contrib = vv * dur
            # per-window segment sums (exact int64 — np.add.at, never
            # float-weighted bincount); the min(next_ts, window_end) above
            # already gives every intermediate window its last-sample tail,
            # so finalized windows below are emitted as-is
            uw, inv = np.unique(win, return_inverse=True)
            wsum = np.zeros(len(uw), dtype=np.int64)
            wdur = np.zeros(len(uw), dtype=np.int64)
            np.add.at(wsum, inv, contrib)
            np.add.at(wdur, inv, dur)
            wn = np.bincount(inv)
            if has:
                # carried sample: window partials merge, but it was already
                # counted in n when it first arrived
                wsum[0] += ws0
                wdur[0] += du0
                wn[0] += n0 - 1
            for i, w in enumerate(uw[:-1]):
                outs.append((int(w), int(wsum[i]), int(wdur[i]), int(wn[i])))
            last_w = int(uw[-1])
            o_ws, o_du, o_n = int(wsum[-1]), int(wdur[-1]), int(wn[-1])
            o_lts, o_lval = int(ts[-1]), int(vv[-1])
            o_has = 1
        else:
            last_w, o_ws, o_du, o_n, o_lts, o_lval, o_has = (
                int(win0), int(ws0), int(du0), int(n0), int(lts), int(lval), int(has)
            )
        if flush and o_has:
            tail = (last_w + tier_us) - o_lts
            outs.append((last_w, o_ws + o_lval * tail, o_du + tail, o_n))
            o_has = 0
        state.update((last_w, o_lts, o_lval, o_ws, o_du, o_n, o_has))
        if outs:
            out = pd.DataFrame(outs, columns=["win_us", "w_sum", "dur_us_total", "n_samples"])
            res = pd.DataFrame(
                {
                    "source": key[0],
                    "epoch_s": (out["win_us"] // 1_000_000).astype(np.int64),
                    "w_sum": out["w_sum"].astype(np.int64),
                    "dur_us_total": out["dur_us_total"].astype(np.int64),
                    "n_samples": out["n_samples"].astype(np.int64),
                }
            )
            res["twa"] = res["w_sum"] / res["dur_us_total"]
            yield res

    return stream.groupBy("source").applyInPandasWithState(
        _update, OUT_SCHEMA, STATE_SCHEMA, output_mode, GroupStateTimeout.NoTimeout
    )
