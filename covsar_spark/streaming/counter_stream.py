"""Streaming reset-aware counter increase: the stateful twin of
operators/counters.counter_increase.

A counter scrape stream cannot use a plain window lag — the previous sample
of a series usually lives in an EARLIER micro-batch. The state carried per
series is exactly one row: (last counter value, seen-anything flag), so
state is O(#series) regardless of stream length. Each micro-batch emits
PARTIAL (source, window) rows — reset-folded increase, sample count, reset
count for the samples that arrived in that batch — and the finalized tier
is the integer SUM of partials per (source, window), which downstream is a
plain continuous aggregate (the same merge shape as the rollup tiers).

Exactness contract (pinned by tests/test_streaming_counter.py): summing
the emitted partials per (source, window) equals the batch operator
bit-for-bit, PROVIDED each series arrives in (epoch_s, ord) order across
batches — the normal property of a scrape/append log. Within a batch any
order is fine (the kernel sorts); across batches the state's last-value
hand-off assumes no older sample arrives after a newer one (out-of-order
repair at tier level is refresh_tier's job, operators/refresh.py).

Reference analogue: the running per-key state carried across epochs is the
reference's nearest-neighbor phase-linking accumulator (covsar/pl/nn.py:5-9);
here the carried scalar is the last counter sample and the fold is
Prometheus increase() reset semantics.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

COUNTER_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("epoch_s", T.LongType(), False),
        T.StructField("ord", T.LongType(), False),
        T.StructField("ctr", T.LongType(), False),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("epoch_s", T.LongType(), False),
        T.StructField("increase", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("n_resets", T.LongType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ctr", T.LongType(), False),
        T.StructField("has_last", T.LongType(), False),
    ]
)


def counter_increase_stream(
    stream: DataFrame, tier_s: int = 3600, output_mode: str = "update"
) -> DataFrame:
    """Per-(source, tumbling window) partial increase rows, one set per
    micro-batch. Input columns: (source, epoch_s, ord, ctr). Emitted rows
    are batch-scoped FACTS (never retracted — the finalized tier is their
    sum), so ``output_mode='append'`` is equally valid and enables file
    sinks with exactly-once checkpointing."""

    def _update(
        key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last, has = state.get if state.exists else (0, 0)
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["epoch_s", "ord"], kind="mergesort"
        )
        c = pdf["ctr"].to_numpy(np.int64)
        prev = np.concatenate(([np.int64(last)], c[:-1]))
        d = c - prev
        delta = np.where(d < 0, c, d)
        reset = (d < 0).astype(np.int64)
        if not has:  # series' first-ever sample: no prior observation
            delta[0] = 0
            reset[0] = 0
        win = (pdf["epoch_s"].to_numpy(np.int64) // tier_s) * tier_s
        out = (
            pd.DataFrame({"epoch_s": win, "increase": delta, "n_samples": 1, "n_resets": reset})
            .groupby("epoch_s", as_index=False)
            .agg(increase=("increase", "sum"), n_samples=("n_samples", "sum"), n_resets=("n_resets", "sum"))
        )
        out.insert(0, "source", key[0])
        state.update((int(c[-1]), 1))
        yield out

    return stream.groupBy("source").applyInPandasWithState(
        _update, OUT_SCHEMA, STATE_SCHEMA, output_mode, GroupStateTimeout.NoTimeout
    )
