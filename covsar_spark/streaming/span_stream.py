"""Watermark-finalized streamed span kernel: the eigen + codec stage of the
tier pipeline as a custom stateful streaming operator (SURVEY.md §2.9
closed-stack finalization — the reference computes the covariance/EVD only
over a CLOSED stack, covsar/covariance.py:18-22; streamed, "closed" becomes
"the watermark passed the span's end").

Input is the stream of FINALIZED tier-rollup rows (ROLLUP_SCHEMA — e.g. the
append-mode output of `streaming/rollup_stream.py` persisted to a tier
table, or any rollup source). Rows are grouped by (source, eigen-span) in
`applyInPandasWithState`; state accumulates the span's observed epochs, and
an event-time timeout set at span end fires once the watermark passes it —
only then does the span run the EXACT batch kernel through its public
per-span entry points (`spanfill.fill_span`: dense zero-filled grid ->
`tier_kernel.tier_rows`: batched lag-cov eigh -> Gorilla XOR + DoD
encode, token/doc sums and gap epochs) and emit its TIER_SCHEMA row, the
batch kernel's one schema. No span is ever computed twice and none is
computed early: emission is append-mode by construction.

Declared streamed semantics vs the batch `tier_kernel` (both pinned in
tests/test_streaming_span.py):

- grid policy: a streamed span always zero-fills the FULL span
  [span_s, span_s + span). The batch kernel clips the first/last span of a
  source to the observed data extent [lo, hi] — an offline quantity a
  stream cannot know mid-flight. Spans whose data extent aligns to span
  boundaries are BIT-IDENTICAL (lam/tc/eig, both codec blobs, the token
  and doc sums and the gap epochs) between the two paths.
- coverage: a streamed span exists only if >= 1 rollup row fell in it; the
  batch sentinel union also emits fully-empty interior spans. A deployment
  needing those unions per-span HEARTBEAT rows upstream (`heartbeat_rows`,
  round-6): a heartbeat is a rollup row with ``filled=True`` — it creates
  the span's state and arms its timeout but is never appended as an
  observation, so a span that saw only heartbeats finalizes as the full
  zero-filled grid, bit-identical to the batch sentinel's empty-span row
  (tests/test_streaming_span.py::test_heartbeat_emits_empty_interior_spans).
  Corollary: feed this operator RAW rollups (filled=False), exactly like
  the batch `tier_kernel` — pre-gap-filled rows are treated as markers,
  because the kernel re-derives gap lineage on its own dense grid.

Scale: state per in-flight group is O(span/tier) epochs (60 for 1m/1h) of
six scalars, bounded by construction; groups die at watermark passage, so
total state is O(active sources x lateness/span). The shuffle is the same
(source, span) exchange the batch kernel pays — once per row instead of
once per job, which is the streaming trade.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..operators.spanfill import fill_span
from ..operators.tier_kernel import TIER_PAYLOAD, TIER_SCHEMA, gap_rows, tier_rows
from ..schemas import EIGEN_P, EIGEN_SPAN, TIERS

# per-span accumulator: parallel arrays over observed epochs (append-only;
# finalize sorts + dedups, so micro-batch arrival order is irrelevant)
SPAN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("epochs", T.ArrayType(T.LongType()), False),
        T.StructField("tok", T.ArrayType(T.LongType()), False),
        T.StructField("docs", T.ArrayType(T.LongType()), False),
        # double so upstream NULL max/min (all-gap windows) ride as NaN,
        # exactly like the Arrow path feeds the batch kernel
        T.StructField("mx", T.ArrayType(T.DoubleType()), True),
        T.StructField("mn", T.ArrayType(T.DoubleType()), True),
        T.StructField("rate", T.ArrayType(T.DoubleType()), False),
    ]
)


def _finalize(source: str, span_s: int, tier_s: int, span: int, p: int, st) -> pd.DataFrame:
    """Run the batch kernel for one closed span: the span's observed rows
    (last row per epoch) scattered onto the FULL span grid by the
    skeleton's `fill_span`, then `tier_rows` — the same two calls the batch
    `tier_kernel` makes per span, so parity is by construction."""
    epochs, *vals = (np.asarray(a) for a in st)
    order = np.argsort(epochs, kind="stable")
    # keep the LAST row per epoch (a re-finalized upstream window wins);
    # a heartbeat-only span has ZERO observations and finalizes as the full
    # zero-filled grid, the batch empty-span layout
    srt = epochs[order]
    keep = (
        np.concatenate([srt[1:] != srt[:-1], [True]]) if len(srt) else np.zeros(0, dtype=bool)
    )
    sel = order[keep]
    grid = np.arange(span_s, span_s + span, tier_s, dtype=np.int64)
    dense, observed = fill_span(grid, tier_s, epochs[sel], [v[sel] for v in vals], TIER_PAYLOAD)
    return tier_rows([(source, span_s)], [grid], [[d] for d in dense], [observed], p)


def make_span_updater(tier: str, p: int = EIGEN_P):
    tier_s = TIERS[tier]
    span = EIGEN_SPAN[tier]

    def update(
        key: Tuple[str, int], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        source, span_s = key
        if state.hasTimedOut:
            st = state.get
            state.remove()
            yield _finalize(source, int(span_s), tier_s, span, p, st)
            return
        ep, tok, docs, mx, mn, rate = (
            state.get if state.exists else ([], [], [], [], [], [])
        )
        ep, tok, docs, mx, mn, rate = (
            list(ep), list(tok), list(docs), list(mx), list(mn), list(rate)
        )
        for pdf in pdfs:
            # filled=True rows are heartbeats/gap markers: they create the
            # span's state + timeout but are never observations
            obs = ~pdf["filled"].to_numpy(dtype=bool)
            ep.extend(int(v) for v in pdf["epoch_s"][obs])
            tok.extend(int(v) for v in pdf["token_count"][obs])
            docs.extend(int(v) for v in pdf["n_docs"][obs])
            mx.extend(float(v) for v in pdf["max_tok"][obs])
            mn.extend(float(v) for v in pdf["min_tok"][obs])
            rate.extend(float(v) for v in pdf["rate"][obs])
        end_ms = (int(span_s) + span) * 1000
        if end_ms <= state.getCurrentWatermarkMs():
            # the watermark already passed this span's end (its rows arrived
            # inside the lateness allowance of a batch that advanced the
            # watermark beyond it): the span is closed NOW — emit directly.
            # A timeout of wm+1 would never fire without further data, and
            # no duplicate is possible: any future row for this span has
            # event time < span end <= watermark and is dropped as late.
            if state.exists:
                state.remove()
            yield _finalize(source, int(span_s), tier_s, span, p,
                            (ep, tok, docs, mx, mn, rate))
            return
        state.update((ep, tok, docs, mx, mn, rate))
        # fire when the watermark passes span end
        state.setTimeoutTimestamp(end_ms)

    return update


def span_stream(
    rollup_stream: DataFrame,
    tier: str,
    p: int = EIGEN_P,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Finalized-rollup stream -> append-mode stream of span kernel rows
    (TIER_SCHEMA: eigen lam/tc/eig, ts/val codec blobs, token and doc sums
    and the span's gap epochs)."""
    span = EIGEN_SPAN[tier]
    with_ts = (
        rollup_stream.withColumn("ts", F.timestamp_seconds(F.col("epoch_s")))
        .withWatermark("ts", watermark)
        .withColumn("span_s", (F.floor(F.col("epoch_s") / span) * span).cast("long"))
        # ts must survive to the stateful operator — it carries the watermark
        .select(
            "source", "span_s", "ts", "epoch_s", "token_count", "n_docs",
            "max_tok", "min_tok", "rate", "filled",
        )
    )
    return with_ts.groupBy("source", "span_s").applyInPandasWithState(
        make_span_updater(tier, p),
        TIER_SCHEMA,
        SPAN_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def heartbeat_rows(
    spark: SparkSession, sources: list[str], start_s: int, end_s: int, tier: str
) -> DataFrame:
    """Opt-in upstream heartbeat emitter (round-5 verdict #7): one
    ``filled=True`` ROLLUP_SCHEMA row per (source, span boundary) in
    [start_s, end_s). Union these with the rollup stream (or append them to
    the file-source dir) and every covered span — including fully-empty
    interior ones — exists streamed, finalizing as the batch sentinel's
    zero-filled empty-span row. In a live deployment a source registry
    emits these on a timer; here they are generated relationally from the
    registry list (no driver loop — one row per span via `sequence`)."""
    span = EIGEN_SPAN[tier]
    reg = spark.createDataFrame([(s,) for s in sources], "source string")
    return gap_rows(
        reg.select(
            "source",
            F.explode(
                F.sequence(
                    F.lit((start_s // span) * span).cast("long"),
                    F.lit(end_s - 1).cast("long"),
                    F.lit(span).cast("long"),
                )
            ).alias("epoch_s"),
        )
    )
