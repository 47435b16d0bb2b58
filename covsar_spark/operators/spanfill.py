"""The span-kernel skeleton: zero-fill INSIDE the kernel, one shuffle.

Every per-(source, span) kernel — the tier kernel (eigen + codecs + dense
points), closure correction, real and complex eigen, nonlinear fit, chunk
compression — runs on this one skeleton. The relational alternative,
`gapfill(rollup, tier, "zero")` followed by a grouped kernel, materializes
the DENSE per-source calendar grid (a grid join + its exchange) and then
shuffles every dense row — at sf0.1 the 100k-row events rollup explodes to
a 2.1M-row dense grid (21x) before the kernel shuffle. Here only observed
rows + one sentinel per span shuffle (move small rows, manufacture the
dense form where it is consumed):

- `sentinel_union_prep`: sentinels (one row per (source, span) carrying the
  source's [lo, hi] grid bounds) UNION the observed rollup rows, ONE
  repartition on (source, span), sorted so each span group arrives
  contiguous with its sentinel first.
- `span_batches`: the carry loop — a span group split across Arrow batch
  boundaries is carried whole into the next batch. Per-task state is one
  Arrow batch plus at most one carried span, whatever the retention horizon.
- `fill_span`: one span's dense reindex (observed values verbatim, each
  payload column's own gap value elsewhere, plus the observed mask).
- `fill_groups` / `dense_span_kernel`: the column-major batch handed to a
  caller's ``batch_fn`` inside one mapInPandas.
- `observed_only`: the observed-epochs view of such a batch, for kernels
  that read only observed rows (closure correction, complex eigen).

Precondition: ``epoch_s`` lies on the tier lattice and is unique per
source, since `fill_span` scatters each row to grid slot
``(epoch_s - grid[0]) // tier_s``. Every caller passes a tier rollup or a
`gapfill` output, which satisfy it.

Equality obligations: `op(roll)` == `op(gapfill(roll, tier, "zero"))` for
every zero-filling kernel — same grid (the per-source [lo, hi] lattice
clipped to each span), same series values, same epoch order
(tests/test_spanfill.py, tests/test_tier_kernel.py). `gapfill` emits the
full lattice under every policy, so zero-fill on an already-filled tier is
the identity. The carry loop is batch-boundary invariant
(tests/test_properties.py, tests/test_spanfill.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import EIGEN_SPAN, TIERS

# one payload column: (rollup column, Spark type it rides as, gap value).
# The gap value also fixes the dense array's dtype: 0 -> int64, 0.0/NaN ->
# float64.
Payload = Sequence[tuple[str, str, object]]


def sentinel_union_prep(
    rollup: DataFrame, tier: str, payload: Payload
) -> tuple[DataFrame, int, int]:
    """(prep frame, tier_s, span): sentinels ∪ observed rows, repartitioned
    on (source, span_s) and sorted (source, span_s, is_sentinel DESC,
    epoch_s) so each span group arrives contiguous with its sentinel first.

    The explicit repartition pins the kernel exchange at the configured
    shuffle-partition count: a REPARTITION_BY_NUM exchange is exempt from
    AQE partition coalescing. Without such a pin AQE sized the kernel stage
    by shuffle BYTES — a few MB of rolled-up keys — and collapsed it to ONE
    partition, serializing the entire Python kernel into a single task
    (measured: eigen_complex_1m ran its ~3k span eigendecompositions in one
    1.0-1.3 s task, 31 cores idle). AQE cannot see per-row Python CPU; for
    an opaque span kernel the configured width is the right prior at every
    scale.

    The input is scanned twice when ``rollup`` is not persisted (as in
    ``flagship()`` and ``entry()``): Catalyst computes the sentinels'
    per-source min/max(epoch_s) straight from the rollup's input, below its
    (source, epoch_s) aggregate, so that branch reads the input a second
    time and hash-exchanges its partial min/max on ``source``. A persisted
    rollup (``run_tiers(persist=True)``) is read once, by both branches."""
    tier_s = TIERS[tier]
    span = EIGEN_SPAN[tier]
    n_part = int(rollup.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))

    bounds = rollup.groupBy("source").agg(
        F.min("epoch_s").alias("lo"), F.max("epoch_s").alias("hi")
    )
    sentinels = bounds.select(
        "source",
        F.explode(
            F.sequence((F.floor(F.col("lo") / span) * span).cast("long"), "hi", F.lit(span))
        ).alias("span_s"),
        "lo",
        "hi",
    ).select(
        "source",
        "span_s",
        F.lit(True).alias("is_sentinel"),
        F.col("span_s").alias("epoch_s"),  # sorts before any data via is_sentinel
        "lo",
        "hi",
        *(F.lit(None).cast(t).alias(c) for c, t, _ in payload),
    )
    data = rollup.select(
        "source",
        (F.floor(F.col("epoch_s") / span) * span).cast("long").alias("span_s"),
        F.lit(False).alias("is_sentinel"),
        "epoch_s",
        F.lit(None).cast("long").alias("lo"),
        F.lit(None).cast("long").alias("hi"),
        *(F.col(c).cast(t).alias(c) for c, t, _ in payload),
    )
    prep = (
        sentinels.unionByName(data)
        .repartition(n_part, "source", "span_s")
        .sortWithinPartitions("source", "span_s", F.col("is_sentinel").desc(), "epoch_s")
    )
    return prep, tier_s, span


def span_batches(frames: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The carry loop over a (source, span_s)-sorted frame stream: yields
    frames of COMPLETE span groups only, holding the trailing (possibly
    split) group back until the next frame or the end of the stream."""
    carry: pd.DataFrame | None = None
    for pdf in frames:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if len(pdf) == 0:
            continue
        src = pdf["source"].to_numpy()
        spn = pdf["span_s"].to_numpy()
        diff = (spn != spn[-1]) | (src != src[-1])
        last_start = int(np.flatnonzero(diff)[-1] + 1) if diff.any() else 0
        carry = pdf.iloc[last_start:]
        if last_start:
            yield pdf.iloc[:last_start]
    if carry is not None and len(carry):
        yield carry


def fill_span(
    grid: np.ndarray,
    tier_s: int,
    epochs: np.ndarray,
    values: Sequence[np.ndarray],
    payload: Payload,
) -> tuple[list[np.ndarray], np.ndarray]:
    """Scatter one span's observed rows onto its dense ``grid``: returns one
    dense array per payload column (observed values verbatim, the column's
    gap value elsewhere) and the observed mask."""
    dense = [np.full(len(grid), gap) for _, _, gap in payload]
    observed = np.zeros(len(grid), dtype=bool)
    if len(epochs):
        idx = (epochs - grid[0]) // tier_s
        for d, v in zip(dense, values):
            d[idx] = v
        observed[idx] = True
    return dense, observed


def fill_groups(
    pdf: pd.DataFrame, tier_s: int, span: int, payload: Payload
) -> tuple[list, list[np.ndarray], list[list[np.ndarray]], list[np.ndarray]]:
    """A prep frame of complete span groups -> (keys, grids, values,
    observed): keys are (source, span_s), grids the source's [lo, hi]
    lattice clipped to each span, ``values[j][i]`` payload column j's
    dense series for span i."""
    src = pdf["source"].to_numpy()
    spn = pdf["span_s"].to_numpy(np.int64)
    sentinel = pdf["is_sentinel"].to_numpy(bool)
    eps = pdf["epoch_s"].to_numpy(np.int64)
    lo = pdf["lo"].to_numpy()
    hi = pdf["hi"].to_numpy()
    cols = [pdf[c].to_numpy() for c, _, _ in payload]

    change = (spn[1:] != spn[:-1]) | (src[1:] != src[:-1])
    starts = np.concatenate([[0], np.flatnonzero(change) + 1, [len(spn)]])
    keys, grids, observed = [], [], []
    values: list[list[np.ndarray]] = [[] for _ in payload]
    for a, b in zip(starts[:-1], starts[1:]):
        sp = int(spn[a])
        g0 = max(sp, int(lo[a]))
        g1 = min(sp + span, int(hi[a]) + tier_s)
        grid = np.arange(g0, g1, tier_s, dtype=np.int64)
        d0 = a + (1 if sentinel[a] else 0)
        dense, obs = fill_span(grid, tier_s, eps[d0:b], [c[d0:b] for c in cols], payload)
        keys.append((src[a], sp))
        grids.append(grid)
        observed.append(obs)
        for out, d in zip(values, dense):
            out.append(d)
    return keys, grids, values, observed


def observed_only(
    keys: list, values: list[list[np.ndarray]], observed: list[np.ndarray]
) -> tuple[list, list[list[np.ndarray]]]:
    """`fill_groups` output -> (keys, values) of the spans with at least one
    observed epoch, each payload column's series cut to its observed epochs
    in epoch order (``v[o]``). A span with no observed row is dropped, as a
    groupBy over the observed rows would never see it."""
    keep = [i for i, o in enumerate(observed) if o.any()]
    return [keys[i] for i in keep], [[col[i][observed[i]] for i in keep] for col in values]


def dense_span_kernel(
    rollup: DataFrame,
    tier: str,
    payload: Payload,
    batch_fn: Callable[..., pd.DataFrame],
    schema,
) -> DataFrame:
    """One-shuffle zero-filled span kernel: ``batch_fn(keys, grids, values,
    observed)`` receives every complete span group of a batch (see
    `fill_groups`) and returns the output rows as a pandas frame matching
    ``schema``; an empty frame (a batch of `observed_only` gap spans, whose
    empty list columns pandas types as float64) is not yielded. Only the
    zero policy is kernel-fillable: ffill/linear need cross-span continuity
    per source, which a span-partitioned kernel cannot see (those use
    operators/gapfill.py)."""
    prep, tier_s, span = sentinel_union_prep(rollup, tier, payload)

    def kernel(frames):
        for pdf in span_batches(frames):
            out = batch_fn(*fill_groups(pdf, tier_s, span, payload))
            if len(out):
                yield out

    return prep.mapInPandas(kernel, schema)
