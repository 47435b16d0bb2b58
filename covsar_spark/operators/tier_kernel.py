"""Single-shuffle tier kernel (zero-fill fast path).

The relational tier pipeline costs three exchanges per tier: the gap-fill
grid join, plus the kernel shuffle, and re-materializes the dense grid
through a sort-merge join. This operator collapses gap-fill + eigen + codec
into ONE exchange: it is a ``batch_fn`` over the span-kernel skeleton
(operators/spanfill.py — sentinels ∪ rows -> repartition(source, span) ->
sorted mapInPandas carry loop -> dense reindex) carrying the five rollup
columns, then runs the batched eigh + segmented Gorilla/DoD encode, emitting
one row per span: its scalars (eigen, point count, token and doc sums),
both codec blobs, and the epochs of its grid that no rollup row observed.
Sentinels guarantee even fully-empty spans (a gap wider than a whole span)
are emitted.

The span rows ship nothing the JVM already holds. The dense tier table is
the input rollup (the observed points, verbatim) plus one constant row per
gap epoch: `split_outputs` builds it with one union and one `explode`, no
further shuffle.

ONLY valid for the `zero` fill policy: ffill/linear need cross-span
continuity per source, which a span-partitioned kernel cannot see — those
use the `operators/gapfill.py` operator directly; `run_tiers` runs zero only.

Exactness: output rows must equal the relational gapfill + eigen_rollup +
compress_rollup results bit-for-bit (tests/test_tier_kernel.py); the series
fed to eigh is the same canonical zero-filled, epoch-sorted grid.
`tier_rows` is also the streamed span finalizer's kernel
(streaming/span_stream.py).

``closure=True`` also runs the closure correction's stats
(operators/closure_correct.correct_span_batch) on each span's OBSERVED
token counts — the raw-rollup series `closure_correct(fill=None)` reads,
epoch-ordered and capped at MAX_EPOCHS — and emits them as ``c_``-prefixed
columns of the same span rows, so `run_tiers(with_closure=True)` needs no
second shuffle or Python pass over the rollup. `closure_stats` recovers
the `closure_correct.span_stats` frame (tests/test_tier_kernel.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import EIGEN_P
from .closure_correct import _STATS_SCHEMA, MAX_EPOCHS, correct_span_batch
from .codecs import encode_dod_many, encode_xor_many
from .eigen import lagcov_eig_batch
from .spanfill import dense_span_kernel

TIER_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("span_s", T.LongType(), False),
        T.StructField("n_epochs", T.IntegerType(), False),
        T.StructField("lam", T.DoubleType(), False),
        T.StructField("tc", T.DoubleType(), False),
        T.StructField("eig", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("ts_blob", T.BinaryType(), False),
        T.StructField("val_blob", T.BinaryType(), False),
        T.StructField("s_tok", T.LongType(), False),
        T.StructField("s_docs", T.LongType(), False),
        # grid epochs no rollup row observed: the span's zero-filled points
        T.StructField("gap_epochs", T.ArrayType(T.LongType(), False), False),
    ]
)
# closure stats ride as c_-prefixed columns (span_stats' columns past the key)
CLOSURE_FIELDS = [T.StructField(f"c_{f.name}", f.dataType, False) for f in _STATS_SCHEMA.fields[2:]]

# zero-filled epochs carry rate 0; observed epochs carry the INPUT rollup's
# rate column verbatim (not a tok/tier_s recompute, which would silently
# diverge for rollups whose rate is e.g. pre-rounded)
TIER_PAYLOAD = [
    ("token_count", "long", 0),
    ("n_docs", "long", 0),
    ("max_tok", "int", np.nan),
    ("min_tok", "int", np.nan),
    ("rate", "double", 0.0),
]


def tier_rows(keys, grids, values, observed, p: int, closure: bool = False) -> pd.DataFrame:
    """Span-kernel batch -> TIER_SCHEMA rows: one batched eigh over the
    zero-filled token counts, one segmented encode each for the grid
    timestamps and the rate series, the token and doc sums, and each
    span's unobserved grid epochs; ``closure`` appends the CLOSURE_FIELDS
    from one batched closure correction over the observed token counts."""
    tok, docs, _, _, rate = values
    n = np.array([len(g) for g in grids], dtype=np.int32)
    res = lagcov_eig_batch([t.astype(np.float64) for t in tok], p)
    out = {
        "source": [k[0] for k in keys],
        "span_s": [k[1] for k in keys],
        "n_epochs": n,
        "lam": [r[0] for r in res],
        "tc": [r[1] for r in res],
        "eig": [r[2] for r in res],
        "n_points": n,
        "ts_blob": encode_dod_many(grids),
        "val_blob": encode_xor_many(rate),
        "s_tok": np.array([t.sum() for t in tok], dtype=np.int64),
        "s_docs": np.array([d.sum() for d in docs], dtype=np.int64),
        "gap_epochs": [g[~o] for g, o in zip(grids, observed)],
    }
    if closure:
        stats = correct_span_batch(
            [t[o][:MAX_EPOCHS].astype(np.float64) for t, o in zip(tok, observed)]
        )
        for f in CLOSURE_FIELDS:
            out[f.name] = [st[f.name[2:]] for st in stats]
    return pd.DataFrame(out)


def tier_kernel(rollup: DataFrame, tier: str, p: int = EIGEN_P, closure: bool = False) -> DataFrame:
    """rollup -> TIER_SCHEMA span rows (eigen, blobs, sums, gap epochs
    [, closure stats])."""

    def batch_fn(keys, grids, values, observed):
        return tier_rows(keys, grids, values, observed, p, closure)

    schema = T.StructType(TIER_SCHEMA.fields + CLOSURE_FIELDS) if closure else TIER_SCHEMA
    return dense_span_kernel(rollup, tier, TIER_PAYLOAD, batch_fn, schema)


def split_outputs(k: DataFrame, roll: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(kernel output, its input rollup) -> (filled tier table, eigen table,
    chunk table). The filled table is ``roll``'s rows (the observed points,
    ``filled = false``) plus one zero-filled row per gap epoch."""
    gaps = gap_rows(k.select("source", F.explode("gap_epochs").alias("epoch_s")))
    filled = roll.select(*gaps.columns).unionByName(gaps)
    eig = k.select("source", "span_s", "n_epochs", "lam", "tc", "eig")
    chunks = k.select("source", "span_s", "n_points", "ts_blob", "val_blob")
    return filled, eig, chunks


def gap_rows(points: DataFrame) -> DataFrame:
    """(source, epoch_s) rows -> ROLLUP_SCHEMA rows of zero-filled gap
    points: no tokens or docs, null max/min, rate 0, ``filled = true``."""
    return points.select(
        "source",
        "epoch_s",
        F.lit(0).cast("long").alias("token_count"),
        F.lit(0).cast("long").alias("n_docs"),
        F.lit(None).cast("int").alias("max_tok"),
        F.lit(None).cast("int").alias("min_tok"),
        F.lit(0.0).alias("rate"),
        F.lit(True).alias("filled"),
    )


def closure_stats(k: DataFrame) -> DataFrame:
    """``closure=True`` kernel output -> the `closure_correct.span_stats`
    frame. An all-gap span has no observed row, so `closure_correct`
    emits no row for it; drop it here too."""
    return k.filter(F.col("c_n_epochs") > 0).select(
        "source", "span_s", *(F.col(f.name).alias(f.name[2:]) for f in CLOSURE_FIELDS)
    )
