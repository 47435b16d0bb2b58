"""Single-shuffle tier kernel (zero-fill fast path).

The relational tier pipeline costs three exchanges per tier: the gap-fill
grid join, plus the kernel shuffle, and re-materializes the dense grid
through a sort-merge join. This operator collapses gap-fill + eigen + codec
into ONE exchange: it is a ``batch_fn`` over the span-kernel skeleton
(operators/spanfill.py — sentinels ∪ rows -> repartition(source, span) ->
sorted mapInPandas carry loop -> dense reindex) carrying the five rollup
columns, then runs the batched eigh + segmented Gorilla/DoD encode, emitting
span rows that carry the filled points as array columns — the dense tier
table is recovered JVM-side with one `explode`, no further shuffle.
Sentinels guarantee even fully-empty spans (a gap wider than a whole span)
are emitted.

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

# filled points ride as parallel array columns (one numpy array per span row)
# — zero per-point Python; the dense tier table is arrays_zip+explode'd back
# JVM-side. max/min ride as double (NaN = gap) and cast to int after explode.
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
        T.StructField("p_epoch", T.ArrayType(T.LongType(), False), False),
        T.StructField("p_tok", T.ArrayType(T.LongType(), False), False),
        T.StructField("p_docs", T.ArrayType(T.LongType(), False), False),
        T.StructField("p_max", T.ArrayType(T.DoubleType(), True), False),
        T.StructField("p_min", T.ArrayType(T.DoubleType(), True), False),
        T.StructField("p_rate", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("p_filled", T.ArrayType(T.BooleanType(), False), False),
    ]
)
TIER_SCHEMA_META = T.StructType([f for f in TIER_SCHEMA.fields if not f.name.startswith("p_")])
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


def tier_rows(
    keys, grids, values, observed, p: int, emit_points: bool, closure: bool = False
) -> pd.DataFrame:
    """Span-kernel batch -> TIER_SCHEMA rows (TIER_SCHEMA_META without
    ``emit_points``): one batched eigh over the zero-filled token counts and
    one segmented encode each for the grid timestamps and the rate series;
    ``closure`` appends the CLOSURE_FIELDS from one batched closure
    correction over the observed token counts."""
    tok, docs, mx, mn, rate = values
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
    }
    if emit_points:
        out.update(
            p_epoch=grids, p_tok=tok, p_docs=docs, p_max=mx, p_min=mn, p_rate=rate,
            p_filled=[~o for o in observed],
        )
    if closure:
        stats = correct_span_batch(
            [t[o][:MAX_EPOCHS].astype(np.float64) for t, o in zip(tok, observed)]
        )
        for f in CLOSURE_FIELDS:
            out[f.name] = [st[f.name[2:]] for st in stats]
    return pd.DataFrame(out)


def tier_kernel(
    rollup: DataFrame, tier: str, p: int = EIGEN_P, emit_points: bool = True, closure: bool = False
) -> DataFrame:
    """rollup -> span rows with (eigen, blobs[, dense filled points arrays]
    [, closure stats]).

    ``emit_points=False`` drops the point-array columns from the Arrow
    return path when no consumer materializes the dense tier (the retention
    store is the compressed chunks; dense rows decode on demand)."""

    def batch_fn(keys, grids, values, observed):
        return tier_rows(keys, grids, values, observed, p, emit_points, closure)

    schema = TIER_SCHEMA if emit_points else TIER_SCHEMA_META
    if closure:
        schema = T.StructType(schema.fields + CLOSURE_FIELDS)
    return dense_span_kernel(rollup, tier, TIER_PAYLOAD, batch_fn, schema)


def split_outputs(k: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """kernel output -> (filled tier table, eigen table, chunk table)."""
    zipped = F.arrays_zip("p_epoch", "p_tok", "p_docs", "p_max", "p_min", "p_rate", "p_filled")
    int_or_null = lambda c: F.when(~F.isnan(c), c.cast("int"))  # noqa: E731 — NaN marks a gap
    filled = k.select("source", F.explode(zipped).alias("pt")).select(
        "source",
        F.col("pt.p_epoch").alias("epoch_s"),
        F.col("pt.p_tok").alias("token_count"),
        F.col("pt.p_docs").alias("n_docs"),
        int_or_null(F.col("pt.p_max")).alias("max_tok"),
        int_or_null(F.col("pt.p_min")).alias("min_tok"),
        F.col("pt.p_rate").alias("rate"),
        F.col("pt.p_filled").alias("filled"),
    )
    eig = k.select("source", "span_s", "n_epochs", "lam", "tc", "eig")
    chunks = k.select("source", "span_s", "n_points", "ts_blob", "val_blob")
    return filled, eig, chunks


def closure_stats(k: DataFrame) -> DataFrame:
    """``closure=True`` kernel output -> the `closure_correct.span_stats`
    frame. An all-gap span has no observed row, so `closure_correct`
    emits no row for it; drop it here too."""
    return k.filter(F.col("c_n_epochs") > 0).select(
        "source", "span_s", *(F.col(f.name).alias(f.name[2:]) for f in CLOSURE_FIELDS)
    )
