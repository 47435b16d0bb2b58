"""Explicit schemas — never inferred (reference keeps schema external in XML
sidecars, covsar/isceio.py:26-32; we keep it in one module).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Primary input: Iceberg-layout table of pre-tokenized training sequences
# (BASELINE.json:input_hint). The SLC stack analogue: one row per (doc, epoch)
# instead of one complex raster per epoch (covsar/isceio.py:79-104).
# ---------------------------------------------------------------------------
TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), containsNull=False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# Event-time derivation (FIXTURES.md F1): computed, never stored, so token
# arrays pass through byte-identical.
EPOCH0 = "2026-01-01T00:00:00Z"
EPOCH0_UNIX = 1767225600  # seconds; 2026-01-01T00:00:00Z
HORIZON_S = 7 * 86400

# Retention tiers (the 12-day implicit cadence of the reference,
# covsar/closure_inten.py:181-185, made explicit).
TIERS: dict[str, int] = {"1m": 60, "1h": 3600, "1d": 86400}
# eigen window: per tier, the span over which one lag-cov Gram is built
# (finer tier epochs inside one coarser window == one SLC stack per pixel)
EIGEN_SPAN: dict[str, int] = {"1m": 3600, "1h": 86400, "1d": 7 * 86400}

# Rollup (continuous aggregate) row, per tier. Counts stay integral end-to-end
# so re-rollup 1m->1h->1d is exact (SURVEY.md §7.4).
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("epoch_s", T.LongType(), False),  # window start, unix sec
        T.StructField("token_count", T.LongType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("max_tok", T.IntegerType(), True),
        T.StructField("min_tok", T.IntegerType(), True),
        T.StructField("rate", T.DoubleType(), False),  # token_count / tier_sec
        T.StructField("filled", T.BooleanType(), False),  # gap-fill lineage
    ]
)

# Eigen (phase-linking analogue) output row: dominant eigenvector of the
# P x P lag-covariance Gram per (source, eigen window).
EIGEN_P = 8  # lag-embedding dimension (stack depth analogue; ref caps N=20)

EIGEN_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("span_s", T.LongType(), False),  # eigen window start
        T.StructField("n_epochs", T.IntegerType(), False),
        T.StructField("lam", T.DoubleType(), False),  # leading eigenvalue
        T.StructField("tc", T.DoubleType(), False),  # temporal coherence ∈[0,1]
        T.StructField("eig", T.ArrayType(T.DoubleType(), containsNull=False), False),
    ]
)

# Compressed tier blob: one row per (source, eigen-span) chunk.
CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("span_s", T.LongType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("ts_blob", T.BinaryType(), False),  # delta-of-delta
        T.StructField("val_blob", T.BinaryType(), False),  # Gorilla XOR
    ]
)

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
