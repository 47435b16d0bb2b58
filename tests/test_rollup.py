"""Rollup tiers + cascade: Spark engine vs single-threaded oracle, exact."""

from __future__ import annotations

import numpy as np

from covsar_spark import oracle
from covsar_spark.operators.rollup import cascade, rollup_all_tiers, rollup_tokens, with_event_time

from .conftest import assert_frames_equal, cols_to_spark


def test_event_time_matches_oracle(spark, tiny_cols):
    df = cols_to_spark(spark, tiny_cols)
    got = with_event_time(df).select("doc_id", "epoch_s").toPandas().sort_values("doc_id")
    want_epoch = oracle.derive_epoch_s(tiny_cols["doc_id"])
    assert np.array_equal(got["epoch_s"].to_numpy(), want_epoch)


def test_rollup_all_tiers_exact(spark, tiny_cols):
    df = cols_to_spark(spark, tiny_cols)
    tiers = rollup_all_tiers(df)
    odf = oracle.tokens_frame(tiny_cols)
    m1 = oracle.rollup(odf, "1m")
    expected = {"1m": m1, "1h": oracle.cascade(m1, "1h"), "1d": oracle.cascade(oracle.cascade(m1, "1h"), "1d")}
    for tier in ("1m", "1h", "1d"):
        got = tiers[tier].toPandas()
        assert_frames_equal(got, expected[tier], keys=["source", "epoch_s"])


def test_salted_rollup_identical(spark, tiny_cols):
    """Salting splits hot sources but must not change any value (long sums
    are order-free)."""
    df = with_event_time(cols_to_spark(spark, tiny_cols))
    plain = rollup_tokens(df, "1m").toPandas()
    salted = rollup_tokens(df, "1m", salt_buckets=8).toPandas()
    assert_frames_equal(salted, plain, keys=["source", "epoch_s"])


def test_cascade_equals_direct_rollup(spark, tiny_cols):
    """Continuous-aggregate invariant: 1h from 1m == 1h from raw (relook
    analogue, covsar/covariance.py:48-61)."""
    df = with_event_time(cols_to_spark(spark, tiny_cols))
    m1 = rollup_tokens(df, "1m")
    via_cascade = cascade(m1, "1h").toPandas()
    direct = rollup_tokens(df, "1h").toPandas()
    assert_frames_equal(via_cascade, direct, keys=["source", "epoch_s"])


def test_tokens_pass_through_byte_identical(spark, tiny_cols):
    """input_hint invariant: token arrays untouched by event-time derivation."""
    df = cols_to_spark(spark, tiny_cols)
    out = with_event_time(df).select("doc_id", "tokens").toPandas().sort_values("doc_id")
    off = tiny_cols["offsets"]
    flat = tiny_cols["flat_tokens"]
    order = np.argsort(tiny_cols["doc_id"])
    for row_idx, (_, row) in zip(order, out.iterrows()):
        exp = flat[off[row_idx] : off[row_idx + 1]]
        assert np.array_equal(np.asarray(row["tokens"], dtype=np.int32), exp)
