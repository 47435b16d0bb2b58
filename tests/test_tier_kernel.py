"""Single-shuffle tier kernel must reproduce the relational pipeline exactly
(gap-filled tier table, eigen rows, codec blobs)."""

from __future__ import annotations

import numpy as np

from covsar_spark.operators.compress import compress_rollup
from covsar_spark.operators.eigen import eigen_rollup
from covsar_spark.operators.gapfill import gapfill
from covsar_spark.operators.rollup import rollup_tokens, with_event_time
from covsar_spark.operators.tier_kernel import split_outputs, tier_kernel

from .conftest import assert_frames_equal, cols_to_spark


def _sorted(df, keys):
    return df.toPandas().sort_values(keys, kind="mergesort").reset_index(drop=True)


def test_tier_kernel_equals_relational(spark, tiny_gappy_cols):
    roll = rollup_tokens(with_event_time(cols_to_spark(spark, tiny_gappy_cols)), "1m")
    k = tier_kernel(roll, "1m")
    filled_k, eig_k, chunks_k = split_outputs(k)

    filled_r = gapfill(roll, "1m", "zero")
    got = _sorted(filled_k, ["source", "epoch_s"])
    exp = _sorted(filled_r, ["source", "epoch_s"])
    assert_frames_equal(
        got, exp, keys=["source", "epoch_s"],
        exact_cols=["source", "epoch_s", "token_count", "n_docs", "max_tok", "min_tok", "filled"],
        float_cols=["rate"],
    )

    eig_r = _sorted(eigen_rollup(filled_r, "1m"), ["source", "span_s"])
    ek = _sorted(eig_k, ["source", "span_s"])
    assert np.array_equal(ek["lam"].to_numpy(), eig_r["lam"].to_numpy())
    assert np.array_equal(ek["tc"].to_numpy(), eig_r["tc"].to_numpy())
    for a, b in zip(ek["eig"], eig_r["eig"]):
        assert np.array_equal(np.asarray(a), np.asarray(b))

    ch_r = _sorted(compress_rollup(filled_r, "1m"), ["source", "span_s"])
    ck = _sorted(chunks_k, ["source", "span_s"])
    assert np.array_equal(ck["n_points"].to_numpy(), ch_r["n_points"].to_numpy())
    for a, b in zip(ck["ts_blob"], ch_r["ts_blob"]):
        assert bytes(a) == bytes(b)
    for a, b in zip(ck["val_blob"], ch_r["val_blob"]):
        assert bytes(a) == bytes(b)


def _tokens_at(spark, layout: dict[str, list[int]]):
    """Tokens whose 1m rollup has exactly the given observed minutes per
    source: doc ids are picked by their crc32 event time (the same
    derivation `with_event_time` uses), two docs per minute."""
    import zlib

    import pandas as pd

    horizon = 60 * (max(m for ms in layout.values() for m in ms) + 1)
    by_minute: dict[int, list[str]] = {}
    i = 0
    want = {m for ms in layout.values() for m in ms}
    while any(len(by_minute.get(m, [])) < 2 * len(layout) for m in want):
        doc = f"d{i}"
        by_minute.setdefault((zlib.crc32(doc.encode()) % horizon) // 60, []).append(doc)
        i += 1
    rng = np.random.default_rng(7)
    rows = []
    for s, (src, minutes) in enumerate(layout.items()):
        for m in minutes:
            for doc in by_minute[m][2 * s : 2 * s + 2]:
                rows.append((doc, int(rng.integers(1, 500)), src))
    pdf = pd.DataFrame(rows, columns=["doc_id", "n_tok", "source"])
    return spark.createDataFrame(pdf, "doc_id string, n_tok int, source string"), horizon


def test_run_tiers_closure_equals_operator(spark):
    """run_tiers computes the closure stats inside the tier kernel; they
    must equal the grouped operator's over the same rollup: same spans
    (an all-gap span has none), exact n_epochs, equal signbits, stats
    within the batched-BLAS 1e-9. 1m spans hold 25 (capped at 20), 1, 2,
    3 and 21 observed epochs, with an all-gap hour in the middle of a."""
    from covsar_spark.operators.closure_correct import closure_correct, span_stats
    from covsar_spark.plans.pipeline import run_tiers

    a = list(range(0, 25)) + [130] + [190, 215] + [250, 251, 259]
    b = [5, 50, 55] + list(range(300, 321))
    tokens, horizon = _tokens_at(spark, {"a": a, "b": b})
    keys = ["source", "span_s"]
    tiers = run_tiers(tokens, with_chunks=True, with_closure=True, horizon_s=horizon)
    for tier, d in tiers.items():
        got = _sorted(d["closure"], keys)
        exp = _sorted(span_stats(closure_correct(d["rollup"], tier, emit_pairs=False)), keys)
        assert list(got.columns) == list(exp.columns)
        assert got[keys].equals(exp[keys]), (tier, got[keys], exp[keys])
        assert np.array_equal(got["n_epochs"].to_numpy(), exp["n_epochs"].to_numpy())
        for c in exp.columns[3:]:
            g, e = got[c].to_numpy(np.float64), exp[c].to_numpy(np.float64)
            assert np.array_equal(np.signbit(g), np.signbit(e)), (tier, c)
            np.testing.assert_allclose(g, e, rtol=1e-9, atol=1e-9, err_msg=f"{tier} {c}")
        if tier == "1m":
            n = dict(zip(zip(got["source"], got["span_s"] - got["span_s"].min()), got["n_epochs"]))
            assert n == {
                ("a", 0): 20, ("a", 7200): 1, ("a", 10800): 2, ("a", 14400): 3,
                ("b", 0): 3, ("b", 18000): 20,
            }
    for d in tiers.values():
        d["rollup"].unpersist()
        d["fused"].unpersist()
