"""Streamed span finalization == batch tier kernel (SURVEY §2.9 closed-stack
semantics): the watermark-gated `span_stream` must reproduce the batch
`tier_kernel` output BIT-FOR-BIT (eigen lam/tc/eig, both codec blobs, the
token and doc sums and the gap epochs) on spans whose data extent aligns to
span boundaries — the declared parity surface (span_stream.py module
docstring)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from covsar_spark.operators.tier_kernel import tier_kernel
from covsar_spark.schemas import EIGEN_SPAN, ROLLUP_SCHEMA, TIERS
from covsar_spark.streaming.runner import file_stream, run_stream
from covsar_spark.streaming.span_stream import heartbeat_rows, span_stream

TIER = "1m"
TIER_S = TIERS[TIER]
SPAN = EIGEN_SPAN[TIER]
BASE = 1_700_000_000 - (1_700_000_000 % SPAN)  # span-aligned origin


def _rollup_rows(tier_s: int = TIER_S, span: int = SPAN, base: int = BASE):
    """3 sources x 3 spans of rollup rows with in-span gaps. Each span
    keeps its FIRST epoch (no fully-empty spans — a streamed span needs >=1
    row to exist) and each source keeps its span-aligned first/last epoch
    (so the batch extent clip is a no-op and parity is exact)."""
    rows = []
    for si, source in enumerate(["alpha", "beta", "gamma"]):
        for sp in range(3):
            span_s = base + sp * span
            for k in range(span // tier_s):
                epoch = span_s + k * tier_s
                is_last = sp == 2 and k == span // tier_s - 1
                # deterministic gap pattern, never the span's first epoch
                if k > 0 and not is_last and (k * 7 + si + sp) % 3 == 0:
                    continue
                tok = 50 + (k * 13 + si * 101 + sp * 29) % 400
                rows.append(
                    (source, epoch, tok, 1 + tok % 7, tok + 5, max(tok - 5, 0),
                     tok / float(tier_s), False)
                )
    return rows


def _assert_sums_and_gaps_equal(got, exp):
    """Row-aligned streamed and batch span rows carry the same token and
    doc sums and the same gap epochs."""
    assert got["s_tok"].tolist() == exp["s_tok"].tolist()
    assert got["s_docs"].tolist() == exp["s_docs"].tolist()
    assert [list(g) for g in got["gap_epochs"]] == [list(e) for e in exp["gap_epochs"]]


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_span_stream_matches_batch_kernel(spark, tmp_path, tier):
    """Parity parametrized over ALL retention tiers (round-5 verdict #7
    added 1h; 1d completes the set): 1m spans are 1h wide (60 epochs), 1h
    spans 1d wide (24 epochs), 1d spans 7d wide (7 epochs — fewer epochs
    than the P=8 lag dimension, exercising the kernel's short-series
    path) — different grid widths, same bit-exact contract."""
    tier_s, span = TIERS[tier], EIGEN_SPAN[tier]
    base = 1_700_000_000 - (1_700_000_000 % span)
    rows = _rollup_rows(tier_s, span, base)
    # flush source: advances the watermark past every real span's end so all
    # real spans time out and emit; its own span stays open and is excluded
    flush_epoch = base + 10 * span
    pdf = pd.DataFrame(
        rows + [("zz_flush", flush_epoch, 1, 1, 1, 1, 1.0 / tier_s, False)],
        columns=[f.name for f in ROLLUP_SCHEMA.fields],
    )
    path = str(tmp_path / "rollup")
    spark.createDataFrame(pdf, schema=ROLLUP_SCHEMA).coalesce(4).write.parquet(path)

    # lateness covers the whole 3-span fixture horizon: static files replay
    # in arbitrary order within one write, so any real row may trail the max
    # seen event time by up to the horizon without being "late"
    got = (
        run_stream(
            span_stream(
                file_stream(spark, path, ROLLUP_SCHEMA, max_files=2), tier,
                watermark=f"{4 * span} seconds",
            ),
            "append", name=f"span_parity_{tier}",
        )
        .filter(F.col("source") != "zz_flush")
        .toPandas()
        .sort_values(["source", "span_s"])
        .reset_index(drop=True)
    )

    batch_in = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in ROLLUP_SCHEMA.fields]),
        schema=ROLLUP_SCHEMA,
    )
    exp = (
        tier_kernel(batch_in, tier)
        .toPandas()
        .sort_values(["source", "span_s"])
        .reset_index(drop=True)
    )

    assert len(got) == len(exp) == 9, (len(got), len(exp))
    for c in ("source", "span_s", "n_epochs", "n_points"):
        assert got[c].tolist() == exp[c].tolist(), c
    # bit-exact kernel outputs: same _process on the same series
    assert got["lam"].tolist() == exp["lam"].tolist()
    assert got["tc"].tolist() == exp["tc"].tolist()
    for g, e in zip(got["eig"], exp["eig"]):
        assert np.array_equal(np.asarray(g), np.asarray(e))
    assert [bytes(b) for b in got["ts_blob"]] == [bytes(b) for b in exp["ts_blob"]]
    assert [bytes(b) for b in got["val_blob"]] == [bytes(b) for b in exp["val_blob"]]
    _assert_sums_and_gaps_equal(got, exp)


def test_heartbeat_emits_empty_interior_spans(spark, tmp_path):
    """Opt-in heartbeats close the documented coverage gap: data in spans 0
    and 2 only, heartbeats over spans 0-2 — the streamed output must contain
    the fully-empty interior span 1 as the batch sentinel's zero-filled row,
    bit-identical to the batch kernel over the SAME data rows (which emits
    span 1 because the source extent covers it)."""
    cols = [f.name for f in ROLLUP_SCHEMA.fields]
    rows = [r for r in _rollup_rows() if r[0] == "alpha"
            and (r[1] - BASE) // SPAN in (0, 2)]
    flush = [("zz_flush", BASE + 10 * SPAN, 1, 1, 1, 1, 1.0 / TIER_S, False)]
    hb = heartbeat_rows(spark, ["alpha"], BASE, BASE + 3 * SPAN, TIER).toPandas()
    pdf = pd.concat(
        [pd.DataFrame(rows + flush, columns=cols), hb[cols]], ignore_index=True
    )
    path = str(tmp_path / "rollup_hb")
    spark.createDataFrame(pdf, schema=ROLLUP_SCHEMA).coalesce(2).write.parquet(path)

    got = (
        run_stream(
            span_stream(file_stream(spark, path, ROLLUP_SCHEMA, max_files=2), TIER, watermark="4 hours"),
            "append", name="span_hb",
        )
        .filter(F.col("source") == "alpha")
        .toPandas()
        .sort_values("span_s")
        .reset_index(drop=True)
    )
    assert got["span_s"].tolist() == [BASE, BASE + SPAN, BASE + 2 * SPAN]

    batch_in = spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema=ROLLUP_SCHEMA)
    exp = (
        tier_kernel(batch_in, TIER)
        .toPandas()
        .sort_values("span_s")
        .reset_index(drop=True)
    )
    assert exp["span_s"].tolist() == got["span_s"].tolist()
    assert got["lam"].tolist() == exp["lam"].tolist()
    assert got["n_epochs"].tolist() == exp["n_epochs"].tolist()
    assert [bytes(b) for b in got["ts_blob"]] == [bytes(b) for b in exp["ts_blob"]]
    assert [bytes(b) for b in got["val_blob"]] == [bytes(b) for b in exp["val_blob"]]
    _assert_sums_and_gaps_equal(got, exp)


def test_span_stream_last_per_epoch_wins(spark, tmp_path):
    """An upstream window re-finalization (same epoch arriving twice) must
    not double-count: the streamed state dedups to the LAST row per epoch at
    finalize."""
    span_s = BASE
    # first/last epoch of the span present -> batch extent clip is a no-op
    first = [("solo", span_s + k * TIER_S, 10, 1, 10, 10, 10 / float(TIER_S), False)
             for k in (0, 1, 2, 3, SPAN // TIER_S - 1)]
    # re-emit epoch 2 with a corrected count — later file, later micro-batch
    fixed = [("solo", span_s + 2 * TIER_S, 99, 2, 99, 99, 99 / float(TIER_S), False)]
    flush = [("zz_flush", span_s + 10 * SPAN, 1, 1, 1, 1, 1.0 / TIER_S, False)]
    cols = [f.name for f in ROLLUP_SCHEMA.fields]
    path = str(tmp_path / "rollup2")
    spark.createDataFrame(pd.DataFrame(first, columns=cols), schema=ROLLUP_SCHEMA).coalesce(
        1
    ).write.parquet(path)
    spark.createDataFrame(
        pd.DataFrame(fixed + flush, columns=cols), schema=ROLLUP_SCHEMA
    ).coalesce(1).write.mode("append").parquet(path)

    got = (
        run_stream(
            span_stream(file_stream(spark, path, ROLLUP_SCHEMA, max_files=1), TIER, watermark="4 hours"),
            "append", name="span_dedup",
        )
        .filter(F.col("source") == "solo")
        .toPandas()
    )
    assert len(got) == 1
    batch_in = spark.createDataFrame(
        pd.DataFrame(first[:2] + fixed + first[3:], columns=cols), schema=ROLLUP_SCHEMA
    )
    exp = tier_kernel(batch_in, TIER).toPandas()
    assert got["lam"].tolist() == exp["lam"].tolist()
    assert [bytes(b) for b in got["val_blob"]] == [bytes(b) for b in exp["val_blob"]]
    _assert_sums_and_gaps_equal(got, exp)


def _span_rows(source, spans, tok_base=40):
    """Dense-boundary rows for `spans` (first+last epoch of the whole range
    present, every span populated) — batch extent clip is a no-op."""
    rows = []
    for sp in spans:
        span_s = BASE + sp * SPAN
        for k in range(SPAN // TIER_S):
            if 0 < k < SPAN // TIER_S - 1 and (k + sp) % 4 == 0:
                continue
            tok = tok_base + (k * 11 + sp * 57) % 300
            rows.append((source, span_s + k * TIER_S, tok, 1 + tok % 5,
                         tok + 3, max(tok - 3, 0), tok / float(TIER_S), False))
    return rows


def test_span_stream_restart_resumes_exactly_once(spark, tmp_path):
    """Stop/restart against a durable checkpoint: spans finalized in run 1
    must NOT re-emit in run 2 (state store + file offsets resume), spans
    arriving after the restart must emit, and the union must equal the
    batch kernel over all the data.

    Post-restart spans must sit ABOVE the checkpointed watermark — closing
    span N necessarily advances the watermark past span N+1's start, so a
    contiguous continuation would be late by construction (the streaming
    semantics, not a bug). Hence the 2-span gap: run 1 ships spans 0,1 and
    a flush whose watermark lands between span 1's end and span 4's start;
    run 2 ships spans 4,5."""
    cols = [f.name for f in ROLLUP_SCHEMA.fields]
    src = tmp_path / "rollup"
    out = str(tmp_path / "spans_out")
    ckpt = str(tmp_path / "ckpt")

    def run():  # same sink and checkpoint on every call: a second call is a restart
        run_stream(
            span_stream(
                file_stream(spark, str(src / "*"), ROLLUP_SCHEMA, max_files=2), TIER,
                watermark="1 hour",
            ),
            "append", path=out, checkpoint=ckpt,
        )

    part1 = _span_rows("s", [0, 1])
    # lateness 1h: wm after flush1 = BASE + 3*SPAN + 60 — past span 1's end,
    # below span 4's first row
    flush1 = [("zz_flush", BASE + 4 * SPAN + TIER_S, 1, 1, 1, 1, 1.0 / TIER_S, False)]
    spark.createDataFrame(pd.DataFrame(part1 + flush1, columns=cols), schema=ROLLUP_SCHEMA).coalesce(
        1
    ).write.parquet(str(src / "part1"))
    run()

    got1 = spark.read.parquet(out).filter(F.col("source") == "s").toPandas()
    assert sorted(got1["span_s"]) == [BASE, BASE + SPAN]

    part2 = _span_rows("s", [4, 5])
    flush2 = [("zz_flush2", BASE + 20 * SPAN, 1, 1, 1, 1, 1.0 / TIER_S, False)]
    spark.createDataFrame(pd.DataFrame(part2 + flush2, columns=cols), schema=ROLLUP_SCHEMA).coalesce(
        1
    ).write.parquet(str(src / "part2"))
    run()

    got = (
        spark.read.parquet(out)
        .filter(F.col("source") == "s")
        .toPandas()
        .sort_values("span_s")
        .reset_index(drop=True)
    )
    # exactly once: spans 0,1 NOT re-emitted on restart, 4,5 emitted once
    want_spans = [BASE, BASE + SPAN, BASE + 4 * SPAN, BASE + 5 * SPAN]
    assert got["span_s"].tolist() == want_spans

    batch_in = spark.createDataFrame(
        pd.DataFrame(part1 + part2, columns=cols), schema=ROLLUP_SCHEMA
    )
    # batch sentinels also emit the fully-EMPTY interior spans 2,3 — the
    # documented coverage difference (span_stream.py docstring): a streamed
    # span exists only if >= 1 row fell in it. Compare the populated spans.
    exp = (
        tier_kernel(batch_in, TIER)
        .filter(F.col("span_s").isin(want_spans))
        .toPandas()
        .sort_values("span_s")
        .reset_index(drop=True)
    )
    assert got["lam"].tolist() == exp["lam"].tolist()
    assert got["n_epochs"].tolist() == exp["n_epochs"].tolist()
    assert [bytes(b) for b in got["ts_blob"]] == [bytes(b) for b in exp["ts_blob"]]
    assert [bytes(b) for b in got["val_blob"]] == [bytes(b) for b in exp["val_blob"]]
    _assert_sums_and_gaps_equal(got, exp)


def test_rollup_stream_output_feeds_span_stream_schema(spark, tmp_path):
    """The deployment chain is: streaming_rollup -> file sink (tier table)
    -> span_stream file source with ROLLUP_SCHEMA. Per-stage parity is
    pinned above and in test_streaming.py; the remaining chain risk is the
    SCHEMA handoff, so pin it: the streamed rollup's output columns must
    match ROLLUP_SCHEMA name-for-name and type-for-type (a drift here
    would make the span stage read nulls or fail at runtime)."""
    from covsar_spark.schemas import TOKENS_SCHEMA
    from covsar_spark.streaming.rollup_stream import streaming_rollup

    src = tmp_path / "tokens_empty"
    src.mkdir()
    stream = file_stream(spark, str(src), TOKENS_SCHEMA)
    out = streaming_rollup(stream, "1m")
    got = [(f.name, f.dataType.simpleString()) for f in out.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in ROLLUP_SCHEMA.fields]
    assert got == want


def _doc_for_minute(source: str, minute_idx: int, copy: int = 0) -> str:
    """Find a doc_id whose crc32-derived event time (rollup.with_event_time
    == streaming_rollup: EPOCH0 + crc32(doc_id) % HORIZON) lands in minute
    slot `minute_idx` of the horizon. Deterministic linear search (~10k
    crc32 tries per slot at the 7-day horizon)."""
    import zlib

    from covsar_spark.schemas import HORIZON_S

    k = copy * 1_000_000
    while True:
        did = f"{source}:{minute_idx}:{k}"
        if (zlib.crc32(did.encode()) % HORIZON_S) // 60 == minute_idx:
            return did
        k += 1


def test_composed_stream_pipeline_matches_batch(spark, tmp_path):
    """End-to-end composed STREAMED pipeline == batch flagship tiers
    (round-6 verdict #7). Today's other parity tests feed span_stream
    synthetic rollup rows; this one drives the real upstream:

        tokens parquet --> streaming_rollup (file sink, watermarked
        append) --> union gapfill-equivalent heartbeat markers at every
        MISSING grid slot (the batch `gapfill` op's filled=True rows,
        which span_stream treats as markers by contract) --> span_stream

    and asserts the TIER_SCHEMA output is bit-identical (lam/tc/eig, both
    codec blobs, the token and doc sums and the gap epochs) to the batch
    composition `run_tiers` executes (rollup -> gapfill -> tier_kernel),
    including a fully-EMPTY interior span covered only by markers. Event times are crc32-derived on both
    paths; doc_ids are searched so each source's extent is span-aligned
    (the batch extent clip is a no-op -> exact parity surface)."""
    from covsar_spark.operators.gapfill import gapfill
    from covsar_spark.plans.pipeline import run_tiers
    from covsar_spark.schemas import EPOCH0_UNIX, HORIZON_S, TOKENS_SCHEMA
    from covsar_spark.streaming.rollup_stream import run_stream_to_files

    span_slots = SPAN // TIER_S  # 60 minutes per 1m-tier span
    # alpha: spans 0-2 populated; beta: spans 0 and 2 only (span 1 is a
    # fully-empty interior span on both paths). Both sources keep minute 0
    # and minute 179 so extents are span-aligned.
    slot_plan = {
        "alpha": [sp * span_slots + k for sp in range(3)
                  for k in (0, 7, 13, 22, 31, 40, 52, 59)],
        "beta": [sp * span_slots + k for sp in (0, 2)
                 for k in (0, 11, 27, 44, 59)],
    }
    rows = []
    for source, slots in slot_plan.items():
        for slot in slots:
            n_copies = 2 if slot % span_slots == 22 else 1
            for c in range(n_copies):
                n_tok = 20 + (slot * 13 + len(source) * 7 + c * 101) % 480
                rows.append(
                    (_doc_for_minute(source, slot, c), [1, 2], n_tok, source)
                )
    # flush doc: last minute of the horizon — advances the rollup stream's
    # watermark past every real window end; its own window never finalizes
    rows.append((_doc_for_minute("zz_flush", HORIZON_S // 60 - 1), [1], 1, "zz_flush"))
    tok_path = str(tmp_path / "tok")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"]),
        schema=TOKENS_SCHEMA,
    ).coalesce(1).write.parquet(tok_path)

    # ---- streamed path: tokens stream -> rollup stream (file sink) ----
    roll_out = str(tmp_path / "roll_out")
    run_stream_to_files(
        spark, tok_path, roll_out, str(tmp_path / "roll_ckpt"), TIER
    )
    streamed_roll = spark.read.parquet(roll_out)

    # ---- batch path: the flagship composition over the same tokens ----
    tokens = spark.read.parquet(tok_path).filter(F.col("source") != "zz_flush")
    tiers = run_tiers(
        tokens, with_eigen=True, with_chunks=True, persist=False,
    )["1m"]

    # stage-1 parity: every streamed finalized window == the batch rollup
    cols = [f.name for f in ROLLUP_SCHEMA.fields]
    got_roll = streamed_roll.toPandas()[cols].sort_values(
        ["source", "epoch_s"]).reset_index(drop=True)
    exp_roll = tiers["rollup"].toPandas()[cols].sort_values(
        ["source", "epoch_s"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_roll, exp_roll, check_dtype=False)

    # gapfill-equivalent heartbeats: the batch gapfill's filled=True marker
    # rows at every missing grid slot (span_stream contract: filled rows
    # create span state but are never observations), plus the span-stream
    # flush row
    span_in = str(tmp_path / "span_in")
    streamed_roll.coalesce(1).write.parquet(span_in)
    markers = gapfill(tiers["rollup"], TIER, "zero").filter(F.col("filled"))
    flush = spark.createDataFrame(
        pd.DataFrame(
            [("zz_flush", EPOCH0_UNIX + 10 * SPAN, 1, 1, 1, 1,
              1.0 / TIER_S, False)],
            columns=cols,
        ),
        schema=ROLLUP_SCHEMA,
    )
    markers.select(*cols).unionByName(flush).coalesce(1).write.mode(
        "append"
    ).parquet(span_in)

    got = (
        run_stream(
            span_stream(
                file_stream(spark, span_in, ROLLUP_SCHEMA, max_files=2), TIER,
                watermark=f"{4 * SPAN} seconds",
            ),
            "append", name="span_composed",
        )
        .filter(F.col("source") != "zz_flush")
        .toPandas()
        .sort_values(["source", "span_s"])
        .reset_index(drop=True)
    )
    exp = (
        tiers["fused"]
        .toPandas()
        .sort_values(["source", "span_s"])
        .reset_index(drop=True)
    )
    # 3 alpha spans + 3 beta spans (span 1 empty-interior on both paths)
    assert exp["span_s"].tolist() == got["span_s"].tolist()
    assert len(got) == 6
    for c in ("source", "n_epochs", "n_points"):
        assert got[c].tolist() == exp[c].tolist(), c
    assert got["lam"].tolist() == exp["lam"].tolist()
    assert got["tc"].tolist() == exp["tc"].tolist()
    for g, e in zip(got["eig"], exp["eig"]):
        assert np.array_equal(np.asarray(g), np.asarray(e))
    assert [bytes(b) for b in got["ts_blob"]] == [bytes(b) for b in exp["ts_blob"]]
    assert [bytes(b) for b in got["val_blob"]] == [bytes(b) for b in exp["val_blob"]]
    _assert_sums_and_gaps_equal(got, exp)
