"""Incremental dirty-window tier refresh (operators/refresh.py).

The invariant under test everywhere: incremental refresh is row-identical to
a from-scratch rebuild over the full raw table — never an approximation.
Late split is deterministic (crc32 of doc_id), so every case replays.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from covsar_spark.operators.refresh import (
    dirty_windows,
    refresh_tier,
    refresh_tier_table,
    refresh_token_tier,
)
from covsar_spark.operators.rollup import rollup_tokens, with_event_time
from covsar_spark.schemas import TIERS

from .conftest import assert_frames_equal, cols_to_spark


@pytest.fixture(scope="module")
def split(spark, tiny_cols):
    """(all_ts, on_time_ts, late_ts): ~1/5 of docs arrive late."""
    all_ts = with_event_time(cols_to_spark(spark, tiny_cols)).cache()
    is_late = F.pmod(F.crc32(F.col("doc_id").cast("binary")), F.lit(5)) == 0
    on_time = all_ts.filter(~is_late).cache()
    late = all_ts.filter(is_late).cache()
    assert 0 < late.count() < all_ts.count()
    return all_ts, on_time, late


def _tiers_equal(got, want):
    assert_frames_equal(
        got.toPandas(),
        want.toPandas(),
        keys=["source", "epoch_s"],
        float_cols=("rate",),
    )


@pytest.mark.parametrize("tier", ["1m", "1h"])
def test_refresh_equals_full_rebuild(split, tier):
    all_ts, on_time, late = split
    stale = rollup_tokens(on_time, tier)
    got = refresh_token_tier(stale, all_ts, late, tier)
    _tiers_equal(got, rollup_tokens(all_ts, tier))


def test_refresh_empty_late_batch_is_noop(spark, split):
    all_ts, on_time, _ = split
    tier = rollup_tokens(on_time, "1h")
    empty = all_ts.limit(0)
    got = refresh_token_tier(tier, all_ts, empty, "1h")
    _tiers_equal(got, tier)


def test_refresh_idempotent(split):
    all_ts, on_time, late = split
    once = refresh_token_tier(rollup_tokens(on_time, "1h"), all_ts, late, "1h")
    twice = refresh_token_tier(once, all_ts, late, "1h")
    _tiers_equal(twice, rollup_tokens(all_ts, "1h"))


def test_refresh_two_sequential_batches(split):
    """Late data split again into two deliveries: refresh after each; the
    second refresh must equal the full rebuild."""
    all_ts, on_time, late = split
    half = F.pmod(F.crc32(F.col("doc_id").cast("binary")), F.lit(2))
    b1, b2 = late.filter(half == 0), late.filter(half == 1)
    seen1 = on_time.unionByName(b1)
    t0 = rollup_tokens(on_time, "1h")
    t1 = refresh_token_tier(t0, seen1, b1, "1h")
    _tiers_equal(t1, rollup_tokens(seen1, "1h"))
    t2 = refresh_token_tier(t1, all_ts, b2, "1h")
    _tiers_equal(t2, rollup_tokens(all_ts, "1h"))


def test_refresh_all_late_window_appears(spark):
    """A window whose EVERY row is late exists only after refresh — the
    recompute side must create rows the stale tier never had."""
    rows = [
        ("doc-a", [1, 2], 2, "web"),
        ("doc-b", [3], 1, "web"),
        ("doc-late", [4, 5, 6], 3, "code"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    all_ts = with_event_time(df)
    late = all_ts.filter(F.col("doc_id") == "doc-late")
    on_time = all_ts.filter(F.col("doc_id") != "doc-late")
    got = refresh_token_tier(rollup_tokens(on_time, "1h"), all_ts, late, "1h")
    _tiers_equal(got, rollup_tokens(all_ts, "1h"))
    assert got.filter(F.col("source") == "code").count() >= 1


def test_dirty_windows_cardinality(split):
    _, _, late = split
    d = dirty_windows(late, TIERS["1h"]).toPandas()
    assert d.drop_duplicates(["source", "epoch_s"]).shape[0] == d.shape[0]
    # every dirty window really holds a late row
    assert d.shape[0] <= late.count()


def test_refresh_generic_events_shape(spark):
    """Generic refresh_tier over a non-token schema (events-style count+sum),
    with an explicitly named time column."""
    ev = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 70, 2.0), ("b", 10, 3.0), ("a", 130, 4.0)],
        "source string, t long, v double",
    )

    def roll(df):
        return (
            df.groupBy("source", (F.floor(F.col("t") / 60) * 60).cast("long").alias("epoch_s"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        )

    late = ev.filter(F.col("t") == 130)
    stale = roll(ev.filter(F.col("t") != 130))
    got = refresh_tier(stale, ev, late, 60, roll, time_col="t")
    assert_frames_equal(got.toPandas(), roll(ev).toPandas(), keys=["source", "epoch_s"])


def test_refresh_tier_table_rewrites_only_dirty_days(spark, split, tmp_path):
    """On-disk repair: only dirty day partitions are rewritten (clean day
    directories keep their exact file listing), and the table equals a full
    rebuild afterwards."""
    all_ts, _, late = split
    # confine the late batch to ONE calendar day so most partitions stay clean
    from covsar_spark.schemas import EPOCH0_UNIX

    day2 = (EPOCH0_UNIX // 86400 + 2) * 86400
    late = late.filter((F.col("epoch_s") >= day2) & (F.col("epoch_s") < day2 + 86400))
    assert late.count() > 0
    late_ids = late.select("doc_id")
    on_time = all_ts.join(late_ids, "doc_id", "left_anti")
    path = str(tmp_path / "tier1h")
    from covsar_spark.sources.tables import write_tier

    write_tier(rollup_tokens(on_time, "1h"), path, "1h")
    days = sorted(d for d in os.listdir(path) if d.startswith("day="))
    assert len(days) > 1
    listing_before = {
        d: sorted(os.listdir(os.path.join(path, d))) for d in days
    }

    metrics = refresh_tier_table(
        spark, path, all_ts, late, TIERS["1h"],
        lambda df: rollup_tokens(df, "1h"),
    )
    assert metrics["n_dirty_windows"] > 0 and metrics["rows_written"] > 0

    clean_days = [d for d in days if d.split("=", 1)[1] not in metrics["dirty_days"]]
    dirty_days = [d for d in days if d.split("=", 1)[1] in metrics["dirty_days"]]
    assert dirty_days, "fixture must dirty at least one day"
    for d in clean_days:
        assert sorted(os.listdir(os.path.join(path, d))) == listing_before[d], (
            f"clean partition {d} was rewritten"
        )

    got = spark.read.parquet(path).drop("day")
    _tiers_equal(got, rollup_tokens(all_ts, "1h"))


def test_refresh_tier_table_empty_late(spark, split, tmp_path):
    all_ts, on_time, _ = split
    path = str(tmp_path / "tier1h_noop")
    from covsar_spark.sources.tables import write_tier

    write_tier(rollup_tokens(on_time, "1h"), path, "1h")
    metrics = refresh_tier_table(
        spark, path, all_ts, all_ts.limit(0), TIERS["1h"],
        lambda df: rollup_tokens(df, "1h"),
    )
    assert metrics == {"n_dirty_windows": 0, "dirty_days": [], "rows_written": 0}


def test_stream_drops_late_batch_refresh_repairs(spark, tmp_path):
    """Compose the two halves of the continuous-aggregate story: the
    watermarked stream finalizes the 1m tier over the on-time flow; a file
    then lands whose event times sit behind the already-passed watermark, so
    correct streaming semantics DROP every row (same setup as the cascade
    restart test). The batch dirty-window refresh repairs the streamed tier
    from the full raw table — and the repaired tier is row-identical to a
    from-scratch batch rebuild. This is the production loop for too-late
    data: the stream owns the flow, refresh owns the exceptions, and the
    composition loses nothing."""
    from covsar_spark.datagen import write_tokens
    from covsar_spark.streaming.cascade_stream import run_cascade_stream

    src = tmp_path / "tok"
    write_tokens(str(src / "part1"), 1200, seed=42)
    out = str(tmp_path / "tiers")
    tier_1m_dir, _ = run_cascade_stream(spark, str(src / "*"), out)
    n_streamed = spark.read.parquet(tier_1m_dir).count()

    # too-late arrivals: restart over the grown dir; the checkpointed
    # stream reads only the new file and drops every row as late
    write_tokens(str(src / "part2"), 900, seed=43)
    tier_1m_dir, _ = run_cascade_stream(spark, str(src / "*"), out)
    streamed = spark.read.parquet(tier_1m_dir).drop("batch_id", "epoch_day")
    assert streamed.count() == n_streamed, "stream was expected to drop the late file"

    part1 = with_event_time(spark.read.parquet(str(src / "part1")))
    part2 = with_event_time(spark.read.parquet(str(src / "part2")))
    all_ts = part1.unionByName(part2)

    # the repair set a reconciliation job computes: the late file PLUS every
    # on-time row whose window the watermark was still holding open when the
    # snapshot was taken (append mode never emitted it) — one broadcast
    # anti-join of raw against the tier's (source, window) keys
    win = (F.floor(F.col("epoch_s") / 60) * 60).cast("long")
    unfinalized = (
        part1.withColumn("_w", win)
        .join(
            F.broadcast(streamed.select("source", F.col("epoch_s").alias("_w"))),
            ["source", "_w"],
            "left_anti",
        )
        .drop("_w")
    )
    assert 0 < unfinalized.count() < 20  # the held-open tail is tiny
    late = part2.unionByName(unfinalized)

    repaired = refresh_token_tier(streamed, all_ts, late, "1m")
    _tiers_equal(repaired, rollup_tokens(all_ts, "1m"))


def test_refresh_clears_downsample_marker_and_rearms_policy(spark, split, tmp_path):
    """Composition with downsample-retention: a refresh repair restores full
    density to a previously-downsampled day, so it must clear that day's
    `_downsample/<day>.json` audit marker — the next policy run re-ages the
    repaired day instead of marker-skipping it forever."""
    from covsar_spark.schemas import EPOCH0_UNIX
    from covsar_spark.sources.tables import downsample_tier, write_tier

    all_ts, _, late = split
    day2 = (EPOCH0_UNIX // 86400 + 2) * 86400
    late = late.filter((F.col("epoch_s") >= day2) & (F.col("epoch_s") < day2 + 86400))
    assert late.count() > 0
    on_time = all_ts.join(late.select("doc_id"), "doc_id", "left_anti")
    path = str(tmp_path / "tier1m")
    write_tier(rollup_tokens(on_time, "1m"), path, "1m")

    # age day 2 out via the policy first
    n_out = 6
    res = downsample_tier(spark, path, day2 + 86400, n_out=n_out)
    import datetime as _dt

    day_name = "day=" + _dt.datetime.fromtimestamp(day2, _dt.timezone.utc).date().isoformat()
    assert day_name in res["downsampled_days"]
    marker = os.path.join(path, "_downsample", f"{day_name}.json")
    assert os.path.exists(marker)

    metrics = refresh_tier_table(
        spark, path, all_ts, late, TIERS["1m"],
        lambda df: rollup_tokens(df, "1m"),
    )
    assert day_name.split("=", 1)[1] in metrics["dirty_days"]
    assert day_name in metrics["downsample_markers_cleared"]
    assert not os.path.exists(marker)

    # the repaired day is raw again (full rollup density, == rebuild on that
    # day)... and the policy re-arms: a re-run downsamples it once more
    res2 = downsample_tier(spark, path, day2 + 86400, n_out=n_out)
    assert day_name in res2["downsampled_days"]
    assert os.path.exists(marker)


def test_partitioned_overwrites_leave_session_conf_alone(spark, split, tmp_path, monkeypatch):
    """Dynamic partition overwrite is a per-write option: neither the sink
    writer nor the on-disk refresh sets the session-global overwrite mode
    (a concurrent job in the same session would otherwise see it flip),
    the session keeps reading ``static``, and an overwrite of one day still
    leaves the other day's partition in place."""
    from pyspark.sql.conf import RuntimeConfig

    from covsar_spark.sources.sinks import _write_partitioned
    from covsar_spark.sources.tables import write_tier

    key = "spark.sql.sources.partitionOverwriteMode"
    keys_set = []
    real_set = RuntimeConfig.set

    def spy(self, k, v):
        keys_set.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy)

    path = str(tmp_path / "sink")
    two_days = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 86400, 2.0)], "source string, epoch_s long, v double"
    ).withColumn("day", F.date_from_unix_date(F.floor(F.col("epoch_s") / 86400).cast("int")))
    _write_partitioned(two_days, path)
    _write_partitioned(two_days.filter(F.col("epoch_s") == 0).withColumn("v", F.lit(3.0)), path)
    back = sorted((r.epoch_s, r.v) for r in spark.read.parquet(path).collect())
    assert back == [(0, 3.0), (86400, 2.0)]

    all_ts, on_time, late = split
    tier_path = str(tmp_path / "tier1h")
    write_tier(rollup_tokens(on_time, "1h"), tier_path, "1h")
    refresh_tier_table(spark, tier_path, all_ts, late, TIERS["1h"], lambda df: rollup_tokens(df, "1h"))

    assert key not in keys_set
    assert spark.conf.get(key).lower() == "static"
