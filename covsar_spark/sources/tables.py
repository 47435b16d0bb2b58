"""Tier-table persistence: Iceberg-layout partitioned parquet.

The reference's "catalog" is a glob over directories whose names are the
epochs (covsar/closure_inten.py:68-78), and its sink is a raw binary file +
XML sidecar (covsar/isceio.py:13-35). Here: one source abstraction over
columnar tables, written partitioned by (tier, day) so epoch-range predicates
become partition pruning. Real Iceberg needs jars not present in this image —
`write_tier` degrades to a plain partitioned parquet dir with an identical
layout, behind an import-try on the iceberg catalog (SURVEY.md S8).

Scale notes: day-level partitions keep file counts sane at 10^12 sequences
(1m tier: 1440 rows/source/day; sources x days directories); sorting within
partitions by (source, epoch_s) gives parquet min/max stats that prune
source-range scans too.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _has_iceberg(spark: SparkSession) -> bool:
    try:
        # attribute access on _jvm returns a lazy JavaPackage even for
        # missing classes — force real classloading
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")  # noqa: SLF001
        return True
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.lang.ClassNotFoundException":
            raise
        return False


def utc_day(col: str = "epoch_s") -> F.Column:
    """Partition day key as a DATE from INTEGER UTC day arithmetic
    (date_from_unix_date(floor(epoch/86400))) — no timezone function, so a
    table written and read under different spark.sql.session.timeZone values
    prunes identically (round-4 review: date_format keys silently dropped
    rows across sessions; streaming/cascade_stream.py uses the same
    integer-day principle)."""
    return F.date_from_unix_date(F.floor(F.col(col) / 86400).cast("int"))


def _utc_day_lit(epoch: int) -> F.Column:
    return F.date_from_unix_date(F.lit(int(epoch) // 86400))


def write_tier(
    roll: DataFrame, path: str, tier: str, mode: str = "overwrite", table: str | None = None
) -> None:
    """Persist a tier rollup partitioned by UTC day.

    With ``table`` set AND iceberg jars on the classpath, commits to that
    catalog TABLE (append honors ``mode='append'``); the filesystem ``path``
    form is always the identical-layout partitioned parquet — `read_tier`
    reads the path form. (Previously the Iceberg branch passed the PATH to
    writeTo() — an invalid multipart identifier — and ignored ``mode``;
    round-4 review.)"""
    with_day = roll.withColumn("day", utc_day())
    spark = roll.sparkSession
    if table is not None and _has_iceberg(spark):  # pragma: no cover — jars absent here
        w = with_day.writeTo(table)
        if mode == "append":
            w.append()
        else:
            w.partitionedBy("day").createOrReplace()
        return
    (
        # repartition by (day, source): one task per day would funnel every
        # source of that day through a single sorter/writer (straggler/OOM
        # at 10^12-sequence scale); day-level directories still come from
        # partitionBy, now with per-source-group files inside
        with_day.repartition("day", "source")
        .sortWithinPartitions("source", "epoch_s")
        .write.mode(mode)
        .partitionBy("day")
        .parquet(path)
    )


def read_tier(spark: SparkSession, path: str, lo_epoch: int | None = None, hi_epoch: int | None = None) -> DataFrame:
    """Scan a tier table; epoch bounds become day-partition pruning plus a
    row-level filter (check `.explain` for PartitionFilters)."""
    df = spark.read.parquet(path)
    if lo_epoch is not None:
        df = df.filter((F.col("day") >= _utc_day_lit(lo_epoch)) & (F.col("epoch_s") >= lo_epoch))
    if hi_epoch is not None:
        df = df.filter((F.col("day") <= _utc_day_lit(hi_epoch)) & (F.col("epoch_s") <= hi_epoch))
    return df.drop("day")


def apply_retention(
    spark: SparkSession,
    path: str,
    older_than_epoch: int,
    table: str | None = None,
    dry_run: bool = False,
) -> dict:
    """Retention enforcement for one tier table (the continuous-aggregate
    `drop_chunks` analogue the reference's ever-growing epoch directories
    never had, covsar/closure_inten.py:68-78): drop every `day=` partition
    whose ENTIRE day lies strictly before `older_than_epoch`. Partition
    granularity means no row-level rewrite — a day directory is removed
    whole through the Hadoop FileSystem API (works for file://, hdfs://,
    s3a:// alike), and only `day=YYYY-MM-DD`-named children are ever
    touched. Idempotent; re-running returns an empty drop list.

    Returns a metrics dict {dropped_days, kept_days, cutoff_day, bytes_dropped}
    and, unless dry_run, writes it (plus the dropped names) to
    `_retention/<cutoff_day>.json` inside the table dir — the audit-trail
    sibling of the checkpoint lineage manifests (plans/checkpoint.py).

    With `table` set and Iceberg jars present, also issues the catalog-side
    `DELETE WHERE day < cutoff` so snapshot readers see the same horizon.
    """
    from datetime import date, timedelta

    cutoff_day = int(older_than_epoch) // 86400
    jvm, hpath, fs = _hfs(spark, path)
    dropped, kept, bytes_dropped = [], [], 0
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("day=")):
            continue
        try:
            d = date.fromisoformat(name[4:])
        except ValueError:
            kept.append(name)
            continue
        day_index = (d - date(1970, 1, 1)).days
        # drop only days that END before the cutoff instant
        if (day_index + 1) * 86400 <= older_than_epoch:
            bytes_dropped += fs.getContentSummary(st.getPath()).getLength()
            dropped.append(name)
            if not dry_run:
                fs.delete(st.getPath(), True)
        else:
            kept.append(name)
    if table is not None and _has_iceberg(spark) and not dry_run:  # pragma: no cover
        spark.sql(
            f"DELETE FROM {table} WHERE day < date_from_unix_date({cutoff_day})"
        )
    metrics = {
        "cutoff_day": (date(1970, 1, 1) + timedelta(days=cutoff_day)).isoformat(),
        "dropped_days": len(dropped),
        "kept_days": len(kept),
        "bytes_dropped": int(bytes_dropped),
    }
    if dropped and not dry_run:
        man_dir = jvm.org.apache.hadoop.fs.Path(path, "_retention")
        fs.mkdirs(man_dir)
        man = jvm.org.apache.hadoop.fs.Path(man_dir, f"{metrics['cutoff_day']}.json")
        _write_small_json(fs, man, {**metrics, "dropped": sorted(dropped)})
    return {**metrics, "dropped": sorted(dropped)}


def apply_retention_policy(
    spark: SparkSession,
    tier_paths: dict[str, str],
    horizons_s: dict[str, int | None],
    now_epoch: int,
    dry_run: bool = False,
) -> dict[str, dict]:
    """Per-tier retention policy: fine tiers keep short horizons, coarse
    tiers long ones (the retention half of a continuous-aggregate stack —
    e.g. {'1m': 7d, '1h': 90d, '1d': None}). `None` = keep forever. Returns
    per-tier apply_retention metrics keyed by tier name."""
    results: dict[str, dict] = {}
    for tier, path in tier_paths.items():
        horizon = horizons_s.get(tier)
        if horizon is None:
            results[tier] = {"skipped": "no horizon"}
            continue
        results[tier] = apply_retention(
            spark, path, now_epoch - int(horizon), dry_run=dry_run
        )
    return results


def _hfs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath, hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001


def _read_small_json(spark: SparkSession, fs, p) -> dict:
    import json as _json

    stream = fs.open(p)
    try:
        ba = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)  # noqa: SLF001
    finally:
        stream.close()
    return _json.loads(bytes(ba).decode())


def _write_small_json(fs, p, payload: dict) -> None:
    import json as _json

    out = fs.create(p, True)
    out.write(bytearray(_json.dumps(payload).encode()))
    out.close()


def _recover_compaction(spark: SparkSession, path: str) -> list[str]:
    """Complete any compaction commit interrupted by a crash. A leftover
    `_compaction/<day>.json` intent manifest means staged files and input
    deletions may be partially applied; both halves are idempotent replays:
    each staged file is moved into the day dir unless already there, then
    every listed input file that still exists is deleted. Staging dirs with
    NO manifest are uncommitted work — discarded whole."""
    jvm, _, fs = _hfs(spark, path)
    man_dir = jvm.org.apache.hadoop.fs.Path(path, "_compaction")
    staging_root = jvm.org.apache.hadoop.fs.Path(path, "_compact_staging")
    recovered: list[str] = []
    if fs.exists(man_dir):
        for st in fs.listStatus(man_dir):
            if not st.getPath().getName().endswith(".json"):
                continue
            man = _read_small_json(spark, fs, st.getPath())
            day = man["day"]
            day_dir = jvm.org.apache.hadoop.fs.Path(path, day)
            staged_dir = jvm.org.apache.hadoop.fs.Path(staging_root, day)
            for name in man["staged"]:
                dst = jvm.org.apache.hadoop.fs.Path(day_dir, name)
                src = jvm.org.apache.hadoop.fs.Path(staged_dir, name)
                if fs.exists(dst):
                    if fs.exists(src):
                        fs.delete(src, False)
                elif fs.exists(src):
                    fs.rename(src, dst)
                else:
                    raise RuntimeError(
                        f"compaction manifest for {day} lists staged file "
                        f"{name} present in neither staging nor the partition"
                    )
            for name in man["inputs"]:
                victim = jvm.org.apache.hadoop.fs.Path(day_dir, name)
                if fs.exists(victim):
                    fs.delete(victim, False)
            fs.delete(st.getPath(), False)
            if fs.exists(staged_dir):
                fs.delete(staged_dir, True)
            recovered.append(day)
    if fs.exists(staging_root):
        # anything left has no manifest → never committed → safe to discard
        fs.delete(staging_root, True)
    return recovered


def _day_parquet_listing(jvm, fs, path: str, day: str) -> dict[str, int]:
    day_dir = jvm.org.apache.hadoop.fs.Path(path, day)
    return {
        f.getPath().getName(): f.getLen()
        for f in fs.listStatus(day_dir)
        if f.isFile() and f.getPath().getName().endswith(".parquet")
    }


def _compact_day(
    spark: SparkSession,
    path: str,
    day: str,
    captured: dict[str, int],
    target_file_bytes: int,
) -> dict:
    """Compact one day partition from an EXPLICIT captured file listing.

    Concurrency contract (round-7 advice): a micro-batch file appended to
    the day between the triggering scan and this commit is never touched —
    the rewrite reads exactly the captured files, stages its output OUTSIDE
    the live tree, re-checks the live listing, and on commit deletes only
    the captured inputs. If the listing changed the day is SKIPPED (the
    next run sees the merged set). Crash safety: an intent manifest
    (`_compaction/<day>.json`) is written before the first live-tree
    mutation; `_recover_compaction` replays an interrupted commit
    idempotently, so readers never lose the day's rows (worst transient
    state: staged duplicates alongside inputs for the manifest's lifetime,
    resolved by recovery before the next scan)."""
    import math as _m

    jvm, _, fs = _hfs(spark, path)
    staged_dir = jvm.org.apache.hadoop.fs.Path(path, f"_compact_staging/{day}")
    nbytes = sum(captured.values())
    n_out = max(1, _m.ceil(nbytes / target_file_bytes))
    # read exactly the captured leaf files (no partition discovery — the
    # staged files carry the same physical schema as the ones they replace)
    inputs = [f"{path}/{day}/{name}" for name in sorted(captured)]
    (
        spark.read.parquet(*inputs)
        .repartition(n_out)
        .sortWithinPartitions("source", "epoch_s")
        .write.mode("overwrite")
        .parquet(str(staged_dir))
    )
    res = _commit_staged_day(spark, path, day, captured, staged_dir)
    if res["status"] == "committed":
        return {"day": day, "status": "compacted", "files_out": res["files_out"]}
    return {"day": day, "status": res["status"], "files_out": 0}


def _commit_staged_day(spark: SparkSession, path: str, day: str, captured: dict[str, int], staged_dir) -> dict:
    """Shared atomic day-rewrite commit (compaction AND downsample-retention
    use it, so the crash/concurrency contract is one code path): re-check
    the live listing against the captured one (changed → discard staged,
    skip — a concurrently appended file is never touched), write the intent
    manifest, swap staged files in, delete exactly the captured inputs.
    `_recover_compaction` replays an interrupted commit idempotently."""
    jvm, _, fs = _hfs(spark, path)
    day_dir = jvm.org.apache.hadoop.fs.Path(path, day)
    staged = sorted(
        f.getPath().getName()
        for f in fs.listStatus(staged_dir)
        if f.isFile() and f.getPath().getName().endswith(".parquet")
    )
    live = _day_parquet_listing(jvm, fs, path, day)
    if live != captured:
        fs.delete(staged_dir, True)
        return {"day": day, "status": "skipped_concurrent_write", "files_out": 0}
    man_dir = jvm.org.apache.hadoop.fs.Path(path, "_compaction")
    fs.mkdirs(man_dir)
    man_path = jvm.org.apache.hadoop.fs.Path(man_dir, f"{day}.json")
    _write_small_json(
        fs, man_path, {"day": day, "inputs": sorted(captured), "staged": staged}
    )
    for name in staged:
        fs.rename(
            jvm.org.apache.hadoop.fs.Path(staged_dir, name),
            jvm.org.apache.hadoop.fs.Path(day_dir, name),
        )
    for name in captured:
        fs.delete(jvm.org.apache.hadoop.fs.Path(day_dir, name), False)
    fs.delete(man_path, False)
    fs.delete(staged_dir, True)
    return {"day": day, "status": "committed", "files_out": len(staged)}


def downsample_tier(
    spark: SparkSession,
    path: str,
    older_than_epoch: int,
    n_out: int,
    value_col: str = "token_count",
    keys: tuple[str, ...] = ("source",),
    dry_run: bool = False,
) -> dict:
    """Age-based downsample-then-retain: rewrite every day partition whose
    ENTIRE day lies strictly before `older_than_epoch` to at most `n_out`
    LTTB-picked rows per series — the middle rung of the tier lifecycle
    between keep-raw and drop-whole (`apply_retention`). TimescaleDB ships
    this exact policy shape (downsample + retention on continuous
    aggregates, public semantics); the reference instead keeps every epoch
    directory forever (covsar/closure_inten.py:68-78).

    Picked rows are WHOLE rows of the tier (all columns survive — the pick
    uses (epoch_s, `value_col`) through the integer-exact LTTB kernel,
    operators/downsample.lttb_indices), so schema, day partitioning, and
    read_tier pruning are unchanged; only density drops (e.g. a 1m tier's
    1440 rows/source/day → n_out=64 keeps extremes a dashboard needs where
    stride decimation would lose them).

    Concurrency/crash contract is compaction's, through the SAME
    `_commit_staged_day` path: captured listing, staged rewrite outside the
    live tree, skip if the listing changed, intent manifest replayed by
    `_recover_compaction`. Idempotence: a rewritten day records an audit
    marker `_downsample/<day>.json` (rows in/out, n_out, cutoff) and is
    skipped on re-runs; `refresh_tier_table` clears a repaired day's marker
    automatically (its rewrite restores full density), so the policy re-arms
    on the next run.

    At 10^12 rows the scan cost is bounded by construction: only day
    directories older than the cutoff are ever listed or read (partition
    pruning by name), and of those only unmarked ones — steady state
    touches exactly the days that aged past the horizon since the last run.

    Returns {downsampled_days, skipped_days, already_days, kept_days,
    recovered_days, rows_in, rows_out}.
    """
    import numpy as np
    import pandas as pd

    from ..operators.downsample import lttb_indices

    recovered = _recover_compaction(spark, path)
    jvm, hpath, fs = _hfs(spark, path)
    cutoff_day = int(older_than_epoch) // 86400
    mark_dir = jvm.org.apache.hadoop.fs.Path(path, "_downsample")

    from datetime import date

    todo: list[tuple[str, dict[str, int]]] = []
    kept = already = 0
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("day=")):
            continue
        d = date.fromisoformat(name[4:])
        day_ord = (d - date(1970, 1, 1)).days
        if day_ord >= cutoff_day:
            kept += 1
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(mark_dir, f"{name}.json")):
            already += 1
            continue
        todo.append((name, _day_parquet_listing(jvm, fs, path, name)))

    if dry_run:
        return {
            "downsampled_days": [], "skipped_days": [], "recovered_days": recovered,
            "already_days": already, "kept_days": kept,
            "candidate_days": [n for n, _ in todo], "rows_in": 0, "rows_out": 0,
        }

    gcols = list(keys)

    def _pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["epoch_s"], kind="mergesort").reset_index(drop=True)
        idx = lttb_indices(
            pdf["epoch_s"].to_numpy(np.int64),
            pdf[value_col].to_numpy(np.int64),
            n_out,
        )
        return pdf.iloc[idx]

    done, skipped = [], []
    rows_in = rows_out = 0
    for name, captured in todo:
        inputs = [f"{path}/{name}/{f}" for f in sorted(captured)]
        src = spark.read.parquet(*inputs)
        n_in = src.count()
        staged_dir = jvm.org.apache.hadoop.fs.Path(path, f"_compact_staging/{name}")
        (
            src.groupBy(*gcols)
            .applyInPandas(_pick, src.schema)
            .coalesce(1)  # a downsampled day is n_out x n_series rows — one file
            .sortWithinPartitions(*gcols, "epoch_s")
            .write.mode("overwrite")
            .parquet(str(staged_dir))
        )
        res = _commit_staged_day(spark, path, name, captured, staged_dir)
        if res["status"] != "committed":
            skipped.append(name)
            continue
        n_out_rows = int(spark.read.parquet(f"{path}/{name}").count())
        fs.mkdirs(mark_dir)
        _write_small_json(
            fs,
            jvm.org.apache.hadoop.fs.Path(mark_dir, f"{name}.json"),
            {"day": name, "cutoff_day": cutoff_day, "n_out": n_out,
             "value_col": value_col, "rows_in": int(n_in), "rows_out": n_out_rows},
        )
        done.append(name)
        rows_in += int(n_in)
        rows_out += n_out_rows
    return {
        "downsampled_days": done, "skipped_days": skipped,
        "recovered_days": recovered, "already_days": already, "kept_days": kept,
        "rows_in": rows_in, "rows_out": rows_out,
    }


def compact_tier(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Small-file compaction per day partition — the maintenance sibling of
    `apply_retention` (Iceberg's rewrite_data_files / OPTIMIZE analogue).
    Streaming appends leave each day with one parquet file per micro-batch;
    at 10^12 sequences that is file-count death for the scan planner. For
    every `day=` partition whose parquet file count is >= `min_files` AND
    whose average file size is under half the target, rewrite JUST that
    partition with ceil(bytes / target) files (other days untouched;
    sortWithinPartitions restores the (source, epoch_s) min/max stats
    `write_tier` guarantees).

    Safe against concurrent appends and crashes (round-7 advice): inputs
    are captured as an explicit listing, output is staged under
    `_compact_staging/` and committed through an intent manifest
    (`_compaction/<day>.json`) that `_recover_compaction` replays first on
    every run; a day whose listing changed between scan and commit is
    skipped, and only captured inputs are ever deleted — a file appended
    mid-compaction always survives.

    Returns {compacted_days, skipped_days, recovered_days, files_before,
    files_after, bytes}; idempotent — a compacted day fails the trigger on
    the next run.
    """
    recovered = _recover_compaction(spark, path)
    jvm, hpath, fs = _hfs(spark, path)
    todo: list[tuple[str, dict[str, int]]] = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("day=")):
            continue
        listing = _day_parquet_listing(jvm, fs, path, name)
        nbytes = sum(listing.values())
        if len(listing) >= min_files and nbytes / max(len(listing), 1) < target_file_bytes / 2:
            todo.append((name, listing))
    compacted, skipped = [], []
    files_after = 0
    total_bytes = 0
    for name, listing in todo:
        res = _compact_day(spark, path, name, listing, target_file_bytes)
        if res["status"] == "compacted":
            compacted.append(name)
            files_after += res["files_out"]
            total_bytes += sum(listing.values())
        else:
            skipped.append(name)
    staging_root = jvm.org.apache.hadoop.fs.Path(path, "_compact_staging")
    if fs.exists(staging_root) and not list(fs.listStatus(staging_root)):
        fs.delete(staging_root, False)
    return {
        "compacted_days": compacted,
        "skipped_days": skipped,
        "recovered_days": recovered,
        "files_before": sum(len(li) for n, li in todo if n in set(compacted)),
        "files_after": files_after,
        "bytes": int(total_bytes),
    }
