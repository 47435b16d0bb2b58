"""Session helpers: the default driver heap is derived from the host, never
exceeds it, and `$SPARK_DRIVER_MEM` overrides it verbatim; either way the
driver gets a fixed heap that is not pre-touched; building the session runs
no job; a failed best-effort bench warmup never blocks the run but says so
on stderr; the generated-code cache holds more classes than Spark's default
100 and keeps a pipeline's class when the pipeline comes back under another
codegen stage id; the Python daemon's zipimporters re-read an archive only
when it changed, and its workers reuse the inherited archive directory and
frozen heap across tasks (the codegen and worker tests use the JVM)."""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipfile
import zipimport
from unittest import mock

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from bench import warm_session
from covsar_spark import daemon_preload, session
from covsar_spark.session import _meminfo_kb, driver_heap, get_spark


def _mb(heap: str) -> int:
    return int(heap[:-1]) * {"m": 1, "g": 1024}[heap[-1]]


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=64 << 10, max_value=4 << 30))  # MemTotal kB: 64 MB - 4 TB
def test_derived_heap_never_exceeds_memtotal(total_kb):
    heap = driver_heap(env={}, meminfo={"MemTotal": total_kb})
    assert 0 < _mb(heap) * 1024 <= total_kb
    assert _mb(heap) <= 16 << 10


def test_this_host_heap_fits():
    assert _mb(driver_heap(env={})) * 1024 <= _meminfo_kb()["MemTotal"]


def test_env_override_is_verbatim():
    assert driver_heap(env={"SPARK_DRIVER_MEM": "6g"}, meminfo={"MemTotal": 1 << 20}) == "6g"


def _built_conf(monkeypatch) -> dict[str, str]:
    """The conf get_spark hands the builder, with the builder mocked out."""
    monkeypatch.setattr(os, "environ", os.environ.copy())  # get_spark sets BLAS pins
    monkeypatch.setattr(session, "SparkSession", mock.MagicMock())
    builder = session.SparkSession.builder
    builder.master.return_value = builder.appName.return_value = builder.config.return_value = builder
    get_spark(cores=2)
    return {c.args[0]: c.args[1] for c in builder.config.call_args_list}


@pytest.mark.parametrize("env_heap", ["3g", None])
def test_driver_heap_is_fixed_and_not_pretouched(monkeypatch, env_heap):
    """On the $SPARK_DRIVER_MEM path and on the derived one, the driver JVM
    gets a fixed heap (-Xms) that it commits on demand."""
    if env_heap is None:
        monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
        monkeypatch.setattr(session, "_meminfo_kb", lambda: {"MemTotal": 10 << 20})
        heap = "4096m"  # 40% of 10 GB
    else:
        monkeypatch.setenv("SPARK_DRIVER_MEM", env_heap)
        heap = env_heap
    conf = _built_conf(monkeypatch)
    opts = conf["spark.driver.extraJavaOptions"].split()
    assert conf["spark.driver.memory"] == heap
    assert f"-Xms{heap}" in opts
    assert not any("AlwaysPreTouch" in o for o in opts)


def test_get_spark_runs_no_job(monkeypatch):
    """Session build only builds: no job (a warmup, a probe read) runs in it."""
    monkeypatch.setattr(os, "environ", os.environ.copy())  # get_spark sets BLAS pins
    monkeypatch.setattr(session, "SparkSession", mock.MagicMock())
    spark = get_spark(cores=2)
    spark.range.assert_not_called()
    assert spark.read.mock_calls == []
    spark.createDataFrame.assert_not_called()


def test_failed_warmups_report_on_stderr(capsys):
    spark = mock.MagicMock()
    spark.sparkContext.applicationId = "fake-app-warmup-test"
    spark.range.side_effect = RuntimeError("planted range failure")

    def set_job_description(desc):
        if desc is None:
            raise RuntimeError("planted reset failure")

    spark.sparkContext.setJobDescription.side_effect = set_job_description
    warm_session(spark, 2)
    captured = capsys.readouterr()
    assert captured.out == ""
    assert captured.err.splitlines() == [
        "covsar_spark: python worker warmup failed: RuntimeError: planted range failure",
        "covsar_spark: jvm operator warmup failed: RuntimeError: planted range failure",
        "covsar_spark: warmup job description reset failed: RuntimeError: planted reset failure",
    ]


def _codegen_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_outlives_more_than_100_classes(spark):
    """A re-run plan reuses its generated classes even after more than 100
    other distinct classes were compiled since its last run (Spark's default
    cache of 100 recompiles every one of them)."""
    plans = [f"id * {i} + 7919 AS x" for i in range(2, 62)]
    rounds = []
    for _ in range(2):
        before = _codegen_compiles(spark)
        for expr in plans:
            spark.range(8).selectExpr(expr).collect()
        rounds.append(_codegen_compiles(spark) - before)
    assert rounds[0] > 100
    assert rounds[1] == 0


def test_pipeline_keeps_its_class_under_a_new_codegen_stage_id(spark):
    """The same pipeline planned under a different whole-stage codegen id
    (here: as the second child of a union instead of the only stage, as AQE
    renumbers a plan's stages from run to run) reuses its generated class."""
    alone = spark.range(8).selectExpr("id * 3 + 7919 AS x")
    other = spark.range(5).selectExpr("id * 5 + 104729 AS x")
    alone.collect()  # compiled as codegen stage 1
    other.collect()
    before = _codegen_compiles(spark)
    rows = other.unionAll(alone).collect()  # `alone` is now stage 2
    assert _codegen_compiles(spark) - before == 0
    assert len(rows) == 13


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ zipimporters do not re-read")
def test_zip_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon_preload._invalidate_if_changed)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        import m1

        assert m1.NAME == "m1"
        importlib.invalidate_caches()  # first call stamps, as the daemon's does
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["m1", "m2"])  # a larger archive: a new stamp
        importlib.invalidate_caches()
        assert reads == [archive]
        import m2

        assert m2.NAME == "m2"

        os.remove(archive)
        importlib.invalidate_caches()  # falls through to the original: no raise
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _worker_state(batches):
    import pandas as pd

    (archive,) = [k for k in zipimport._zip_directory_cache if k.endswith("pyspark.zip")]
    for _ in batches:
        pass
    yield pd.DataFrame(
        {
            "pid": [os.getpid()],
            "dir_id": [id(zipimport._zip_directory_cache[archive])],
            "frozen": [gc.get_freeze_count()],
        }
    )


def test_workers_keep_zip_directory_and_frozen_heap_across_tasks(spark):
    """A reused worker's pyspark.zip directory is the same dict in every
    task it runs (the per-task invalidation does not re-read it), and the
    daemon froze its preloaded heap before forking. Idle workers are handed
    out in turn, so each job runs more tasks than the pool holds workers."""
    schema = "pid long, dir_id long, frozen long"
    rows = [
        (job, r)
        for job in range(2)
        for r in spark.range(0, 64, 1, 32).mapInPandas(_worker_state, schema).collect()
    ]
    dir_ids, jobs = {}, {}
    for job, r in rows:
        dir_ids.setdefault(r.pid, set()).add(r.dir_id)
        jobs.setdefault(r.pid, set()).add(job)
    assert any(len(j) == 2 for j in jobs.values())
    assert all(len(ids) == 1 for ids in dir_ids.values())
    assert all(r.frozen > 0 for _, r in rows)
