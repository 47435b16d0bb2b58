"""Session helpers: the default driver heap is derived from the host, never
exceeds it, and `$SPARK_DRIVER_MEM` overrides it verbatim; building the
session runs no job; a failed best-effort bench warmup never blocks the run
but says so on stderr; the generated-code cache holds more classes than
Spark's default 100 (the one test here that uses the JVM)."""

from __future__ import annotations

import os
from unittest import mock

from hypothesis import given, settings
from hypothesis import strategies as st

from bench import warm_session
from covsar_spark import session
from covsar_spark.session import _meminfo_kb, driver_heap, get_spark


def _mb(heap: str) -> int:
    return int(heap[:-1]) * {"m": 1, "g": 1024}[heap[-1]]


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=64 << 10, max_value=4 << 30),  # MemTotal kB: 64 MB - 4 TB
    st.floats(min_value=0.0, max_value=1.0),
)
def test_derived_heap_never_exceeds_memtotal(total_kb, avail_frac):
    meminfo = {"MemTotal": total_kb, "MemAvailable": int(total_kb * avail_frac)}
    heap, pretouch = driver_heap(env={}, meminfo=meminfo)
    assert 0 < _mb(heap) * 1024 <= total_kb
    assert _mb(heap) <= 16 << 10
    # pre-touch commits the whole heap: only when it fits twice into what
    # the host has available
    assert pretouch == (2 * _mb(heap) * 1024 <= meminfo["MemAvailable"])


def test_this_host_heap_fits():
    heap, _ = driver_heap(env={})
    assert _mb(heap) * 1024 <= _meminfo_kb()["MemTotal"]


def test_env_override_is_verbatim():
    assert driver_heap(env={"SPARK_DRIVER_MEM": "6g"}, meminfo={"MemTotal": 1 << 20}) == ("6g", True)


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
