"""Driver heap sizing (no JVM): the default heap is derived from the host,
never exceeds it, and `$SPARK_DRIVER_MEM` overrides it verbatim."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from covsar_spark.session import _meminfo_kb, driver_heap


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
