"""pyspark.daemon with the heavyweight scientific imports preloaded.

Python workers fork from the pyspark daemon process; a worker forked from a
bare daemon pays ``import numpy; import pandas`` (plus pyarrow for Arrow
UDFs) inside the first task it runs. The session forks no worker up
front: the first Arrow stage forks one per task, and any stage topology
that needs MORE simultaneous workers than are idle — chained
ArrowEvalPython nodes in one stage (each node holds its own worker per
task), or a broadcast-side Arrow subtree executing concurrently with the
main stage, or several tier kernels materializing in one job — forks fresh
workers mid-query, and N cold imports under full CPU contention turn into a
multi-second stall inside whichever query hit it (measured: ann_ivf_topk
one-shot 9-21s vs 1.4s steady, all 32 tasks of the final stage burning
15-21s each while 32 just-forked workers imported).

Importing the libraries ONCE in the daemon makes every subsequent worker
fork inherit them via copy-on-write: worker startup drops from ~1s of
imports to a bare fork. This is standard CPython preload-before-fork
practice, exposed by Spark precisely for this purpose via
``spark.python.daemon.module`` (the module must run pyspark.daemon's
``manager()`` when executed with ``python -m``).

Two costs then remain in every task a reused worker runs, both start-up
rather than compute (measured in the workers of a 4-vCPU local session,
Python 3.11.7, pyspark 4.1.2):

- Each task's ``setup_spark_files`` ends in ``importlib.invalidate_caches()``.
  On CPython 3.11 and 3.12 a ``zipimporter`` answers that by re-parsing its
  whole archive directory (CPython 3.13 only drops the cache entry). A
  worker holds 16 zipimporters, 12 of them over ``pyspark.zip`` (1,328
  entries): the archive plus one per imported sub-package. That is
  0.13-0.15 s of CPU per task. The invalidation below re-reads an archive
  only when its ``(st_ino, st_size, st_mtime_ns)`` stamp changed, the rule
  CPython's ``FileFinder`` applies to directories; one call before forking
  stamps every importer the workers inherit.
- The daemon's reuse loop runs ``gc.collect()`` after every task, which
  walks the ~73k objects of numpy, pandas, pyarrow and pyspark: about
  35 ms a task. ``gc.freeze()`` before forking moves that preloaded heap
  out of the collector's reach (the collect then takes 0.1 ms), and its
  copy-on-write pages stay shared.

Together they cut the Python processes' CPU in one perfbench ``suite``
pass from 4.2-4.6 s to 0.9-1.0 s, and the pass's ``spark.python_gap_s``
from 5.74 s to 2.96 s with the same 224 tasks. The driver process is not
patched.
"""

import gc
import importlib
import os
import sys
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401

try:  # pyarrow backs every Arrow/pandas UDF path; tolerate its absence
    import pyarrow

    # `import pyarrow` does NOT load the arrow<->pandas bridge: the worker
    # traceback dumps showed every fresh worker importing
    # pyarrow.pandas_compat (and concurrent.futures underneath it) inside
    # its first arrow_to_pandas call. One tiny round-trip conversion here
    # forces every lazy import on both directions once, in the daemon.
    _t = pyarrow.table({"x": [1]})
    pyarrow.Table.from_pandas(_t.to_pandas())
    del _t
except Exception as e:  # pragma: no cover
    # stderr only: the daemon's stdout carries the worker-port handshake
    print(f"covsar_spark: pyarrow preload failed: {type(e).__name__}: {e}", file=sys.stderr)

from pyspark.daemon import manager

_reread_directory = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive directory
    only when the archive's stat stamp differs from the one of its last
    read; an archive that cannot be stat'ed takes the original path."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_covsar_stamp", None):
        _reread_directory(self)
    self._covsar_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13+ only drops the cache entry
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
        importlib.invalidate_caches()  # stamps every importer the workers inherit
    gc.freeze()
    manager()
