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
"""

import sys

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

if __name__ == "__main__":
    manager()
