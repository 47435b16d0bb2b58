"""SparkSession factory with scale-aware defaults.

Local-mode knobs are a stand-in for cluster settings: at 1000 executors on
100 TB the same config surface applies (AQE, skew join splitting, Arrow batch
sizing, a fixed 1 MiB Tungsten page so that small hash relations and
aggregates hold small pages); only ``master`` and the partition counts change.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def _meminfo_kb() -> dict[str, int]:
    """/proc/meminfo as {field: kB} ({} where the file does not exist)."""
    try:
        with open("/proc/meminfo") as f:
            return {k: int(v.split()[0]) for k, v in (line.split(":", 1) for line in f)}
    except OSError:
        return {}


def driver_heap(env: dict | None = None, meminfo: dict[str, int] | None = None) -> str:
    """The driver heap size. ``$SPARK_DRIVER_MEM`` wins verbatim; otherwise
    min(16g, 40% of MemTotal)."""
    env = os.environ if env is None else env
    if env.get("SPARK_DRIVER_MEM"):
        return env["SPARK_DRIVER_MEM"]
    meminfo = _meminfo_kb() if meminfo is None else meminfo
    total_mb = meminfo.get("MemTotal", 0) // 1024
    if not total_mb:  # no /proc/meminfo: keep the historical default
        return "16g"
    return f"{max(1, min(16 << 10, total_mb * 2 // 5))}m"


def driver_java_options(heap: str) -> str:
    """The driver JVM's options for a fixed heap of ``heap``.

    ParallelGC: G1 inflated executor CPU up to 5x under 8+ concurrent tasks
    in one local JVM (allocation-heavy shuffle+Arrow paths); ParallelGC cut
    the flagship wall ~20%.

    -Xms: a heap that grows and shrinks commits fresh pages inside its GC
    pauses again and again, and on a host that faults pages slowly young
    GCs became page-fault storms (on a 32-core host one logged 6.3 s young
    pause was Sys=71 s of kernel page allocation, User=4.9 s of GC). A
    fixed heap is never shrunk, so each page is faulted in at most once.

    The heap is not pre-touched at start-up: that committed every page of
    it, although the driver uses far less. On a 4-vCPU, 15.7 GB host with
    a 2g heap, committing pages on demand cut the peak PSS of the process
    tree from 2,864 to 1,604 MB on perfbench `ingest` and from 3,257 to
    2,347 MB on `suite` (medians of 10 and 4 runs) at no extra CPU time,
    and cut a bare session build's JVM system time from 1.85 to 0.84 s. The
    pages the driver does use are now faulted in inside its passes and GCs:
    over one `suite` run the longest young pause went 39 -> 46 ms and the
    GCs' summed system time 0.04 -> 0.57 s, far from the storm above.
    Dropping -Xms as well saved no further memory. On a real cluster the
    analogue is the standard fixed-size executor heap."""
    return f"-XX:+UseParallelGC -Xms{heap}"


def _shuffle_dir() -> str:
    """tmpfs shuffle dir only when /dev/shm actually has room: a default
    64MB container shm passes the bare isdir() check and then fails tasks
    with ENOSPC mid-run (round-4 review). Requires >= 2 GiB free. A probe
    that fails says so on stderr and falls back to /tmp."""
    try:
        import shutil

        if os.path.isdir("/dev/shm") and shutil.disk_usage("/dev/shm").free >= 2 << 30:
            return "/dev/shm/spark-tmp"
    except OSError as e:
        # a /tmp fallback changes shuffle speed: say so
        print(f"covsar_spark: shuffle dir probe failed: {type(e).__name__}: {e}", file=sys.stderr)
    return "/tmp"


def iceberg_jar() -> str | None:
    """Opportunistic Iceberg runtime detection (round-6 verdict #8): the
    first environment that ships an `iceberg-spark-runtime` jar gets real
    catalog commits with no code change. Checked, in order:
    `$SPARK_GRAFT_ICEBERG_JAR` (explicit path), then the pyspark and
    `$SPARK_HOME` jar directories. Returns the jar path or None — session
    build keys the catalog config on it, tests key their skip marker on it."""
    import glob

    explicit = os.environ.get("SPARK_GRAFT_ICEBERG_JAR", "").strip()
    if explicit and os.path.isfile(explicit):
        return explicit
    jar_dirs = []
    try:
        import pyspark

        jar_dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:  # pragma: no cover
        pass
    if os.environ.get("SPARK_HOME"):
        jar_dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in jar_dirs:
        hits = sorted(glob.glob(os.path.join(d, "iceberg-spark-runtime*.jar")))
        if hits:
            return hits[0]
    return None


def get_spark(
    app_name: str = "covsar_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. Shuffle
    partitions default to the core count — at cluster scale this would be
    2-3x total executor cores; AQE coalesces down when partitions run small.
    """
    if cores is None:
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
        cores = (int(env_cpus) if env_cpus else 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # Pin BLAS/OMP to one thread per Python worker: N workers x M BLAS
    # threads oversubscribes the box and anti-scales the eigh/matmul kernels
    # (parallelism comes from Spark tasks, not from BLAS).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    # The preloading daemon (covsar_spark/daemon_preload.py) must be
    # importable by the daemon python, which inherits the JVM's env: put
    # this package's parent on PYTHONPATH before the JVM launches. (Callers
    # that run from the repo root get this for free via cwd; entrypoints
    # launched from elsewhere do not.)
    _repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _repo_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_repo_root}{os.pathsep}{_pp}" if _pp else _repo_root
        )

    # fixed driver heap, sized from the host unless $SPARK_DRIVER_MEM overrides
    driver_mem = driver_heap()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound the Arrow batch: small enough that the vectorized kernels'
        # temporaries stay cache-resident (the encoders are memory-bandwidth
        # bound), large enough to amortize dispatch (CovSAR chunks its eigh
        # batches for the same reason, library.py:121-127)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # one `suite` pass compiles about 250 distinct whole-stage classes;
        # Spark's default LRU of 100 would evict each one before its next
        # use, so every pass would recompile (and re-JIT) all of them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # the cache key is the generated code text, and by default the class
        # name in it carries the whole-stage codegen id. AQE numbers a plan's
        # stages in the order they are planned, which differs from run to
        # run, so the same pipeline came back under a new name and was
        # compiled again (6-24 classes in every timed `suite` pass)
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Spark sizes its Tungsten page from the heap (8 MiB at a 2g heap,
        # 32 MiB at 6.4g), and every BytesToBytesMap starts with one whole
        # page, so a 10-row broadcast hash relation pinned 8-32 MB in the
        # driver's block store until a full GC let the ContextCleaner drop
        # it. One perfbench `suite` pass builds about 13 of them; at a 2g
        # heap (4 vCPUs) its broadcast storage after 4 passes was 316 MB and
        # old gen 805 MB with the derived page, 53 and 285 MB with 1 MiB
        # pages (Spark's floor). A map grows a page at a time, up to 8,192
        # pages per task
        .config("spark.buffer.pageSize", "1m")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", driver_java_options(driver_mem))
        # local mode: shuffle through tmpfs when present (a real cluster sets
        # its own local dirs; this only affects the sandbox benchmarks)
        .config("spark.local.dir", _shuffle_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fork Python workers from a daemon that has ALREADY imported
        # numpy/pandas/pyarrow (copy-on-write): the session starts with no
        # worker pool, so every worker a stage forks (the first Arrow stage,
        # then any topology needing more simultaneous workers than are idle:
        # chained Arrow nodes, broadcast-side Python subtrees, concurrent tier
        # kernels) otherwise pays cold imports under full CPU contention
        # inside the query that hit it. Before forking, the daemon also
        # stamps its zipimporters so a task's invalidate_caches() no longer
        # re-parses pyspark.zip (Python < 3.13), and freezes the preloaded
        # heap out of the per-task gc.collect() — see
        # covsar_spark/daemon_preload.py
        .config("spark.python.daemon.module", "covsar_spark.daemon_preload")
    )
    jar = iceberg_jar()
    if jar is not None:  # pragma: no cover — jars absent in this image
        # Hadoop-type catalog `covsar` so `write_tier(table="covsar.db.t")`
        # commits through the real Iceberg path (sources/tables.py S8)
        warehouse = os.environ.get(
            "SPARK_GRAFT_ICEBERG_WAREHOUSE", "/tmp/covsar_iceberg_warehouse"
        )
        builder = (
            builder.config("spark.jars", jar)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.covsar", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.covsar.type", "hadoop")
            .config("spark.sql.catalog.covsar.warehouse", warehouse)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
