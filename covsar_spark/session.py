"""SparkSession factory with scale-aware defaults.

Local-mode knobs are a stand-in for cluster settings: at 1000 executors on
100 TB the same config surface applies (AQE, skew join splitting, Arrow batch
sizing); only ``master`` and the partition counts change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _meminfo_kb() -> dict[str, int]:
    """/proc/meminfo as {field: kB} ({} where the file does not exist)."""
    try:
        with open("/proc/meminfo") as f:
            return {k: int(v.split()[0]) for k, v in (line.split(":", 1) for line in f)}
    except OSError:
        return {}


def driver_heap(env: dict | None = None, meminfo: dict[str, int] | None = None) -> tuple[str, bool]:
    """(driver heap, pre-touch it?). ``$SPARK_DRIVER_MEM`` wins verbatim
    (always pre-touched). Otherwise the heap is min(16g, 40% of MemTotal),
    pre-touched only when it fits twice into MemAvailable, so committing
    the whole heap at startup leaves at least as much for the Python workers
    and everything else on the host (see the extraJavaOptions comment in
    get_spark)."""
    env = os.environ if env is None else env
    if env.get("SPARK_DRIVER_MEM"):
        return env["SPARK_DRIVER_MEM"], True
    meminfo = _meminfo_kb() if meminfo is None else meminfo
    total_mb = meminfo.get("MemTotal", 0) // 1024
    if not total_mb:  # no /proc/meminfo: keep the historical default
        return "16g", True
    heap_mb = max(1, min(16 << 10, total_mb * 2 // 5))
    avail_mb = meminfo.get("MemAvailable", 0) // 1024
    return f"{heap_mb}m", 2 * heap_mb <= avail_mb


def _shuffle_dir() -> str:
    """tmpfs shuffle dir only when /dev/shm actually has room: a default
    64MB container shm passes the bare isdir() check and then fails tasks
    with ENOSPC mid-run (round-4 review). Requires >= 2 GiB free."""
    try:
        import shutil

        if os.path.isdir("/dev/shm") and shutil.disk_usage("/dev/shm").free >= 2 << 30:
            return "/dev/shm/spark-tmp"
    except OSError:
        pass
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
    driver_mem, pretouch = driver_heap()
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
        .config("spark.driver.memory", driver_mem)
        # measured: G1 inflates executor CPU up to 5x under 8+ concurrent
        # tasks in one local JVM (allocation-heavy shuffle+Arrow paths);
        # throughput-oriented ParallelGC cut the flagship wall ~20%.
        # -Xms=: this sandbox faults fresh pages at ~0.5 GB/s, so a growing
        # heap turned young GCs into page-fault storms (one logged 6.3s
        # young pause was Sys=71s of kernel page allocation, User=4.9s of
        # actual GC) that landed on random queries as multi-second spikes.
        # A FIXED heap pre-touched at startup removes them: an 8-query A/B
        # read 78.4s (lazy 48g) vs 57.1s (pre-touched 16g) with per-query
        # spread collapsing (repetition_stats 1.3/3.7/5.3 -> 1.2/0.9/0.9).
        # 16g default keeps the pre-touch inside normal session startup
        # (21.6s vs 21.2s); a 48g pre-touch would add ~75s per session.
        # On a real cluster the analogue is the standard fixed-size
        # executor heap — lazy heap growth is a local-mode artifact. On a
        # host too small to commit the whole heap up front (driver_heap)
        # the heap stays fixed but is touched lazily.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -Xms{driver_mem}"
            + (" -XX:+AlwaysPreTouch" if pretouch else ""),
        )
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
