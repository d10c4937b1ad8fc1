"""SparkSession factory tuned for this engine.

Local mode is the test/bench harness; the same settings are what we would
submit with ``spark-submit --py-files`` on a real cluster (AQE on, skew-join
handling on, Arrow transfers on, UTC session time zone for oracle parity).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# glibc returns every >128KB allocation to the OS via mmap/munmap, so each
# large numpy temporary re-faults its pages; on VM-backed memory a fault
# costs ~40 µs/page here, making a fresh 80 MB arange take seconds while a
# warm one takes 15 ms (measured). Raising the mmap/trim thresholds keeps
# big blocks in the heap arena for reuse — a one-line 10-100x speedup for
# every numpy-heavy pandas-UDF kernel in this engine. mallopt covers the
# current process (env vars are only read at startup); the env vars cover
# forked Python UDF workers.
_GLIBC_KEEP = str(1 << 30)


def _tune_allocator() -> None:
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", _GLIBC_KEEP)
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", _GLIBC_KEEP)
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(ctypes.c_int(-3), ctypes.c_int(1 << 30))  # M_MMAP_THRESHOLD
        libc.mallopt(ctypes.c_int(-1), ctypes.c_int(1 << 30))  # M_TRIM_THRESHOLD
    except Exception:  # noqa: BLE001 - non-glibc platforms: env vars still help children
        pass


_tune_allocator()

# Entries in Spark's generated-code cache (its default is 100): above the
# engine's working set, so a warm query compiles nothing (see get_spark).
CODEGEN_CACHE_ENTRIES = 2048


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of ``MemAvailable``, between 1g and 16g: in local mode the driver
    heap shares the box with the Python workers, and the box may have no swap.
    Falls back to 4g where ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as fh:
            kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "4g"
    return f"{max(1024, min(16384, kib // 2048))}m"


def get_spark(
    cores: int | None = None,
    app_name: str = "pysatl_cpd_spark",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` — pass e.g.
    ``local-cluster[4,8,12288]`` for a process-isolated multi-executor
    stand-in (each executor its own JVM + memory arena; the closest a single
    box gets to a real N-node cluster for scaling measurements). ``cores``
    must still state the TOTAL core count so shuffle sizing matches. It
    defaults to ``SPARK_GRAFT_CPUS``, else to the cores this process may run
    on. ``driver_memory`` defaults to :func:`default_driver_memory`.

    Spark keeps the classes its code generator compiles in one static LRU
    cache, :data:`CODEGEN_CACHE_ENTRIES` entries here and 100 by default. Its
    working set, measured at sf0.01 on 4 cores: 635 distinct classes across
    every ``queries()`` entry plus ``entry()``, 209 per ``query_mix`` pass
    and 55 per rollup job (with stage ids in class names, see below: 857
    across ``queries()``, 216-221 and 59). With 100 entries every warm mix
    pass recompiled all of its classes, and the JVM loaded about 400 more
    classes a pass until a full GC unloaded them: over 10 warm passes loaded
    classes swung between 24,650 and 25,830 and metaspace grew from 159 to
    172 MB. With 2048 a warm pass compiles 0, loaded classes stay within
    24,680-24,880 and metaspace grows from 159 to 169 MB, so holding the
    working set costs no more metaspace than recompiling it.
    :func:`codegen_compiles` counts compiles. The size is a static conf,
    fixed when the JVM first generates code: a JVM whose session was
    created elsewhere keeps that session's size (100 unless it set one)."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # one BLAS/OMP thread per Python worker: N workers each spawning N BLAS
    # threads oversubscribes the box N-fold and *anti-scales* at high core
    # counts (the detector kernels are small-array numpy — threading them
    # inside a worker only adds contention)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # detector classes are cloudpickled BY REFERENCE into the Arrow UDFs, so
    # Python workers must import pysatl_cpd_spark themselves; put the package
    # parent on PYTHONPATH before the JVM launches (workers inherit it) so
    # jobs work from any cwd — on a real cluster --py-files serves this role
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    if driver_memory is None:
        driver_memory = default_driver_memory()
    master = master or f"local[{cores}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local-cluster executors are separate JVMs whose Python workers
        # need the package importable; local[...] ignores this harmlessly
        .config("spark.executorEnv.PYTHONPATH", pkg_parent)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", _GLIBC_KEEP)
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", _GLIBC_KEEP)
        # G1 with a large heap degrades progressively under 32 concurrent
        # task threads here (repeated aggregates went 3s → 20s); throughput
        # GC + moderate heap stays flat
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # separate executor JVMs (local-cluster mode) need the same GC
        # choice — G1 degraded 3s→20s on repeated aggregates here; no-op
        # for local[...] where tasks run in the driver JVM
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        # explicit (it is the default, but the scaling target depends on it):
        # Python UDF workers persist across tasks, so the measured detect
        # stage never pays interpreter/numpy import cost mid-run
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep bucketed scans bucketed: Spark otherwise de-buckets any scan
        # whose consumers require no distribution, and mapInArrow requires
        # none, so a bucketed series table would be read in file splits and
        # series split across partitions. No benchmark workload reads one.
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the cache is keyed on the generated source, and by default each
        # class is named after its codegen stage id; adaptive re-planning
        # numbers stages in the order they are created, which varies from
        # run to run, so cpd_confusion, ann_recall and ngram_contamination
        # recompiled 4-24 classes on every warm run. Without the id a stage
        # compiles once, whatever its number.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-split size, parameterised (guide: big sequential scans on a
        # cluster want 512m-1g to cut task overhead; these local test tables
        # are single files of 5-130 MB with 1-6 row groups, where the 128m
        # default leaves a 6M-row lineitem scan+partial-agg on TWO cores —
        # 16m yields row-group-level parallelism; a row group here is ~20 MB,
        # so this cannot produce degenerate micro-splits)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
    )
    # Spark's daemon imports pyspark from $SPARK_HOME/python/lib/pyspark.zip
    # (plus py4j's zip and the spark-core jar) ahead of site-packages, so each
    # Python worker holds 16 zipimporters. PySpark calls
    # importlib.invalidate_caches() once per task, and on CPython 3.11 that
    # re-reads every archive's central directory (26,672 entries): 0.15-0.22 s
    # per Python-UDF task on a 4-vCPU VM, where a warm 4k-row mapInArrow job
    # took 0.43-0.50 s with the archives and 0.13-0.18 s without. A fresh
    # daemon also recompiles pyspark, since zipimport caches no bytecode.
    # worker_daemon drops the archives when the installed pyspark is the same
    # release. Only local masters get it: there get_spark's PYTHONPATH makes
    # the package importable before the daemon starts, which --py-files on a
    # real cluster does not.
    if master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "pysatl_cpd_spark.worker_daemon"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far: the
    count of its compile-time histogram. A warm query whose classes are
    all in the generated-code cache adds 0."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
