"""SparkSession factory tuned for this engine.

Local-mode notes: one JVM, N executor threads; `spark.driver.memory` is
the only memory knob. Shuffle partitions sized to cores, AQE on (runtime
coalesce + skew-join splitting), Arrow on for the pandas-UDF paths,
session timezone pinned to UTC so results compare bit-for-bit against
the DuckDB oracle.

Local masters run their Python workers under ``bear_spark.worker_daemon``
instead of the stock ``pyspark.daemon``. PySpark's worker calls
``importlib.invalidate_caches()`` before every task, and on CPython each
zip importer then re-reads its whole archive: ``pyspark.zip``, the py4j
zip and the spark-core jar, about 27k entries per task. On a 4-core host
that costs each task 130-350 ms before any engine code runs, several
times what a small merge kernel call does. The engine daemon skips the
re-read for archives under ``$SPARK_HOME``, which cannot change under a
running worker. Non-local masters keep the stock daemon: their executors
can import the package only per task (``--py-files``), not when the
daemon starts.

Every session also sizes Spark's generated-class cache
(``spark.sql.codegen.cache.maxEntries``, a static conf) to hold the
engine's working set. Spark's default of 100 entries is smaller than
what one pass over the headline queries compiles (144 classes on a
4-core host) and than a serving mix of merges, index refreshes and
reads (about 110), so at the default every repeated query recompiles its
classes, and one write evicts the read plans. Short queries spend more
time in Janino than in execution, so a cache that holds the working
set takes the compile out of every warm call. An A/B against the stock
cache passes ``extra_conf={"spark.sql.codegen.cache.maxEntries": "100"}``.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

# glibc malloc knobs that keep Python-worker heap pages resident across
# micro-batches. The merge kernel's pandas/numpy churn allocates large
# (>128 KB) buffers that glibc serves via mmap and returns to the OS on
# free, so every batch re-faults its working set — a steady page-fault
# tax per batch on any host where faults are expensive (overcommitted
# VMs, THP-fragmented hosts), and the dominant cost during this
# sandbox's hypervisor fault-path degradation episodes. MMAP_MAX_=0
# routes large allocations to the sbrk heap and TRIM_THRESHOLD_=-1
# (parsed unsigned → effectively infinite) never trims it, so a
# long-lived worker (spark.python.worker.reuse, the default) faults its
# arena once and reuses it for every subsequent batch. Same rationale
# as the Arrow-side jemalloc retention in lake/arrow_apply.py.
_MALLOC_RETAIN_ENV = {
    "MALLOC_MMAP_MAX_": "0",
    "MALLOC_TRIM_THRESHOLD_": "-1",
    "MALLOC_ARENA_MAX": "4",
}

# Entries of Spark's generated-class cache (see the module docstring):
# far above the measured working sets, so no warm read is evicted. An
# entry is one compiled class, a few KiB of Metaspace.
CODEGEN_CACHE_ENTRIES = 2000

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _engine_daemon_importable() -> bool:
    """Make ``bear_spark.worker_daemon`` importable by the daemon the JVM
    forks, and say whether it is. The daemon's ``PYTHONPATH`` includes
    the JVM's own, which is captured when the JVM launches: put the
    package root on it if the JVM is about to launch, otherwise check
    the running JVM's."""
    gateway = SparkContext._gateway
    if gateway is None:
        if "PYSPARK_GATEWAY_PORT" in os.environ:
            return False  # spark-submit launched the JVM with its own env
        path = os.environ.get("PYTHONPATH", "")
        if _PACKAGE_ROOT not in path.split(os.pathsep):
            os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (_PACKAGE_ROOT, path) if p)
        return True
    path = gateway.jvm.java.lang.System.getenv("PYTHONPATH") or ""
    return _PACKAGE_ROOT in path.split(os.pathsep)


def get_spark(
    app_name: str = "bear_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle
    partitions default to 2x cores (a reasonable local heuristic; on a
    real cluster this is sized to total executor cores).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # $SPARK_GRAFT_MASTER overrides the default thread-local master with
    # any Spark master URL — e.g. local-cluster[8,1,3584] for a
    # multi-executor-JVM run (separate executor processes, real
    # block-transfer shuffle), or spark://host:7077 on a real cluster.
    # `cores` then only sizes shuffle partitions.
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, 2 * n)

    for k, v in _MALLOC_RETAIN_ENV.items():
        # local mode: the JVM (and the pyspark.daemon it forks) inherit
        # the driver env captured at launch, so set it before getOrCreate
        os.environ.setdefault(k, v)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # files: keep partition sizing sane for both sf0.001 and 100 TB
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # a lake table snapshot can reference hundreds of bucket files;
        # below this threshold Spark stats them on the driver (micro-
        # seconds on a local fs) instead of scheduling a one-task-per-
        # file distributed listing job (which costs seconds per merge)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # cluster mode: executors don't inherit the driver env, so ship the
    # same knobs through executorEnv (no-op in local mode)
    for k, v in _MALLOC_RETAIN_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ.get(k, v))
    is_local = master == "local" or master.startswith("local[")
    if is_local and _engine_daemon_importable():
        builder = builder.config("spark.python.daemon.module", "bear_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
