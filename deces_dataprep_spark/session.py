"""SparkSession factory with scale-appropriate defaults.

Local mode is the test harness; the same config keys are what we would
pass to ``spark-submit`` on a multi-executor cluster (the package is
pure-Python and ships as ``--py-files deces_dataprep_spark.zip``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: local-mode driver heap as a share of the host's MemTotal when
#: SPARK_DRIVER_MEM is unset: the heap is committed lazily (no
#: pretouch), and the rest of the host stays free for the Python
#: workers and the OS page cache
LOCAL_MEM_SHARE = 0.4

#: entries of Spark's generated-class cache (the static SQL conf
#: ``spark.sql.codegen.cache.maxEntries``, Spark's default 100). One
#: warm streaming refresh (slice write, re-crawl compaction, a
#: Spark-route query) uses more than 100 distinct generated classes, so
#: at 100 the LRU evicts what the next refresh needs and every refresh
#: recompiles them: Janino time plus classes that start cold in the
#: JIT. Measured on 4 cores: 85 compiles per warm test-sized refresh at
#: 100 entries, at most 2 at 1000 (tests/test_streaming.py); a build
#: uses about 70 classes and fits either size.
CODEGEN_CACHE_ENTRIES = 1000


def usable_cores() -> int:
    """The cores this process may run on (its CPU affinity set, which a
    container's cpuset narrows), or ``os.cpu_count()`` where the OS
    reports no affinity."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def default_cores() -> int:
    """Local-mode cores: ``$SPARK_GRAFT_CPUS`` when set, else
    :func:`usable_cores`."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else usable_cores()


def inherit_local_properties(spark: SparkSession):
    """A decorator for the bodies a thread pool runs: each call runs
    with the local properties (job group, description, scheduler pool)
    and tags the CALLER had when the body was decorated, so a pool's
    Spark jobs stay in the caller's job group. In PySpark's default
    pinned-thread mode that is ``pyspark.util.inheritable_thread_target``;
    without it the threads share the caller's properties already and
    the decorator returns the body unchanged."""
    from pyspark.util import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    return inherit if callable(inherit) else (lambda f: f)


def _local_driver_mem() -> str | None:
    """LOCAL_MEM_SHARE of MemTotal (at least 1 GiB), or None when the
    host does not expose /proc/meminfo."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return None
    return f"{max(1024, int(kb * LOCAL_MEM_SHARE / 1024))}m"


def get_spark(
    app_name: str = "deces_dataprep_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the local host (``local[n]`` with n from
    :func:`default_cores`: ``$SPARK_GRAFT_CPUS``, else the usable
    cores); on a real cluster, ``master`` and memory come from
    spark-submit and only the SQL confs below matter.

    Driver memory: ``$SPARK_DRIVER_MEM`` when set, and then the whole
    heap is also committed at JVM start (``-Xms`` + AlwaysPreTouch, see
    below). Unset, a local master gets LOCAL_MEM_SHARE of the host's
    memory with a lazily-grown heap, so a session always fits the host
    it starts on; a cluster master keeps Spark's own default. These
    settings only take effect when this call launches the JVM. Under
    ``spark-submit`` (client mode) the driver JVM is already running, so
    pass memory and heap flags on its command line instead:
    ``--driver-memory 8g --driver-java-options "-Xms8g
    -XX:+AlwaysPreTouch"``. The codegen cache size
    (:data:`CODEGEN_CACHE_ENTRIES`) is a static SQL conf too: under
    spark-submit pass ``--conf spark.sql.codegen.cache.maxEntries=1000``.
    """
    cpus = default_cores()
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions if shuffle_partitions is not None else max(cpus, 8)
    mem = os.environ.get("SPARK_DRIVER_MEM")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # shuffle partitions sized to cores in local mode; AQE coalesces
        # further at runtime and splits skewed partitions.
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas UDF / createDataFrame(pandas) path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # a persisted plan keeps AQE's partition coalescing: the
        # compaction's cached latest table is then written as the one
        # norms file AQE gives it uncached, not one file per shuffle
        # partition (8 on 4 cores)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
    )
    if mem:
        # Pre-commit the whole heap at JVM start (-Xms == -Xmx +
        # AlwaysPreTouch): without it, the first big cache/shuffle pays
        # the heap's page-zeroing and growth-GC stalls INSIDE the timed
        # work — measured ~12 s on the first 400k-doc token-cache
        # materialization at 48 g (norms pass 14.8 s → 2.3 s with
        # pretouch, build rep0 34.3 s → 26.3 s). Only on request: a
        # pretouched heap larger than the host's free memory cannot
        # start at all. A real cluster wants the same per executor via
        # spark.executor.extraJavaOptions. Spark forbids -Xmx here;
        # -Xms + pretouch is the supported way to pin the committed size.
        builder = (builder.config("spark.driver.memory", mem)
                   .config("spark.driver.extraJavaOptions",
                           f"-Xms{mem} -XX:+AlwaysPreTouch"))
    elif master.startswith("local"):
        local_mem = _local_driver_mem()
        if local_mem:
            builder = builder.config("spark.driver.memory", local_mem)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
