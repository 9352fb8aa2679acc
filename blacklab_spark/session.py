"""SparkSession factory with the configs this engine relies on."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Python workers import pyspark from the installed package, not from
# Spark's zip archives, so no task pays CPython <= 3.11's re-read of
# every archive in importlib.invalidate_caches() (worker_daemon.py).
# The daemon imports this package before any task ships files, so the
# conf also puts the driver's copy of the package on the workers'
# PYTHONPATH; only workers on the driver's machine (a local master)
# can use it.
WORKER_CONF = {
    "spark.python.daemon.module": "blacklab_spark.worker_daemon",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
}


def _default_mem() -> str:
    """Size the local-mode heap to the machine: many concurrent tasks
    over columnar data need real headroom or GC dominates wall-clock."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        gb = max(4, min(48, int(kb / 1024 / 1024 * 0.35)))
        return f"{gb}g"
    except Exception:
        return "8g"


def get_spark(
    app_name: str = "blacklab_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession.

    ``cpus`` controls ``local[N]`` — the two-cluster-size scaling
    evidence runs the same job at e.g. cpus=8 vs cpus=32.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_mem()))
        # throughput GC: G1's concurrent cycles contend with 32 busy
        # task threads on allocation-heavy columnar workloads; the
        # parallel collector scales the build/scan stages measurably
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        # shuffle/spill scratch on the OS disk: an earlier revision used
        # /dev/shm, but measured tmpfs write concurrency is erratic at
        # high core counts (shmem page-allocation contention) while
        # page-cache-backed disk writes stay fast and stable
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/tmp/spark-local"),
        )
        # parallel task-side output commit (v1 renames every output
        # file serially on the driver — anti-scales with file count)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # write dynamic partitions concurrently instead of sorting each
        # task's rows by partition key first
        .config("spark.sql.maxConcurrentOutputFileWriters", "32")
        .config("spark.sql.session.timeZone", "UTC")
        # zstd writes fewer bytes for slightly more (parallelizable)
        # CPU: on many-core nodes the byte stream, not the codec, is
        # the scaling ceiling — measured faster than snappy here
        .config("spark.sql.parquet.compression.codec", "zstd")
        # batch queries filter postings with term IN (hundreds of
        # values); the default threshold (10) silently drops the
        # parquet pushdown above 10 values, so the term-sorted row
        # groups were read in full instead of stat-skipped. CAPPED at
        # 200: parquet-mr evaluates the pushed IN as a recursive OR
        # chain, and ~700 values measurably overflows the task stack;
        # above the threshold Spark pushes the set's (min, max) range
        # instead, which still skips row groups well on term-sorted
        # files
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "200")
        # large INs must become InSet (hash lookup): a 700-value In
        # evaluates as a linear OR chain per row — measured 67s of a
        # 98s batch-query scan burned on string compares. InSet still
        # translates to a data-source In for pushdown purposes.
        .config("spark.sql.optimizer.inSetConversionThreshold", "10")
        .config("spark.ui.enabled", "false")
        .config(map=WORKER_CONF)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def submitted_spark(app_name: str) -> SparkSession:
    """The session of a ``jobs/`` script, whose master and confs come
    from ``spark-submit`` (``local[*]`` for a bare ``python`` run).

    Adds WORKER_CONF only for a local master. A cluster's executors
    cannot use the driver's path and (YARN aside) start their Python
    workers before ``--py-files`` reaches them, so they keep Spark's
    stock ``pyspark.daemon``.
    """
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    submitted = SparkConf()
    builder = SparkSession.builder.appName(app_name)
    master = submitted.get("spark.master", "local[*]")
    if master == "local" or master.startswith("local["):
        conf = dict(WORKER_CONF)
        key = "spark.executorEnv.PYTHONPATH"
        if submitted.contains(key):
            conf[key] = os.pathsep.join([submitted.get(key), conf[key]])
        builder = builder.config(map=conf)
    return builder.getOrCreate()
