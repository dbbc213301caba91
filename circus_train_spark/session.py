"""SparkSession factory with the engine's recommended configuration.

Local-mode defaults tuned for the sandbox (single JVM, N threads); on a real
cluster the same job is submitted via ``spark-submit --py-files`` and these
configs remain correct (AQE, Arrow, adaptive skew-join handling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_mem() -> str:
    """Default driver heap: 16 GB, capped at 60% of the host's physical
    memory so the heap never outgrows a host without swap."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, total_mb * 6 // 10)}m"


def host_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the CPUs of this process's
    affinity mask (not the host's total)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "circus_train_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    ``spark.sql.shuffle.partitions`` to ``host_cpus()``, at least 8; the
    driver heap to ``$SPARK_GRAFT_DRIVER_MEM`` (or ``_driver_mem()``).
    """
    # Make the package importable by Python workers (pandas UDFs) in local
    # mode regardless of the caller's cwd. On a real cluster the package is
    # shipped with ``spark-submit --py-files`` instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{pypath}" if pypath else pkg_parent
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, host_cpus())
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Session default stays snappy: the session is shared by every
        # read/write path (users' own text-like data compresses well). The
        # token-table writers opt into uncompressed per write via
        # meta.schema.TOKEN_PARQUET_CODEC (dict+RLE already compacts
        # bounded-vocab token arrays ~2x; snappy on top costs ~2x encode
        # time for <1% size — measured at sf0.1).
        .config("spark.sql.parquet.compression.codec", "snappy")
        # dynamic-partition writes: concurrent writers instead of the
        # sort-by-partition-column pass (sorting full rows with 4 KB token
        # arrays measured 3x slower than buffering a handful of writers)
        .config("spark.sql.maxConcurrentOutputFileWriters", "64")
        .config("spark.ui.enabled", "false")
        # FAIR scheduling lets concurrent compaction-group rewrite jobs
        # (submitted from a thread pool) share executors instead of FIFO
        # head-of-line blocking.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_mem())
    )
    # Shuffle/spill scratch location. On the shared sandbox host, /tmp sits
    # on a disk contended by other tenants; pointing scratch at a fast local
    # dir (tmpfs/NVMe — standard practice on real clusters) isolates
    # CPU-scaling measurements from unrelated disk traffic.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
