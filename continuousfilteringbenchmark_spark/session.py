"""SparkSession factory tuned for the ER pipeline.

Local-mode testing uses ``local[N]``; the same config block is what we'd ship
in ``spark-submit --conf`` on a multi-executor cluster (AQE on, skew-join
splitting on, Arrow on). Shuffle-partition count defaults to the local core
count; on a real cluster AQE coalescing makes the initial number uncritical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2 ("max" when unlimited)
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def _default_driver_memory() -> str:
    """Driver heap used when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half of the
    memory this process may use — the smaller of physical memory and the
    cgroup limit — and at least 1g. A fixed large heap lets the local-mode
    JVM grow past a small host's memory and get OOM-killed; half leaves the
    other half to the Python workers and the OS."""
    limits = []
    try:
        limits.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    except (AttributeError, OSError, ValueError):
        pass
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                limits.append(int(f.read().strip()))
        except (OSError, ValueError):
            pass
    if not limits:
        return "1g"
    return f"{max(1024, min(limits) // 2 // 2**20)}m"


def get_spark(
    app_name: str = "cfb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with the engine's config profile.

    ``master`` overrides the default ``local[cpus]`` — the scaling bench passes
    ``local-cluster[N, cores, mem]`` to get real separate executor JVMs
    (multi-executor shuffle paths, per-executor memory, process isolation).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # vectorized pandas-UDF batch size: the default 10k under-amortizes
        # per-batch overhead in the numpy scorers (pair scoring, minhash
        # signatures); 64k keeps a scoring batch ~tens of MB in flight
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def clear_session_caches(spark: SparkSession) -> None:
    """Drop every cached DataFrame AND every persisted RDD block (which
    includes ``localCheckpoint`` storage — ``catalog.clearCache()`` alone
    does not touch those).

    Library operators persist reused stages for the lifetime of the plans
    they return (e.g. the minhash shingle table feeds both the band join and
    the verification join); a session that runs many queries — the bench
    loop, a long notebook — calls this between units of work so caches from
    finished queries can't accumulate into memory pressure (round-2
    regression: 48 GB JVM RSS across 3 bench iterations).
    """
    spark.catalog.clearCache()
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(m.keySet().toArray()):
        m[rid].unpersist(False)
