"""SparkSession construction with scale-aware defaults.

The reference POC hand-manages memory (gc.collect, streaming fallback on low
RAM — /root/reference/src/streaming_selector.py:96-134); in Spark the
UnifiedMemoryManager + AQE replace all of that, but the session must be
configured for it: AQE on, Arrow on (every heavy UDF here is a pandas UDF),
shuffle partitions sized to the machine instead of the 200 default,
LAST_WIN map-key dedup to match the reference's label-merge precedence
(/root/reference/src/utils.py:113-126).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB on a 1000-executor cluster these come from spark-submit conf;
# the values here are the local[N] test/bench defaults. Keys chosen so the
# same code runs unchanged under a real cluster manager.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size: KEEP BATCH BUFFERS UNDER THE G1 HUMONGOUS THRESHOLD.
    # 10k-row list<int32> batches allocate ~10 MB contiguous JVM buffers,
    # which G1 treats as humongous objects — at 32 concurrent tasks the
    # allocation path serializes and throughput collapses ~10× (measured).
    # 2048 rows ≈ 2 MB buffers: stable 0.65 s vs 6 s for the same transfer.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Reference merges labels with later-overrides-earlier precedence
    # (utils.py:113-126); Spark's map_concat needs LAST_WIN to match.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    # Python workers fork from a daemon that skips pyspark's per-task zip
    # archive re-read on CPython < 3.12 (see plans/worker_daemon.py)
    "spark.python.daemon.module": "poc_parquet_aggregator_spark.plans.worker_daemon",
}


def host_cores() -> int:
    """CPUs this process may run on (its affinity mask, where the OS has one)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def host_driver_memory(total_bytes: int | None = None) -> str:
    """Half of physical memory, in MiB, as a ``spark.driver.memory`` value.

    In local mode the driver heap holds every executor too, so a fixed
    default larger than the host gets the JVM killed mid-run."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(total_bytes // 2 // 2**20, 1024)}m"


def session_conf(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> tuple[int, dict[str, str]]:
    """(local[N] cores, conf) for ``get_spark``: sized from the host unless
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` or the arguments say
    otherwise."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
    if shuffle_partitions is None:
        # 2x cores: enough tasks to keep AQE coalescing meaningful locally;
        # on a real cluster this is 2-3x total executor cores.
        shuffle_partitions = max(2 * cores, 8)
    conf = dict(_BASE_CONF)
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_memory()
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.default.parallelism"] = str(cores)
    if extra_conf:
        conf.update(extra_conf)
    return cores, conf


def get_spark(
    app_name: str = "poc_parquet_aggregator_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local[N] parallelism — the bench harness uses this to
    evidence the two-cluster-size scaling criterion (local[8] vs local[32]).
    Left out, it is ``SPARK_GRAFT_CPUS`` or the host's usable CPU count.
    """
    cores, conf = session_conf(cores, shuffle_partitions, extra_conf)
    builder = SparkSession.builder.master(f"local[{cores}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
