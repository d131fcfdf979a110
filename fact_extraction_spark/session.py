"""SparkSession factory with the engine's scale-oriented defaults.

The defaults are chosen for a multi-executor cluster reading ~100 TB of
pages (AQE on, skew-join splitting on, Arrow batching bounded so giant
pages cannot blow an executor), but work identically on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Bounded Arrow batches: a single "giant page" row can be multi-MB; batches
# of 2k rows keep per-batch memory well under typical executor headroom.
ARROW_MAX_RECORDS_PER_BATCH = 2048

# driver heap sizing when SPARK_DRIVER_MEM is unset: a share of host RAM
# (the rest is the JVM's off-heap, the Python workers and the OS), capped
DRIVER_HEAP_SHARE = 0.5
DRIVER_HEAP_CAP_MB = 32 * 1024


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` reports)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def default_driver_memory(mem_bytes: int | None = None) -> str:
    """``spark.driver.memory`` sized from host RAM: DRIVER_HEAP_SHARE of
    ``mem_bytes`` (default: the host's RAM), at most DRIVER_HEAP_CAP_MB. In
    local mode the driver heap is the executor heap, so a fixed size
    either starves a big host or gets the JVM OOM-killed on a small one."""
    if mem_bytes is None:  # the host's MemTotal
        mem_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mb = int(mem_bytes * DRIVER_HEAP_SHARE) >> 20
    return f"{max(1, min(mb, DRIVER_HEAP_CAP_MB))}m"


def get_spark(
    app_name: str = "fact_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (default: the
    host's CPU count) and is left unset under ``spark-submit`` (cluster
    manager decides). The driver heap is ``$SPARK_DRIVER_MEM``, by default
    sized from host RAM (default_driver_memory).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(host_cpus()))

    # Make the package importable inside Python workers regardless of the
    # driver's cwd. On a real cluster this is `spark-submit --py-files
    # fact_extraction_spark.zip`; locally, PYTHONPATH does the same job.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else ""))

    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_SUBMIT" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        # On a real cluster this should be ~2-3x total cores; locally match
        # core count so AQE coalescing has room without tiny-task overhead.
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # AQE: runtime re-planning, shuffle coalescing, skew-join splitting.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for all pandas UDF traffic; bounded batches for giant rows.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(
            ARROW_MAX_RECORDS_PER_BATCH
        ),
        # 128 MiB scan splits — the parquet-friendly default; explicit so the
        # scale story is documented, not accidental.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Broadcast threshold: alias dictionaries and learned-pattern tables
        # are small dims; let Catalyst broadcast up to 64 MiB automatically.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        # In local mode the driver IS the executor: all task threads share
        # this one heap with the DataFrame cache. 8g measurably GC-thrashes
        # at local[16+] on corpus-scale runs ("GCLocker retried" warnings,
        # 1.3x task-time inflation), hence the 32g cap on big hosts; on a
        # real cluster this is spark-submit's --executor-memory and the
        # driver stays small.
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM",
                                              default_driver_memory()),
        "spark.ui.enabled": "false",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
