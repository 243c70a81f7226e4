"""SparkSession factory tuned for the KG-construction workload.

Local-mode settings stand in for cluster settings; on a real cluster the
same builder is used with ``master`` unset (spark-submit provides it) and
``shuffle_partitions`` sized to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)
# The driver heap a session gets when SPARK_DRIVER_MEM is unset: this
# share of min(MemTotal, cgroup memory limit).  The whole heap is pinned
# and pre-touched below, and Python workers, shuffle files and the page
# cache must fit beside it on a host without swap.
HEAP_FRACTION = 1 / 4
HEAP_FLOOR_MB = 1024


def host_memory_bytes(
    meminfo: str = "/proc/meminfo",
    cgroup_limits: tuple[str, ...] = (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ),
) -> int:
    """The smaller of physical memory and this process's cgroup limit
    ("max" or an unreadable file means no limit)."""
    with open(meminfo) as f:
        total = next(
            int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:")
        )
    for path in cgroup_limits:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def driver_memory() -> str:
    """``SPARK_DRIVER_MEM`` when set, else ``HEAP_FRACTION`` of the host's
    memory, in MiB rounded down to 256 MiB (at least ``HEAP_FLOOR_MB``)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    mb = int(host_memory_bytes() * HEAP_FRACTION) >> 20
    return f"{max(HEAP_FLOOR_MB, mb - mb % 256)}m"


def get_spark(
    app_name: str = "wdp-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master=None`` (default): env ``SPARK_MASTER`` if set, else
    ``local[cpus]``.  ``master=""``: leave the master to the launcher —
    the spark-submit deployment path (north_rule: ``spark-submit
    --py-files`` on a multi-executor cluster)."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    if master is None:
        # NOTE: set-but-EMPTY env ("SPARK_MASTER= spark-submit ...") means
        # "leave the master to the launcher" — an `or` here would swallow
        # it and silently pin the documented cluster deployment to
        # local[cpus] (builder.master overrides spark-submit's --master)
        master = os.environ.get("SPARK_MASTER")
        if master is None:
            master = f"local[{cpus}]"
    heap = driver_memory()
    b = SparkSession.builder
    if master:
        b = b.master(master)
    b = (
        b.appName(app_name)
        # AQE: runtime coalesce + skew-join splitting (SURVEY.md §4 —
        # replaces the reference's hand-built hot-key handling,
        # cntprops.pl:16,68-77)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # independent pipeline stages are submitted from concurrent driver
        # threads; FAIR keeps one long stage from starving the others
        .config("spark.scheduler.mode", "FAIR")
        # Arrow for all pandas-UDF exchange (input_hint: no per-row Python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # zstd level 1 for stage snapshots (r7, guide §6): the default
        # level 3 costs ~1.6x the write wall for ~9% smaller files
        # (measured on the 100k-page extract stage: 2.75 s -> 1.76 s,
        # 37.5 -> 41.0 MB); snapshots are written once and re-read a
        # handful of times, so write speed wins.  Deployment overrides
        # via SPARK_GRAFT_ZSTD_LEVEL (e.g. archival tiers want 3+).
        .config(
            "spark.hadoop.parquet.compression.codec.zstd.level",
            os.environ.get("SPARK_GRAFT_ZSTD_LEVEL", "1"),
        )
        # Input split size (r7, guide §6): the bench ships each table as
        # ONE parquet file with ~1M-row (~20 MB) row groups, so the
        # default 128 MB splits leave a 130 MB fact-table scan at 1-2
        # tasks; 32 MB splits let every row group scan in its own task
        # (measured: a1 1.23 -> 1.09 s, w2 0.41 -> 0.31 s at 10x bench
        # scale; pipeline unchanged).  Splits never cut INSIDE a row
        # group, so this is row-group-granularity parallelism, not task
        # spam.  Production deployments with many large files want
        # 128 MB - 1 GB (guide §6) via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", heap)
        # Pin the heap (-Xms == -Xmx) and pre-touch it: G1's incremental
        # heap expansion under allocation pressure causes kernel-side page
        # zeroing churn that serializes high-concurrency Arrow exchange
        # (measured: 5x slowdown of mapInPandas at local[32] vs local[8]
        # before pinning).  On a real cluster the same applies to
        # executor JVMs: spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", f"-Xms{heap} -XX:+AlwaysPreTouch")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
