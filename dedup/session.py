"""SparkSession factory tuned for the dedup pipeline.

Scale posture (tested on local[N], designed for 1000-executor clusters):
- AQE on with skew-join handling: LSH band buckets and conversation-length
  blocks are Zipf-skewed by nature (templated tool outputs create mega-bands);
  AQE splits the skewed shuffle partitions at runtime.
- Arrow on: every custom fingerprint (MinHash/SimHash/spans) is a vectorized
  pandas UDF fed by Arrow batches — never row-at-a-time Python.
- UTC session timezone: required for DuckDB-oracle timestamp equality.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_GiB = 1 << 30


def host_sizing(phys_bytes: int, cpus: int, shm_free_bytes: int) -> tuple[str, bool]:
    """(default ``spark.driver.memory``, whether shuffle scratch may go to
    ``/dev/shm``) for a host with ``phys_bytes`` of RAM and ``cpus`` cores.

    The heap is physical memory minus 1 GB per core for the Python UDF
    workers and 3 GB for the JVM's off-heap use (metaspace, Netty/Arrow
    buffers) and the driver's own Python, capped at 48g and at least 1g: a
    15 GB 4-core host gets 8g. Scratch goes to the tmpfs only when it has
    at least that much free space — a small ``/dev/shm`` (64 MB in a
    default container) would fill up mid-shuffle."""
    heap_gb = max(1, min(48, phys_bytes // _GiB - cpus - 3))
    return f"{heap_gb}g", shm_free_bytes >= heap_gb * _GiB


def _host_sizing() -> tuple[str, bool]:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        st = os.statvfs("/dev/shm")
        shm_free = st.f_bavail * st.f_frsize
    except OSError:
        shm_free = 0
    return host_sizing(phys, os.cpu_count() or 8, shm_free)


def get_spark(
    app_name: str = "dedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores). On a real
    cluster this module is a no-op passthrough — spark-submit supplies master
    and sizing, and these SQL confs remain correct.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("DEDUP_SHUFFLE_PARTITIONS", n))

    # glibc tuning for the Python UDF workers (forked from the JVM, which
    # inherits this process's env): without it every Arrow batch's numpy
    # arrays are fresh mmaps, and first-touch page churn makes identical
    # batches vary 10-20× in wall time (measured). Keep allocations on the
    # reused heap instead.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "2147483647")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")

    # shuffle/spill scratch on tmpfs when it has room: 32 concurrent tasks
    # writing shuffle files through one virtio disk serializes the job on
    # IO regardless of core count (observed: local[32] == local[8] walls)
    driver_memory, scratch_on_shm = _host_sizing()
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and scratch_on_shm:
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Coalescing with the DEFAULT 1 MB minPartitionSize collapses every
        # small-BYTES shuffle (pair tables, band windows, CC labels) to ONE
        # partition, serializing work that is expensive per ROW; disabling
        # coalescing instead made every tiny shuffle pay 32 near-empty
        # tasks. 64 KB keeps row-heavy/byte-light shuffles parallel while
        # letting genuinely tiny ones coalesce.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "2147483647")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "268435456")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("DEDUP_DRIVER_MEM", driver_memory))
        .config("spark.ui.enabled", "false")
        # AppStatusStore retention: util.shuffle_totals sums per-stage byte
        # counters from this store (the bench/kernel-A/B evidence). At the
        # default retention (~1000 stages) long runs EVICT early stages and
        # before/after deltas go NEGATIVE (observed: -827 MB). Retention is
        # metadata-cheap; keep every stage a bench run can produce.
        .config("spark.ui.retainedStages", "50000")
        .config("spark.ui.retainedJobs", "20000")
        # Generated-class cache: one pass compiles about 150 classes, so at
        # the default of 100 entries every warm pass recompiled the whole
        # pass (148-150 classes, 0.8-1.3 s of Janino on the `chains`
        # benchmark workload, 4-core host); at 1000, warm passes compiled
        # 0-6 classes and their median wall fell from about 6.6 s to 5.8 s
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # UDF-heavy text work: cost ∝ rows, so prefer more, smaller splits
        # than the 128 MB default (row-group granularity still applies)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
