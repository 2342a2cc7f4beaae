"""Persistent-RDD scratch management.

Every ``localCheckpoint`` pins blocks in the block manager for the life of
the session; a pipeline run creates a dozen of them (tier intermediates, CC
rounds). Left in place they crowd the storage pool and visibly degrade the
NEXT job's UDF stages (observed: +10 s on the signature stage after one
run). These helpers snapshot the persistent-RDD id set and free everything
a run created except the results the caller wants to keep."""

from __future__ import annotations

from pyspark.sql import SparkSession


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()  # noqa: SLF001
    it = jmap.iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def unpersist_ids(spark: SparkSession, ids: set[int], blocking: bool = False) -> int:
    """Unpersist every currently-persistent RDD whose id is in ``ids``."""
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()  # noqa: SLF001
    it = jmap.iterator()
    freed = 0
    while it.hasNext():
        e = it.next()
        if e._1() in ids:
            e._2().unpersist(blocking)
            freed += 1
    return freed


def free_all_scratch(spark: SparkSession) -> int:
    """Unpersist every persistent RDD (bench/test hygiene between phases)."""
    return unpersist_ids(spark, persistent_rdd_ids(spark))


def shuffle_totals(spark: SparkSession) -> dict[str, int]:
    """Cumulative per-application shuffle/IO byte counters from Spark's
    AppStatusStore (the store behind the UI — populated even with
    spark.ui.enabled=false, zero polling overhead).

    VERDICT r04 #2: wall times on this shared-hypervisor host swing 3×
    between identical runs, so kernel/plan decisions must cite recorded
    BYTES — host-noise-immune — not contested walls. Callers snapshot
    before/after a section and diff.

    Returns {"shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
    "output_bytes", "n_stages"}; {} if the store API is unavailable (the
    py4j call reaches a private Scala method with default args — gated so
    a Spark upgrade degrades to no-bytes rather than a crash)."""
    try:
        st = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
        empty = spark._jvm.java.util.ArrayList()  # noqa: SLF001
        defaults = [getattr(st, f"stageList$default${i}")() for i in range(2, 6)]
        stages = st.stageList(empty, *defaults)
        out = {
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "input_bytes": 0,
            "output_bytes": 0,
            "n_stages": stages.size(),
        }
        for i in range(stages.size()):
            s = stages.apply(i)
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
        return out
    except Exception:  # noqa: BLE001
        return {}


def shuffle_delta(
    before: dict[str, int], after: dict[str, int]
) -> dict[str, int]:
    """after - before for the counters both snapshots carry."""
    return {k: after[k] - before[k] for k in after if k in before}


def spread_for_udf(df, materialized: bool = True):
    """Ensure a pandas-UDF input has ≥ cluster-parallelism partitions —
    WITHOUT a blanket repartition. UDF cost scales with ROWS, and upstream
    AQE coalesces by BYTES, so a squeezed input serializes the UDF; but an
    unconditional ``repartition`` shuffles the full text payload even when
    the input is already wide enough (measured: the 6.4M-turn simhash
    input is 48 scan splits at maxPartitionBytes=16MB — the repartition
    moved 1.3 GB of text for nothing).

    ``materialized=True`` (checkpointed/parquet-backed input): read the
    actual partition count and repartition only if too narrow.
    ``materialized=False`` (un-executed plan, possibly AQE): partition
    count cannot be read without forcing execution — fall back to the
    unconditional repartition.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if not materialized:
        return df.repartition(par)
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — exotic plans: keep the safe behavior
        return df.repartition(par)
    return df if n >= par else df.repartition(par)
