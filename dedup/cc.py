"""Connected components over verified near-dup edges (N7).

Replaces the reference's transitive grouping-by-hashmap-key
(reference: src/server.rs:18 — a DashMap keyed by exact hash IS the
connected components of an equality graph). Near-dup similarity is not
transitive, so the verified-edge graph needs real CC.

One algorithm, two regimes, chosen by edge count:

- **Driver finish** (up to ``_DRIVER_EDGES`` edges): one collect of the edge
  table as Arrow, ids mapped to sorted int indices, then a vectorized numpy
  hook-and-compress union-find (every root hooks to the smallest root it
  touches, then pointer jumping until every node points at a root). It
  needs O(log n) rounds on any graph, a 10⁵-node path included, and costs
  one Spark job instead of a multi-stage loop per round.
- **Distributed** (larger graphs): alternating large-star/small-star rounds
  (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
  2014) as plain DataFrame ops, until the edges form one star per component
  centred on its minimum node. ``cc_max_iters`` bounds the rounds.

Returns (conv_id, cluster_id) where cluster_id = min conv_id in the
component — deterministic, unlike the reference's random-seeded hash keys
and nondeterministic DashMap iteration order (src/formatter.rs:45).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedup.util import persistent_rdd_ids, unpersist_ids

#: largest edge table finished on the driver: 1M string pairs are a few
#: tens of MB of Arrow and about a second of numpy.
_DRIVER_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    max_iters: int = 25,
    log=None,
    n_edges: int | None = None,
    input_deduped: bool = False,
    metrics_out: dict | None = None,
) -> DataFrame:
    """edges(conv_a, conv_b) → labels(conv_id, cluster_id).

    ``n_edges``: optional pre-known edge count (the pipeline's stage
    lineage); above ``_DRIVER_EDGES`` it skips the driver-regime probe.
    ``input_deduped``: the caller guarantees one row per undirected pair,
    so the distributed regime skips its defensive distinct.
    ``metrics_out``: optional dict filled with ``cc_edges``, ``cc_driver``
    (which regime ran) and ``cc_rounds`` (distributed rounds; 0 on the
    driver) — the caps audit: a run dir says how CC ran.
    """
    edges = edges.select("conv_a", "conv_b")
    table = None
    if n_edges is None or n_edges <= _DRIVER_EDGES:
        table = edges.limit(_DRIVER_EDGES + 1).toArrow()
        if table.num_rows > _DRIVER_EDGES:
            table = None
    if table is not None:
        labels, rounds = _driver_labels(table)
        if log:
            log(f"cc driver finish: {table.num_rows} edges, {rounds} union-find rounds")
        out = edges.sparkSession.createDataFrame(labels, "conv_id string, cluster_id string")
        stats = {"cc_edges": table.num_rows, "cc_driver": True, "cc_rounds": 0}
    else:
        out, stats = _star_labels(edges, n_edges, input_deduped, max_iters, log)
    if metrics_out is not None:
        metrics_out.update(stats)
    return out


def dense_index(values: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """(ids, idx): the distinct ``values`` in ascending order, and each
    value's int64 index into ``ids`` — so index order is value order."""
    ids = pc.unique(values)
    ids = ids.take(pc.array_sort_indices(ids))
    return ids, pc.index_in(values, value_set=ids).to_numpy(zero_copy_only=False).astype(np.int64)


def _driver_labels(table: pa.Table) -> tuple[pa.Table, int]:
    ids, idx = dense_index(
        pa.concat_arrays([table.column(c).combine_chunks() for c in ("conv_a", "conv_b")])
    )
    m = table.num_rows
    root, rounds = _union_find(idx[:m], idx[m:], len(ids))
    return pa.table({"conv_id": ids, "cluster_id": ids.take(pa.array(root))}), rounds


def _union_find(u: np.ndarray, v: np.ndarray, n: int) -> tuple[np.ndarray, int]:
    """Root of each of ``n`` nodes under edges (u, v): the component's
    smallest index. Pointers only ever move to smaller indices, so there
    are no cycles and each component's minimum ends up its root."""
    parent = np.arange(n, dtype=np.int64)
    rounds = 0
    while True:
        ru, rv = parent[u], parent[v]
        live = ru != rv  # edges whose ends are still in different trees
        if not live.any():
            return parent, rounds
        u, v, ru, rv = u[live], v[live], ru[live], rv[live]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))  # hook
        while True:  # compress: pointer jumping until every node is at a root
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
        rounds += 1


def _star_labels(
    edges: DataFrame, n_edges: int | None, input_deduped: bool, max_iters: int, log
) -> tuple[DataFrame, dict]:
    spark = edges.sparkSession
    # every frame checkpointed here is freed before returning, at the
    # RDD-id level: DataFrame.unpersist() is a no-op for localCheckpoint-ed
    # frames, so the caller gets back exactly one pinned frame
    pre = persistent_rdd_ids(spark)
    # (v, p): one row per undirected edge, child v above parent p
    e = edges.select(
        F.greatest("conv_a", "conv_b").alias("v"), F.least("conv_a", "conv_b").alias("p")
    ).where(F.col("v") != F.col("p"))
    if not input_deduped:
        e = e.distinct()
    e = e.localCheckpoint()
    if n_edges is None:
        n_edges = e.count()
    rounds = 0
    while not _star_forest(e):
        if rounds == max_iters:
            raise RuntimeError(f"connected components did not converge in {max_iters} rounds")
        e = _small_star(_large_star(e)).localCheckpoint()
        rounds += 1
        if log:
            log(f"cc star round {rounds}")
    loop_ids = persistent_rdd_ids(spark) - pre
    out = (
        e.select(F.col("v").alias("conv_id"), F.col("p").alias("cluster_id"))
        .unionByName(e.select("p", "p").distinct().toDF("conv_id", "cluster_id"))
        .localCheckpoint()
    )
    unpersist_ids(spark, loop_ids)
    return out, {"cc_edges": n_edges, "cc_driver": False, "cc_rounds": rounds}


def _large_star(e: DataFrame) -> DataFrame:
    """Every node u links each larger neighbour to min(u, neighbours of u)."""
    adj = e.toDF("a", "b").unionByName(e.select(F.col("p").alias("a"), F.col("v").alias("b")))
    m = F.least("a", F.min("b").over(Window.partitionBy("a")))
    return adj.withColumn("m", m).where(F.col("b") > F.col("a")).select(
        F.col("b").alias("v"), F.col("m").alias("p")
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Every node v links itself and its smaller neighbours to the smallest
    of them."""
    m = F.min("p").over(Window.partitionBy("v"))
    pair = F.explode(F.array(F.array("v", "m"), F.array("p", "m")))
    return (
        e.withColumn("m", m)
        .select(pair.alias("e"))
        .select(F.col("e")[0].alias("v"), F.col("e")[1].alias("p"))
        .where(F.col("v") != F.col("p"))
        .distinct()
    )


def _star_forest(e: DataFrame) -> bool:
    """True when every child has one parent and no parent is a child: each
    component is then a star centred on its minimum node."""
    roles = e.select(F.col("v").alias("n"), F.lit(1).alias("child")).unionByName(
        e.select(F.col("p").alias("n"), F.lit(0).alias("child"))
    )
    bad = roles.groupBy("n").agg(
        F.sum("child").alias("c"), F.count(F.lit(1)).alias("k")
    ).where((F.col("c") > 1) | ((F.col("c") == 1) & (F.col("k") > 1)))
    return bad.isEmpty()
