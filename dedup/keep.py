"""Keep policy + delete rewrite (operators N10 + S10).

The reference delegates the keep/delete choice to an interactive human
(reference: /root/reference/src/interactive.rs:70-105); its bulk policies
(--keep-oldest etc.) are unimplemented TODOs (reference: README.md:173-177).
A corpus pipeline has no TTY, so the policy is declarative: deterministic
row_number over each cluster.

The delete itself is the Iceberg row-level DELETE in production; the
sandbox-portable equivalent implemented here is the anti-join rewrite
(reference analog: the fs::remove_file loop, src/interactive.rs:125-135).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _nflag(col: "F.Column") -> "F.Column":
    """0 for non-null, 1 for null — leading struct field that reproduces the
    NULLS LAST placement of the policy orderings under min(struct)."""
    return F.isnull(col).cast("int")


#: policy name → total-order key struct (min == the representative).
#: Every field is non-null (flags + coalesced keys) so struct MIN/equality
#: are never null-ambiguous, and conv_id makes the key unique per row.
POLICIES = {
    # oldest first_ts, NULLS LAST, conv_id tie-break
    "oldest": lambda: F.struct(
        _nflag(F.col("first_ts")).alias("n"),
        F.coalesce(F.unix_micros("first_ts"), F.lit(0)).alias("k"),
        F.col("conv_id").alias("id"),
    ),
    # newest first_ts, NULLS LAST (descending via negated epoch micros)
    "newest": lambda: F.struct(
        _nflag(F.col("first_ts")).alias("n"),
        F.coalesce(-F.unix_micros("first_ts"), F.lit(0)).alias("k"),
        F.col("conv_id").alias("id"),
    ),
    # longest doc, NULLS LAST (Spark desc default), conv_id tie-break
    "longest": lambda: F.struct(
        _nflag(F.col("total_chars")).alias("n"),
        (-F.coalesce(F.col("total_chars"), F.lit(0))).alias("k"),
        F.col("conv_id").alias("id"),
    ),
    "first_id": lambda: F.struct(F.col("conv_id").alias("id")),
}


def _np_key(col: pa.ChunkedArray, sign: int) -> list[np.ndarray]:
    """numpy twin of a policy struct's (n, k) fields: null flag, then
    ``sign`` × the value as int64 (epoch micros for a timestamp), 0 if null."""
    flag = pc.is_null(col).to_numpy(zero_copy_only=False)
    return [flag, sign * pc.fill_null(col.cast(pa.int64()), 0).to_numpy()]


#: ``POLICIES`` over Arrow columns: policy name → the leading key arrays;
#: row position (conv_id order) is the final tie-break
NP_POLICIES = {
    "oldest": lambda t: _np_key(t.column("first_ts"), 1),
    "newest": lambda t: _np_key(t.column("first_ts"), -1),
    "longest": lambda t: _np_key(t.column("total_chars"), -1),
    "first_id": lambda t: [],
}


def representatives(cluster: np.ndarray, conv: pa.Table, policy: str = "oldest") -> np.ndarray:
    """``select_representatives`` for rows in conv_id order, as a mask of
    the rows whose policy key is their cluster's minimum. ``cluster`` is
    each row's cluster label; ``conv`` holds its ``first_ts`` and
    ``total_chars``."""
    if policy not in NP_POLICIES:
        raise ValueError(f"unknown keep policy {policy!r}; one of {sorted(NP_POLICIES)}")
    n = cluster.size
    order = np.lexsort((np.arange(n), *NP_POLICIES[policy](conv)[::-1], cluster))
    c = cluster[order]
    first = np.ones(n, dtype=bool)
    first[1:] = c[1:] != c[:-1]
    rep = np.zeros(n, dtype=bool)
    rep[order[first]] = True
    return rep


def select_representatives(
    clusters: DataFrame, conversations: DataFrame, policy: str = "oldest"
) -> DataFrame:
    """clusters(conv_id, cluster_id) × conversations → + is_representative.

    Representative = the member with the MINIMUM policy-order key struct in
    its cluster (FIXTURES.md ``keep_policy``: oldest first_ts, tie-broken by
    conv_id — the key struct encodes exactly that ordering, so output rows
    are identical to the former row_number-over-window formulation).

    Shape: groupBy(cluster_id).min(key) joined back — NOT a window. Exact
    dedup produces mega-clusters by construction (a 10^7-copy boilerplate
    template is ONE cluster), and a window over cluster_id lands each
    cluster in a single unsplittable task; the groupBy gets map-side partial
    aggregation and the join back is AQE-skew-splittable (the same recipe as
    the A5 per-group width fix in formatted_report).
    """
    if policy not in POLICIES:
        raise ValueError(f"unknown keep policy {policy!r}; one of {sorted(POLICIES)}")
    meta = conversations.select("conv_id", "first_ts", "total_chars")
    keyed = clusters.join(meta, "conv_id", "left").withColumn(
        "_ord", POLICIES[policy]()
    )
    best = keyed.groupBy("cluster_id").agg(F.min("_ord").alias("_best"))
    return (
        keyed.join(best, "cluster_id")
        .withColumn("is_representative", F.col("_ord") == F.col("_best"))
        .select("conv_id", "cluster_id", "first_ts", "total_chars", "is_representative")
    )


def losers(clusters_with_rep: DataFrame) -> DataFrame:
    """Non-representative members — the delete set."""
    return clusters_with_rep.where(~F.col("is_representative")).select("conv_id")


def apply_delete_rewrite(turns: DataFrame, losers_df: DataFrame) -> DataFrame:
    """Anti-join rewrite of the turns table: drop every turn of every loser
    conversation. On Iceberg this is `DELETE FROM transcripts WHERE conv_id
    IN (SELECT ...)`; the anti-join expresses the same rows. The loser set
    is explicitly broadcast — it is orders of magnitude smaller than the
    turns table by construction, and without stats the static planner would
    otherwise sort-merge-shuffle the full corpus."""
    return turns.join(F.broadcast(losers_df), "conv_id", "left_anti")


def duplicate_report(clusters_with_rep: DataFrame) -> DataFrame:
    """Deterministically ordered duplicate report (operator S9).

    The reference prints in nondeterministic DashMap/par_iter order
    (reference: /root/reference/src/formatter.rs:45); we impose
    ORDER BY cluster_id, conv_id precisely because it cannot.
    """
    return clusters_with_rep.select(
        "cluster_id", "conv_id", "is_representative", "first_ts", "total_chars"
    ).orderBy("cluster_id", "conv_id")


def human_size(col) -> "F.Column":
    """H5: human filesize string, SI decimal units (reference:
    /root/reference/src/formatter.rs:28-30 — the bytesize crate's display).
    Pure CASE/round/concat — SQL-mirrorable."""
    c = col.cast("double")
    return (
        F.when(c >= 1e12, F.concat(F.round(c / 1e12, 1).cast("string"), F.lit(" TB")))
        .when(c >= 1e9, F.concat(F.round(c / 1e9, 1).cast("string"), F.lit(" GB")))
        .when(c >= 1e6, F.concat(F.round(c / 1e6, 1).cast("string"), F.lit(" MB")))
        .when(c >= 1e3, F.concat(F.round(c / 1e3, 1).cast("string"), F.lit(" KB")))
        .otherwise(F.concat(col.cast("long").cast("string"), F.lit(" B")))
    )


def formatted_report(clusters_with_rep: DataFrame, conversations: DataFrame) -> DataFrame:
    """Human-readable report rows — the reference's formatter/interactive
    display logic as columns (H4 padded id, H5 human size, H6 mtime format,
    A3 global max display width, A5 per-group max width):

    - ``conv_id_padded``: conv_id right-padded to the GLOBAL max id width —
      A3's lock-free running max (reference: /root/reference/src/
      processor.rs:82-86) is just ``max(length(conv_id))``, computed as a
      1-row agg broadcast back (a global window would single-partition the
      sort at scale; a broadcast nested loop of one row is free;
      H4 pad: /root/reference/src/formatter.rs:15-26);
    - ``group_width``: per-cluster max width (A5 — reference:
      /root/reference/src/interactive.rs:33-37) — a groupBy-max joined
      back (map-side combine, AQE-splittable) rather than a window max,
      so one mega-cluster never serializes into a single window task;
    - ``size_h``: human filesize (H5), ``mtime_h``: formatted first_ts (H6,
      reference: /root/reference/src/formatter.rs:32-35).
    """
    meta = conversations.select("conv_id", "first_ts", "total_chars")
    rows = clusters_with_rep.select("cluster_id", "conv_id", "is_representative").join(
        meta, "conv_id", "left"
    )
    width = rows.agg(F.max(F.length("conv_id")).cast("int").alias("_w"))
    gwidth = rows.groupBy("cluster_id").agg(
        F.max(F.length("conv_id")).cast("int").alias("group_width")
    )
    return (
        rows.join(F.broadcast(width))
        .join(gwidth, "cluster_id")
        .select(
            "cluster_id",
            "conv_id",
            F.expr("rpad(conv_id, _w, ' ')").alias("conv_id_padded"),
            "group_width",
            "is_representative",
            human_size(F.col("total_chars")).alias("size_h"),
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("mtime_h"),
        )
        .orderBy("cluster_id", "conv_id")
    )
