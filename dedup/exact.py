"""Stage 2 (exact tier): block → fingerprint → group.

This is the reference's whole engine, re-expressed declaratively
(reference paths are under its ``src/``):

- blocking key = (n_turns, total_chars) ≈ file size grouping
  (processor.rs:88-132, insert at 117-120);
- prefix hash over the first ``prefix_len`` chars ≈ first-16KiB gxhash fast
  mode (fileinfo.rs:42-48);
- full-content hash ≈ strict mode (fileinfo.rs:27-40). We hash the WHOLE doc
  in one md5 — the reference's XOR-of-chunks fold is commutative, i.e.
  chunk-order-insensitive, a weakness we deliberately do not replicate; and
  its size-salt (fileinfo.rs:38-39, disambiguating empty vs all-NUL files) is
  unnecessary because whole-string hashing plus the block key already
  separates them.

The reference prunes singleton blocks so their files are never read
(processor.rs:41-42). Here both md5s are computed map-side from docs already
in hand, and the dup key leads with the block key, so that prune would save
no hashing and change no group: the tier is one group-by on the dup key and
one join back. md5 (hex) because DuckDB's md5() agrees with Spark's on the
same UTF-8 input. All hashing is JVM-side codegen — zero Python here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup.config import DedupConfig


def with_block_key(conversations: DataFrame) -> DataFrame:
    """Cheap blocking key, the analog of exact byte size (A1).

    Encoded into one long (n_turns in the high bits) so downstream
    partitioning shuffles on a single column.
    """
    return conversations.withColumn(
        "block_key", F.col("n_turns").cast("long") * F.lit(2**40) + F.col("total_chars")
    )


def prune_singleton_blocks(conversations: DataFrame, key: str = "block_key") -> DataFrame:
    """Keep only rows whose ``key`` has ≥2 members: with ``block_key``, the
    reference's multi-member block predicate (F3; processor.rs:41-42).

    groupBy-count + semi-join rather than a window count: a window puts the
    whole group in ONE task's partition, a straggler AQE cannot split. The
    groupBy combines map-side into one skinny row per distinct key; AQE
    broadcasts it when small and skew-splits the semi-join when not.
    """
    multi = (
        conversations.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_block_n"))
        .where(F.col("_block_n") > 1)
        .select(key)
    )
    return conversations.join(multi, key, "left_semi")


def with_exact_hashes(conversations: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Attach prefix_hash (H2) and content_hash (H1) columns."""
    cfg = cfg or DedupConfig()
    return conversations.withColumn(
        "prefix_hash", F.md5(F.substring(F.col("doc"), 1, cfg.prefix_len))
    ).withColumn("content_hash", F.md5(F.col("doc")))


def exact_clusters(conversations: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Full exact tier: returns (conv_id, n_turns, total_chars, first_ts,
    block_key, prefix_hash, content_hash, dup_key, anchor) for every
    conversation in a ≥2-member duplicate group (A2+F4); ``anchor`` is the
    group's minimum conv_id.

    ``dup_key`` is the block key plus the grouping fingerprint: content_hash
    under strict mode, prefix_hash under fast mode (processor.rs:61-64). Fast
    mode therefore allows the same documented false positive as the
    reference (same size and prefix, different tail ⇒ one group;
    reference test: processor.rs:214-265).
    """
    cfg = cfg or DedupConfig()
    fingerprint = F.col("content_hash") if cfg.strict else F.col("prefix_hash")
    # Hashing happens map-side, before the one shuffle, so the group-by
    # carries 32-byte digests instead of whole documents.
    keyed = with_exact_hashes(with_block_key(conversations), cfg).select(
        "conv_id",
        "n_turns",
        "total_chars",
        "first_ts",
        "block_key",
        "prefix_hash",
        "content_hash",
        F.concat_ws(":", F.col("block_key").cast("string"), fingerprint).alias("dup_key"),
    )
    # groupBy + join, not windows, for the same reason as
    # prune_singleton_blocks: a 10⁷-copy template stays AQE-splittable
    groups = (
        keyed.groupBy("dup_key")
        .agg(F.count(F.lit(1)).alias("_n"), F.min("conv_id").alias("anchor"))
        .where(F.col("_n") > 1)
        .drop("_n")
    )
    return keyed.join(groups, "dup_key").select(*keyed.columns, "anchor")


def exact_pairs(conversations: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Exact-tier duplicate PAIRS (conv_a < conv_b, source='exact') feeding
    the shared verify/CC stage. Pairs are emitted per dup group as
    (anchor, member) star edges — O(n) edges per group instead of O(n²),
    which matters when a templated conversation has thousands of copies.
    """
    clus = exact_clusters(conversations, cfg)
    return clus.where(F.col("conv_id") != F.col("anchor")).select(
        F.col("anchor").alias("conv_a"),
        F.col("conv_id").alias("conv_b"),
        F.lit("exact").alias("source"),
    )
