"""LSH banding + candidate-pair generation (operators N4+N5).

The distributed replacement for the reference's DashMap key-collision
grouping (reference: /root/reference/src/processor.rs:71-74): instead of
inserting fingerprints into a concurrent hashmap, signatures are split into
``b`` bands of ``r`` rows, each band is hashed (JVM-side xxhash64 over the
int slice — no Python), and a self-equi-join on (band_id, band_hash) emits
candidate pairs.

Skew strategy (north rule: explicit handling, no silent caps):
- AQE skew-join is on session-wide (session.py) so runtime mega-partitions
  get split;
- buckets larger than ``band_bucket_cap`` would emit O(n²) pairs (templated
  tool outputs create such mega-bands); they are demoted to STAR pairs around
  the bucket-min member — O(n) edges that keep the bucket connected for the
  verify+CC stage — and counted into the returned overflow metric instead of
  being silently dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup.config import DedupConfig


def band_buckets(signatures: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """(conv_id, minhash) → (conv_id, band_id, band_hash) — one row per band.

    Built entirely from JVM expressions: transform+sequence builds the band
    structs, slice cuts the signature, xxhash64 hashes the int array.
    """
    cfg = cfg or DedupConfig()
    r = cfg.lsh_rows
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.lsh_bands - 1)),
        lambda i: F.struct(
            i.cast("int").alias("band_id"),
            F.xxhash64(F.slice(F.col("minhash"), i * r + 1, r)).alias("band_hash"),
        ),
    )
    return signatures.select(
        "conv_id", F.explode(bands).alias("band")
    ).select("conv_id", "band.band_id", "band.band_hash")


def bucketed_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    member_cols: list[str],
    cap: int,
) -> tuple[DataFrame, DataFrame]:
    """Size-routed candidate pairing, shared by the LSH, SimHash and span
    tiers.

    ONE aggregation builds the per-bucket (s, m0, m1) stats table —
    (count, min(m), max(m)) per bucket — and pairs are routed by bucket
    size s:
    - s == 2 (the dominant duplicate shape): the pair is (min, max)
      directly from the stats row — zero arrays, zero extra shuffle;
    - 2 < s ≤ cap: membership join + sorted-array posexplode pairing —
      aggregation memory bounded by ``cap``, never the largest template;
    - s > cap: O(s) STAR edges (bucket-min anchor ↔ member) with NO array,
      plus an overflow-metric row — mega-buckets are never silently
      dropped and never materialize a multi-GB aggregation row.

    The stats table (duplicate buckets only — tiny) is checkpointed: its
    consumers (s==2 pairs, the s>2 membership join, the overflow metric)
    get no exchange reuse. ``rows`` is read twice (the stats aggregation
    and the membership join) and is never checkpointed here: pass rows
    whose lineage is cheap to re-run, e.g. a narrow pass over a
    materialized table.

    Returns (pairs(a: struct, b: struct), overflow(bucket_cols, bucket_n)),
    with a < b in member-struct order (first member column ascending).
    """
    m = F.struct(*[F.col(c) for c in member_cols])
    keyed = rows.select(*bucket_cols, m.alias("m"))
    stats = (
        keyed.groupBy(*bucket_cols)
        .agg(
            F.count(F.lit(1)).alias("s"),
            F.min("m").alias("m0"),
            F.max("m").alias("m1"),
        )
        .where(F.col("s") > 1)  # singleton buckets can't pair (≈ F3)
    ).localCheckpoint()
    return route_bucket_pairs(keyed, stats, bucket_cols, cap)


def route_bucket_pairs(
    keyed: DataFrame, stats: DataFrame, bucket_cols: list[str], cap: int
) -> tuple[DataFrame, DataFrame]:
    """Size-routed pair emission from precomputed bucket stats (see
    ``bucketed_pairs``, which builds the stats; callers that already have a
    per-bucket (s, m0, m1) aggregation — e.g. the SimHash exact-fingerprint
    path, whose turn-table aggregation also feeds its banding — call this
    directly and skip the extra shuffle). ``keyed`` = (bucket_cols..., m: struct); ``stats`` =
    (bucket_cols..., s, m0, m1) with s > 1, and should be materialized (its
    three consumers get no exchange reuse)."""
    if cap < 2:
        # the s==2 fast path is unconditional; a cap below 2 would emit a
        # size-2 bucket BOTH as a fast-path pair and a star edge, and the
        # duplicate rows would double-count span-tier shared_anchors
        raise ValueError(f"band_bucket_cap must be >= 2, got {cap}")
    pairs_two = stats.where(F.col("s") == 2).select(
        F.col("m0").alias("a"), F.col("m1").alias("b")
    )
    multi = stats.where(F.col("s") > 2)
    # membership is needed only for s>2 buckets — re-read the (cheap,
    # usually checkpointed) banded rows and keep just those buckets
    joined = keyed.join(
        multi.select(*bucket_cols, "s", "m0"), list(bucket_cols)
    )
    mid = (
        joined.where(F.col("s") <= cap)
        .groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
        .withColumn("s", F.size("ms"))
    )
    pairs_mid = mid.select(
        F.posexplode("ms").alias("i", "a"), "ms", "s"
    ).select("a", F.explode(F.expr("slice(ms, i + 2, s)")).alias("b"))
    pairs_big = joined.where(
        (F.col("s") > cap) & (F.col("m") != F.col("m0"))
    ).select(F.col("m0").alias("a"), F.col("m").alias("b"))
    overflow = multi.where(F.col("s") > cap).select(
        *bucket_cols, F.col("s").alias("bucket_n")
    )
    return pairs_two.unionByName(pairs_mid).unionByName(pairs_big), overflow


def candidate_pairs(
    signatures: DataFrame,
    cfg: DedupConfig | None = None,
    dedup: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs (conv_a < conv_b, source='lsh') plus a one-row-per
    overflowed-bucket metrics DataFrame (band_id, band_hash, bucket_n).

    ``signatures`` should be materialized (a stage table or a checkpoint):
    the banding over it is re-run by both passes of ``bucketed_pairs``.
    ``dedup=False`` skips the per-pair dropDuplicates shuffle — for callers
    (the pipeline) that immediately groupBy the union of all tiers' pairs
    anyway; standalone callers keep the default one-row-per-pair contract.
    """
    cfg = cfg or DedupConfig()
    buckets = band_buckets(signatures, cfg)
    raw, overflow = bucketed_pairs(
        buckets,
        ["band_id", "band_hash"],
        ["conv_id"],
        cfg.band_bucket_cap,
    )
    pairs = raw.select(
        F.col("a.conv_id").alias("conv_a"), F.col("b.conv_id").alias("conv_b")
    )
    if dedup:
        pairs = pairs.dropDuplicates(["conv_a", "conv_b"])
    return pairs.withColumn("source", F.lit("lsh")), overflow
