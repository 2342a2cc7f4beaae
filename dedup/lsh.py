"""LSH banding + candidate-pair generation (operators N4+N5).

The distributed replacement for the reference's DashMap key-collision
grouping (reference: /root/reference/src/processor.rs:71-74): instead of
inserting fingerprints into a concurrent hashmap, signatures are split into
``b`` bands of ``r`` rows, each band is hashed (JVM-side xxhash64 over the
int slice — no Python), and rows sharing a (band_id, band_hash) bucket are
paired by ``bucketed_pairs``, which the SimHash and span tiers use too.

``bucketed_pairs`` has two regimes, chosen by input size (as in
``dedup.cc``). Up to ``_DRIVER_ROWS`` rows the bucket table is collected as
Arrow and paired in numpy on the driver — the same blocking-in-memory-by-key
the reference does — with no shuffle at all.
Larger tables, tables with nulls or with columns that are neither strings
nor integers, and tables whose pairs would exceed ``_DRIVER_PAIRS`` take
the distributed path: a bucket-stats aggregation, a membership join and a
bounded ``collect_list`` per bucket. The driver regime's numpy kernel,
``bucket_pair_rows``, is also what the pipeline's driver pass
(``dedup.driver_pass``) pairs LSH bands and span anchors with.

Skew strategy (north rule: explicit handling, no silent caps):
- AQE skew-join is on session-wide (session.py) so runtime mega-partitions
  get split;
- buckets larger than ``band_bucket_cap`` would emit O(n²) pairs (templated
  tool outputs create such mega-bands); they are demoted to STAR pairs around
  the bucket-min member — O(n) edges that keep the bucket connected for the
  verify+CC stage — and counted into the returned overflow metric instead of
  being silently dropped. Both regimes emit the same star edges and overflow
  rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedup.cc import dense_index
from dedup.config import DedupConfig

#: largest bucket table (rows) paired on the driver; the regime is picked
#: by a row count, so a larger table is never collected. Measured on a
#: 4-core host with synth_spark LSH band tables (candidate_pairs + collect,
#: two sessions of 3 alternating reps, driver vs distributed): 0.55-0.96 s
#: vs 1.02-3.34 s at 100k rows, 0.85-1.23 s vs 1.23-1.88 s at 300k,
#: 2.53-3.20 s vs 2.71-3.39 s at 1M (199k pairs).
_DRIVER_ROWS = 1_000_000
#: most pairs (clique pairs plus star edges) the driver regime emits; above
#: it the table goes distributed. Every bucket is sized first, so an
#: exhausted budget costs the collect and one sort. The pairs return as a
#: local relation, whose JVM-side conversion costs a few µs a pair: on
#: dense 300k-row tables the driver regime took 0.8-1.2 s vs 0.6-1.0 s at
#: 150k pairs and 2.0-2.9 s vs 1.0-2.0 s at 450k. The budget sits just
#: above the pairs of a 1M-row LSH table.
_DRIVER_PAIRS = 250_000


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
    metrics_out: dict | None = None,
    driver_key: str = "driver",
) -> tuple[DataFrame, DataFrame]:
    """Size-routed candidate pairing, shared by the LSH, SimHash and span
    tiers.

    Every bucket of s rows emits all s(s-1)/2 pairs of its members, sorted,
    when s ≤ ``cap``. A bucket with s > ``cap`` emits O(s) STAR edges
    (bucket-min member ↔ each row whose member differs from it) plus one
    overflow-metric row, so mega-buckets are never silently dropped and
    never materialize a multi-GB aggregation row. Pairs form a multiset:
    a pair seen in two buckets appears twice (the span tier counts them),
    and a member listed twice in a bucket pairs with itself.

    Two regimes, chosen by a row count of ``rows``:

    - **Driver** (up to ``_DRIVER_ROWS`` rows): one Arrow collect of the
      bucket and member columns; rows are sorted in numpy by
      order-preserving codes (``cc.dense_index`` for strings, ``np.unique``
      for integers), so members sort in Spark's struct order, and the
      result comes back through ``createDataFrame`` with the distributed
      path's schema. Star edges and overflow rows are exact here, so a
      binding cap stays on the driver. It falls back to the distributed
      path when a column has nulls or is neither a string nor an integer,
      or when the pairs would exceed ``_DRIVER_PAIRS`` (checked before any
      pair is enumerated).
    - **Distributed**: ONE aggregation builds the per-bucket (s, m0, m1)
      stats table and ``route_bucket_pairs`` routes by s — s == 2 pairs
      come straight from the stats row, 2 < s ≤ cap through a membership
      join and a cap-bounded sorted ``collect_list``, s > cap as star
      edges. The stats table (duplicate buckets only — tiny) is
      checkpointed: its consumers get no exchange reuse.

    Both regimes read ``rows`` twice (count + collect, or stats +
    membership join) and never checkpoint it: pass rows whose lineage is
    cheap to re-run, e.g. a narrow pass over a materialized table.

    ``metrics_out``: optional dict; ``metrics_out[driver_key]`` records
    whether the driver regime ran.

    Returns (pairs(a: struct, b: struct), overflow(bucket_cols, bucket_n)),
    with a ≤ b in member-struct order (first member column ascending).
    """
    _check_cap(cap)  # before any job runs
    spark, schema = rows.sparkSession, rows.schema
    out = None
    if rows.count() <= _DRIVER_ROWS:
        out = _driver_bucket_pairs(
            rows.select(*bucket_cols, *member_cols).toArrow(), bucket_cols, member_cols, cap
        )
    if metrics_out is not None:
        metrics_out[driver_key] = out is not None
    if out is not None:
        member_t = T.StructType([schema[c] for c in member_cols])
        pairs = spark.createDataFrame(out[0], T.StructType(
            [T.StructField("a", member_t), T.StructField("b", member_t)]
        ))
        overflow = spark.createDataFrame(out[1], T.StructType(
            [schema[c] for c in bucket_cols]
            + [T.StructField("bucket_n", T.LongType(), False)]
        ))
        return pairs, overflow
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


def _order_codes(col: pa.ChunkedArray) -> np.ndarray | None:
    """int64 codes whose order is the column's Spark sort order (byte order
    for strings), or ``None`` for any other type."""
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        return dense_index(col.combine_chunks())[1]
    if pa.types.is_integer(col.type):
        return np.unique(col.to_numpy(), return_inverse=True)[1]
    return None


def _group_pairs(members: np.ndarray, sizes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Every i<j pair inside each group, for ``members`` laid out group
    after group with the given ``sizes``."""
    ends = np.repeat(np.cumsum(sizes), sizes)
    pos = np.arange(members.size)
    reps = ends - pos - 1  # partners after each member in its group
    left = np.repeat(pos, reps)
    seg = np.repeat(np.cumsum(reps) - reps, reps)
    right = left + 1 + (np.arange(left.size) - seg)
    return members[left], members[right]


def bucket_pair_rows(
    codes: list[np.ndarray], n_bucket: int, cap: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray] | None:
    """The driver regime's numpy kernel. ``codes`` are one int64 code array
    per column, bucket columns (the first ``n_bucket``) then member columns,
    each ordered as its column. Returns row indices ``(a, b)`` of every
    pair, the member of ``a`` first, and ``(over, sizes)``: one row of each
    bucket over ``cap`` and its size; or ``None`` over ``_DRIVER_PAIRS``
    pairs (checked before any pair is enumerated)."""
    n = codes[0].size
    order = np.lexsort(codes[::-1])  # bucket columns, then members, ascending
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    for c in codes[:n_bucket]:
        c = c[order]
        new[1:] |= c[1:] != c[:-1]
    heads = np.flatnonzero(new)
    sizes = np.diff(np.r_[heads, n])
    big = sizes > cap
    in_big = np.repeat(big, sizes)
    head = np.repeat(heads, sizes)
    # star edges: rows of a capped bucket whose member differs from the
    # bucket min, i.e. from the bucket's first sorted row
    differs = np.zeros(n, dtype=bool)
    for c in codes[n_bucket:]:
        c = c[order]
        differs |= c != c[head]
    star = np.flatnonzero(in_big & differs)
    small = sizes[~big]
    if int((small * (small - 1) // 2).sum()) + star.size > _DRIVER_PAIRS:
        return None
    a, b = _group_pairs(order[~in_big], small)
    a = np.concatenate([a, order[head[star]]])
    b = np.concatenate([b, order[star]])
    return a, b, order[heads[big]], sizes[big]


def _driver_bucket_pairs(
    table: pa.Table, bucket_cols: list[str], member_cols: list[str], cap: int
) -> tuple[pa.Table, pa.Table] | None:
    """The pairs and overflow rows of ``bucketed_pairs`` for a collected
    table, or ``None`` when the driver regime cannot take it."""
    if any(c.null_count for c in table.columns):
        return None
    codes = [_order_codes(table.column(c)) for c in (*bucket_cols, *member_cols)]
    if any(c is None for c in codes):
        return None
    out = bucket_pair_rows(codes, len(bucket_cols), cap)
    if out is None:
        return None
    a, b, over, sizes = out
    fields = [table.schema.field(c) for c in member_cols]

    def member(idx):
        idx = pa.array(idx, pa.int64())
        return pa.StructArray.from_arrays(
            [table.column(c).take(idx).combine_chunks() for c in member_cols],
            fields=fields,
        )

    overflow = pa.Table.from_arrays(
        [table.column(c).take(pa.array(over, pa.int64())) for c in bucket_cols]
        + [pa.array(sizes, pa.int64())],
        schema=pa.schema(
            [table.schema.field(c) for c in bucket_cols]
            + [pa.field("bucket_n", pa.int64(), nullable=False)]
        ),
    )
    return pa.table({"a": member(a), "b": member(b)}), overflow


def _check_cap(cap: int) -> None:
    if cap < 2:
        # the s==2 fast path is unconditional; a cap below 2 would emit a
        # size-2 bucket BOTH as a fast-path pair and a star edge, and the
        # duplicate rows would double-count span-tier shared_anchors
        raise ValueError(f"band_bucket_cap must be >= 2, got {cap}")


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
    _check_cap(cap)
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
    metrics_out: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs (conv_a < conv_b, source='lsh') plus a one-row-per
    overflowed-bucket metrics DataFrame (band_id, band_hash, bucket_n).

    ``signatures`` should be materialized (a stage table or a checkpoint):
    the banding over it is re-run by both reads of ``bucketed_pairs``.
    ``dedup=False`` skips the per-pair dropDuplicates shuffle — for callers
    (the pipeline) that immediately groupBy the union of all tiers' pairs
    anyway; standalone callers keep the default one-row-per-pair contract.
    ``metrics_out``: optional dict filled with ``lsh_driver`` (which
    ``bucketed_pairs`` regime ran).
    """
    cfg = cfg or DedupConfig()
    buckets = band_buckets(signatures, cfg)
    raw, overflow = bucketed_pairs(
        buckets,
        ["band_id", "band_hash"],
        ["conv_id"],
        cfg.band_bucket_cap,
        metrics_out,
        "lsh_driver",
    )
    pairs = raw.select(
        F.col("a.conv_id").alias("conv_a"), F.col("b.conv_id").alias("conv_b")
    )
    if dedup:
        pairs = pairs.dropDuplicates(["conv_a", "conv_b"])
    return pairs.withColumn("source", F.lit("lsh")), overflow
