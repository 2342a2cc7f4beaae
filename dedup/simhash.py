"""Per-turn SimHash for near-exact turn matching (operator N8).

Proposes conversation candidates from individual turns that are
byte-near-identical (whitespace/punctuation variants — FIXTURES.md
``near_exact_turn``); ``verify.verify_pairs`` decides which candidates
become edges, as for LSH. This is the per-page analog of the reference's
per-file prefix hash (reference: /root/reference/src/fileinfo.rs:42-48): a
cheap fixed-width fingerprint that blocks likely near-duplicates together.

Dataflow (fingerprints in one pandas UDF; pairing in the JVM):
1. normalize turn text hard (lowercase, strip punctuation) — so pure
   whitespace/punct variants hash IDENTICALLY;
2. 64-bit SimHash per turn in one Arrow-batched pandas UDF (numpy bit-count
   over shingle hashes);
3. pigeonhole banding (Manku-style): the 64 bits split into b blocks;
   Hamming ≤ k ⇒ at least (b-k) blocks match exactly, so every
   (b-k)-subset of blocks becomes a band key and bucket-grouping on
   (chunk_id, chunk_val) finds all such pairs without O(n²) compare — key
   width sets collision volume, so b follows the distinct-fingerprint
   count (``pick_band_blocks``; ``_band_structs`` builds the keys);
4. keep fingerprint pairs within Hamming ``simhash_hamming`` (xor +
   bit_count);
5. lift turn pairs to conversation candidates (source='simhash') by a
   both-sides turn-coverage filter (``simhash_conv_pairs``); it is not
   verification — ``verify.verify_pairs`` checks them.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedup.config import DedupConfig
from dedup.lsh import bucketed_pairs, route_bucket_pairs
from dedup.minhash import _collapse_runs, batch_window_hashes

#: fingerprint width: batch_simhash and with_turn_simhash_md5 both produce
#: 64-bit fingerprints
_FP_BITS = 64
#: the conversation-lift coverage filter (see ``simhash_conv_pairs``)
_MIN_SHARED_TURN_FRAC = 0.8
_MIN_MATCHED_TURNS = 2


def _hard_normalize(text: str) -> str:
    import re

    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()


#: ASCII bytes outside [a-z0-9] once lowercased: _hard_normalize's separators
_NON_ALNUM_BYTES = np.ones(256, dtype=bool)
_NON_ALNUM_BYTES[48:58] = _NON_ALNUM_BYTES[65:91] = _NON_ALNUM_BYTES[97:123] = False


def batch_hard_normalize_bytes(texts) -> list[bytes]:
    """UTF-8 bytes of ``_hard_normalize(t)`` for every text, vectorized:
    lowercase, runs of non-[a-z0-9] collapse to a single space, leading and
    trailing runs dropped (see ``minhash._collapse_runs``; bit-identity with
    the regex is pinned by test). The per-doc ``re.sub`` loop this replaces
    was 29% of the simhash UDF kernel (measured 0.21 s vs 0.02 s per 20k
    turns).
    """
    return _collapse_runs(texts, _NON_ALNUM_BYTES, True, _hard_normalize)


def batch_simhash(texts: list[str], k: int = 4) -> np.ndarray:
    """int64 SimHash fingerprints for a batch, cache-blocked: per L2-sized
    window chunk, unpack all 64 bits at once (np.unpackbits on the uint64
    byte view) and segment-sum the bit matrix VIEWED AS (rows, 8) uint64
    words — one reduceat adds 8 byte-lanes per machine word (SWAR), with
    sub-segments capped at 128 rows so no 8-bit lane can carry; lane sums
    are then widened to the int64 vote table per doc. Measured 2.1× over
    the prior (rows, 64)-uint8 reduceat with int64 accumulator (whole
    kernel, 20k turns; outputs bit-identical). Votes are over the shingle
    MULTISET (frequency-weighted SimHash). Bit order is a fixed bijection
    of feature-hash bits; any fixed permutation preserves Hamming distances
    and chunk banding."""
    H, starts, counts = batch_window_hashes(batch_hard_normalize_bytes(texts), k)
    n_docs = starts.size
    if n_docs == 0:
        return np.zeros(0, dtype=np.int64)
    CHUNK = 16384
    votes = np.zeros((n_docs, 64), dtype=np.int64)
    # the byte view below puts byte j of each uint64 word at shift 8·j only
    # on a little-endian host
    assert sys.byteorder == "little", "SWAR lane extraction assumes little-endian"
    lane_shifts = np.arange(0, 64, 8, dtype=np.uint64)
    for lo in range(0, H.size, CHUNK):
        hi = min(lo + CHUNK, H.size)
        nrow = hi - lo
        bits = np.unpackbits(H[lo:hi].view(np.uint8).reshape(nrow, 8), axis=1)
        d0 = int(np.searchsorted(starts, lo, side="right")) - 1
        d1 = int(np.searchsorted(starts, hi, side="left"))
        seg = np.maximum(starts[d0:d1] - lo, 0)  # doc starts, strictly asc
        seg_ends = np.append(seg[1:], nrow)
        widths = seg_ends - seg
        if (widths > 128).any():
            extra = np.concatenate(
                [
                    np.arange(s + 128, e, 128)
                    for s, e in zip(seg[widths > 128], seg_ends[widths > 128])
                ]
            )
            sub = np.sort(np.concatenate([seg, extra]))
        else:
            sub = seg
        # SWAR segment sum: 8 uint8 lanes per uint64 word, ≤128 ones/lane
        words = bits.view(np.uint64).reshape(nrow, 8)
        with np.errstate(over="ignore"):
            ssum = np.add.reduceat(words, sub, axis=0)  # (n_sub, 8 words)
        lanes = (
            (ssum[:, :, None] >> lane_shifts[None, None, :]) & np.uint64(0xFF)
        ).astype(np.int64)  # [sub, word, lane] → bit column = 8·word + lane
        sub_doc = (np.searchsorted(seg, sub, side="right") - 1) + d0
        np.add.at(votes, sub_doc, lanes.reshape(-1, 64))
    fp_bits = (votes * 2 > counts[:, None]).astype(np.uint64)
    fp = (fp_bits << np.arange(64, dtype=np.uint64)[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    return fp.astype(np.int64)  # two's-complement into Spark LongType


def py_simhash(text: str, k: int = 4) -> int:
    """64-bit SimHash of one text: ``batch_simhash`` on a one-doc batch, the
    same call the UDF of ``with_turn_simhash`` makes per Arrow batch."""
    return int(batch_simhash([text], k)[0])


def with_turn_simhash(turns: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Per-turn simhash for NON-EMPTY turns. Empty turns are dropped here,
    before the UDF (an empty-text simhash would mega-bucket, and filtering
    first keeps the checkpointed table free of the text column). ``cfg`` is
    unused: the gram width is fixed at 4."""

    @F.pandas_udf(T.LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(batch_simhash(list(texts), 4))

    return turns.where(F.length(F.coalesce("text", F.lit(""))) > 0).withColumn(
        "simhash", simhash_udf(F.col("text"))
    )


def with_turn_simhash_md5(
    turns: DataFrame, cfg: DedupConfig | None = None, gram_k: int = 4
) -> DataFrame:
    """SQL-mirrorable per-turn SimHash, pure JVM expressions (no Python).

    Same SimHash semantics as the numpy kernel (bit votes over the char-
    ``gram_k``-gram MULTISET of hard-normalized text) but with md5 as the
    gram hash, so a DuckDB oracle can recompute the fingerprint bit-for-bit
    (md5 hex agrees across engines; the numpy kernel's splitmix64 rolling
    hash needs uint64 wraparound arithmetic SQL does not have). The 64-bit
    fingerprint is assembled from the first 16 hex chars of each gram's
    md5: chunk c (of 4) takes hex chars [4c+1, 4c+4], bit b of chunk c is
    floor(val_c / 2^b) % 2 — integer arithmetic identical in Spark and
    DuckDB, no signed-shift pitfalls.

    Slower than the batched numpy kernel (one md5 per gram) — the numpy
    kernel stays the library default; this variant is the driver-contract
    surface exercising the same banding/pairing dataflow downstream.
    Output: (conv_id, turn_idx, simhash) — same contract as
    ``with_turn_simhash``, so ``simhash_turn_pairs`` runs unchanged.
    """
    cfg = cfg or DedupConfig()
    ht = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    grams = F.explode(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length("ht") - F.lit(gram_k - 1), F.lit(1))
            ),
            lambda i: F.col("ht").substr(i, F.lit(gram_k)),
        )
    )
    g = (
        turns.where(F.length(F.coalesce("text", F.lit(""))) > 0)
        .select("conv_id", "turn_idx", ht.alias("ht"))
        .select("conv_id", "turn_idx", grams.alias("g"))
        .withColumn("h", F.md5("g"))
    )
    for c in range(4):
        g = g.withColumn(
            f"v{c}", F.conv(F.substring("h", 4 * c + 1, 4), 16, 10).cast("int")
        )
    votes = [
        F.sum((F.floor(F.col(f"v{c}") / F.lit(1 << b)) % 2).cast("long")).alias(
            f"s{c}_{b}"
        )
        for c in range(4)
        for b in range(16)
    ]
    agg = g.groupBy("conv_id", "turn_idx").agg(
        F.count(F.lit(1)).alias("n"), *votes
    )
    chunk = [
        sum(
            (
                (F.col(f"s{c}_{b}") * 2 > F.col("n")).cast("long") * F.lit(1 << b)
                for b in range(16)
            ),
            start=F.lit(0).cast("long"),
        )
        for c in range(4)
    ]
    fp = (
        F.shiftleft(chunk[3], 48)
        .bitwiseOR(F.shiftleft(chunk[2], 32))
        .bitwiseOR(F.shiftleft(chunk[1], 16))
        .bitwiseOR(chunk[0])
    )
    return agg.select("conv_id", "turn_idx", fp.alias("simhash"))


def turn_simhash_md5_sql(gram_k: int = 4) -> str:
    """DuckDB CTE fragment mirroring ``with_turn_simhash_md5`` bit-for-bit.

    Appends after a ``transcripts`` CTE; defines ``tsim(conv_id, turn_idx,
    c0, c1, c2, c3)`` — the four 16-bit SimHash chunks. The arithmetic is
    deliberately shift-free (floor-divide + mod, CASE sums) so signed-shift
    semantics can't diverge between engines.
    """
    vals = ",\n           ".join(
        f"CAST('0x' || substr(h, {4 * c + 1}, 4) AS INT) AS v{c}" for c in range(4)
    )
    votes = ",\n           ".join(
        f"sum(CAST(floor(v{c} / {1 << b}) AS BIGINT) % 2) AS s{c}_{b}"
        for c in range(4)
        for b in range(16)
    )
    chunks = ",\n           ".join(
        "("
        + " + ".join(
            f"CASE WHEN 2 * s{c}_{b} > n THEN {1 << b} ELSE 0 END" for b in range(16)
        )
        + f") AS c{c}"
        for c in range(4)
    )
    return f""",
tnorm AS (
    SELECT conv_id, turn_idx,
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS ht
    FROM transcripts WHERE length(text) > 0
),
tgrams AS (
    SELECT conv_id, turn_idx, md5(substr(ht, i, {gram_k})) AS h
    FROM tnorm,
         unnest(generate_series(1, greatest(length(ht) - {gram_k - 1}, 1))) AS t(i)
),
tvals AS (
    SELECT conv_id, turn_idx,
           {vals}
    FROM tgrams
),
tvotes AS (
    SELECT conv_id, turn_idx, count(*) AS n,
           {votes}
    FROM tvals GROUP BY 1, 2
),
tsim AS (
    SELECT conv_id, turn_idx,
           {chunks}
    FROM tvotes
)
"""


def pick_band_blocks(
    n_distinct: int, bits: int = _FP_BITS, hamming: int = 3, max_blocks: int = 10
) -> int:
    """Block count minimizing the MEASURED cost model of the banding kernel
    at this corpus size.

    With b blocks and Hamming budget k, keys are (b-k)-block subsets —
    width w ≈ (b-k)·(bits/b), tables T = C(b, b-k). Two costs trade off:
    - banding SHUFFLE: n·T rows through the stats aggregation;
    - collision STREAM: ~n/2^w random same-key partners per banded row,
      emitted map-side through a codegen Hamming filter (never shuffled —
      survivors are the only rows that move).
    Measured on this pipeline (6.4M turns, local[16]): streaming a
    candidate row costs ~1/300 of shuffling a banded row — b=4 (0.9B
    streamed candidates) beat b=5 (55M shuffled band rows) 59 s vs 130 s at
    5.5M fingerprints. So relative cost(b) = T · (1 + (n/2^w)/300); the
    argmin moves 4 → 5 → 6 → 7 as n grows ~10⁷ → 10⁹ → 10¹¹. The FINAL
    pair set is identical for every b (the exact Hamming filter decides).
    """
    from math import comb

    if hamming + 1 > max_blocks:
        raise ValueError(
            f"pigeonhole banding needs > simhash_hamming blocks: "
            f"hamming={hamming} admits no block count <= max_blocks={max_blocks}"
        )
    STREAM_VS_SHUFFLE = 300.0
    best_b, best_cost = None, None
    for b in range(hamming + 1, max_blocks + 1):
        w = (b - hamming) * (bits // b)
        tables = comb(b, b - hamming)
        cost = tables * (1.0 + (n_distinct / float(1 << w)) / STREAM_VS_SHUFFLE)
        if best_cost is None or cost < best_cost:
            best_b, best_cost = b, cost
    return best_b


def _band_structs(cfg: DedupConfig, nb: int) -> list:
    """JVM band-key exprs: one struct (chunk_id, chunk_val) per
    (nb - hamming)-subset of the fingerprint's nb bit blocks, the subset's
    block values packed into one long (shift/mask only, no Python)."""
    from itertools import combinations

    k = cfg.simhash_hamming
    if nb <= k:
        # with nb <= hamming blocks, a pair within Hamming k can differ in
        # EVERY block — no subset key is guaranteed equal and the pigeonhole
        # recall guarantee silently breaks (clamping to 1-block subsets
        # would just miss those pairs with no error or overflow row)
        raise ValueError(
            f"{nb} blocks must exceed simhash_hamming={k}: "
            f"pigeonhole banding needs >= hamming+1 blocks for full recall"
        )
    widths = [_FP_BITS // nb + (1 if i < _FP_BITS % nb else 0) for i in range(nb)]
    offsets = [sum(widths[:i]) for i in range(nb)]
    blk = [
        F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
        for off, w in zip(offsets, widths)
    ]
    wmax = max(widths)
    structs = []
    for ci, combo in enumerate(combinations(range(nb), nb - k)):
        key = blk[combo[0]]
        for pos, bi in enumerate(combo[1:], start=1):
            key = key + F.shiftleft(blk[bi], pos * wmax)
        structs.append(F.struct(F.lit(ci).alias("chunk_id"), key.alias("chunk_val")))
    return structs


def simhash_turn_pairs(
    turns_sh: DataFrame, cfg: DedupConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """(conv_id, turn_idx, simhash) → turn-level near-exact pairs.

    Returns (pairs, overflow): pairs = (conv_a, turn_a, conv_b, turn_b,
    hamming), one row per undirected pair by construction; overflow = one
    row per capped bucket (path, bucket_n). Empty-text turns are excluded
    upstream (simhash 0 would mega-bucket, the same skew concern as LSH
    mega-bands).

    Three-way decomposition — each sub-path's volume scales with the right
    quantity, not with raw turn count squared:

    1. EXACT fingerprint groups (hamming 0): bucket = the full 64-bit
       simhash, one banded row per turn. Identical/boilerplate turns — the
       heavy multiplicity in any real corpus — are fully absorbed here by
       the stats-first kernel (s==2 direct, cap→star for mega-groups) and
       NEVER enter the Hamming banding.
    2. NEAR fingerprint pairs (1..k): pigeonhole banding (Manku-style, see
       ``pick_band_blocks``) over the DISTINCT fingerprints only —
       members are bare longs (codegen min/max, no struct aggregation),
       tables × distinct rows, never tables × turns. Block count adapts to
       the measured distinct count so random-collision pairs stay ~O(n).
    3. EXPANSION of near fingerprint pairs back to turn pairs through the
       same capped kernel (bucket = the fp pair): boilerplate×boilerplate
       expansions demote to star edges + overflow instead of an m×n blowup.

    Star edges still face the exact cross-conv/hamming filters; a capped
    member's pairs beyond its anchor flow through connected components.
    Paths 2 and 3 pair through ``lsh.bucketed_pairs``, which pairs small
    bucket tables on the driver without a shuffle.
    """
    cfg = cfg or DedupConfig()
    k = cfg.simhash_hamming
    t = turns_sh.select("conv_id", "turn_idx", "simhash")

    def _turn_pairs(raw, hamming_col):
        return (
            raw.where(F.col("a.conv_id") != F.col("b.conv_id"))  # cross-conv
            .select(
                F.col("a.conv_id").alias("conv_a"),
                F.col("a.turn_idx").alias("turn_a"),
                F.col("b.conv_id").alias("conv_b"),
                F.col("b.turn_idx").alias("turn_b"),
                hamming_col.alias("hamming"),
            )
        )

    # One aggregation over the turn table feeds path 1 (duplicate
    # fingerprint groups), path 2 (the distinct-fingerprint list + its
    # count), and the block picker.
    m0 = F.struct("conv_id", "turn_idx")
    keyed0 = t.select("simhash", m0.alias("m"))
    fp_counts = (
        t.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("s"),
            F.min(m0).alias("m0"),
            F.max(m0).alias("m1"),
        )
        .localCheckpoint()
    )
    stats0 = fp_counts.where(F.col("s") > 1)

    # (1) exact fingerprint groups — no banding, one row per turn
    raw0, ov0 = route_bucket_pairs(
        keyed0, stats0, ["simhash"], cfg.band_bucket_cap
    )
    pairs0 = _turn_pairs(raw0, F.lit(0).cast("int"))

    # (2) near pairs over DISTINCT fingerprints
    fps = fp_counts.select("simhash")
    n_fp = fp_counts.count()  # count of the checkpointed table — free-ish
    nb = pick_band_blocks(max(n_fp, 1), _FP_BITS, k)
    banded = fps.select(
        "simhash", F.explode(F.array(*_band_structs(cfg, nb))).alias("c")
    ).select("simhash", "c.chunk_id", "c.chunk_val")
    rawf, ovf = bucketed_pairs(
        banded, ["chunk_id", "chunk_val"], ["simhash"], cfg.band_bucket_cap
    )
    fp_pairs = (
        rawf.select(F.col("a.simhash").alias("fa"), F.col("b.simhash").alias("fb"))
        .withColumn(
            "fham", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("int")
        )
        .where(F.col("fham").between(1, k))
        .dropDuplicates(["fa", "fb"])  # small: true near-dup fp pairs only
    )

    # (3) expand fp pairs to turn pairs through the capped kernel: bucket =
    # the fp pair, members = the turns carrying either fingerprint.
    # ``sides`` is CHECKPOINTED: it is tiny (two rows per true near-dup fp
    # pair) but its lineage contains the whole path-2 banding + dedup
    # shuffle — the expansion join below is read by two passes (bucket
    # stats, membership join), and without a cut each pass
    # would re-run path 2 from scratch (no exchange reuse across actions)
    sides = fp_pairs.select(
        F.col("fa").alias("simhash"), "fa", "fb", "fham"
    ).unionByName(
        fp_pairs.select(F.col("fb").alias("simhash"), "fa", "fb", "fham")
    ).localCheckpoint()
    exp_rows = t.join(sides, "simhash")  # sides is small → AQE broadcast
    raw1, ov1 = bucketed_pairs(
        exp_rows, ["fa", "fb", "fham"], ["conv_id", "turn_idx", "simhash"],
        cfg.band_bucket_cap,
    )
    pairs1 = _turn_pairs(
        # same-fp pairs inside an expansion bucket are path-1 territory
        raw1.where(F.col("a.simhash") != F.col("b.simhash")),
        F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int"),
    )

    # one row per pair by construction: path 1 buckets are disjoint groups,
    # path 3 buckets are distinct fp pairs and fp_pairs is deduped
    pairs = pairs0.unionByName(pairs1)
    overflow = (
        ov0.select(F.lit("exact_fp").alias("path"), "bucket_n")
        .unionByName(ovf.select(F.lit("fp_band").alias("path"), "bucket_n"))
        .unionByName(ov1.select(F.lit("expand").alias("path"), "bucket_n"))
    )
    return pairs, overflow


def simhash_conv_pairs(
    turns_sh: DataFrame,
    cfg: DedupConfig | None = None,
    materialize: bool = True,
    return_overflow: bool = False,
):
    """Lift turn pairs to conversation candidate pairs (source='simhash').

    A pair qualifies when matched turns cover ≥ ``_MIN_SHARED_TURN_FRAC``
    of BOTH conversations' turns AND the larger side's matched-turn count
    is at least ``least(_MIN_MATCHED_TURNS, n_a, n_b)``. This is a
    candidate filter, not verification: it keeps a short conversation
    holding one common boilerplate turn from proposing a pair with every
    conversation that holds it too, and ``verify.verify_pairs`` checks
    what remains. The matched-turn minimum is capped at the shorter
    side's turn count, so two one-turn conversations become a candidate
    on one matched turn.

    The turn pairs come from ``simhash_turn_pairs``; ``materialize``
    checkpoints them, and with it off Spark's exchange reuse still computes
    the chunk self-join once per action. ``return_overflow`` also returns
    the capped-bucket rows (path, bucket_n).
    """
    cfg = cfg or DedupConfig()
    tp, overflow = simhash_turn_pairs(turns_sh, cfg)
    if materialize:
        tp = tp.localCheckpoint()
    n_turns = turns_sh.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    per_pair = tp.groupBy("conv_a", "conv_b").agg(
        F.countDistinct("turn_a").alias("m_a"),
        F.countDistinct("turn_b").alias("m_b"),
    )
    out = (
        per_pair.join(
            n_turns.withColumnsRenamed({"conv_id": "conv_a", "n_turns": "n_a"}), "conv_a"
        )
        .join(n_turns.withColumnsRenamed({"conv_id": "conv_b", "n_turns": "n_b"}), "conv_b")
        .where(
            (
                F.least(F.col("m_a") / F.col("n_a"), F.col("m_b") / F.col("n_b"))
                >= F.lit(_MIN_SHARED_TURN_FRAC)
            )
            & (
                F.greatest("m_a", "m_b")
                >= F.least(F.lit(_MIN_MATCHED_TURNS), F.least("n_a", "n_b"))
            )
        )
        .select("conv_a", "conv_b", F.lit("simhash").alias("source"))
    )
    return (out, overflow) if return_overflow else out
