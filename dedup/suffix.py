"""Long shared-span detection across conversations (operator N9).

Catches pairs that are NOT near-duplicates globally but share one long
common substring spanning turn boundaries (FIXTURES.md ``shared_span``) —
e.g. a giant pasted tool output. No reference analog; mandated by the north
rule (BASELINE.json).

Two stages, mirroring the engine's universal block→fingerprint→verify spine:

1. **Anchor blocking** (cheap): every doc emits the rolling
   hashes of its ``_ANCHOR_W``-char windows whose hash ≡ 0 (mod
   ``span_anchor_mod``) — content-defined sampling (winnowing-style), so two
   docs sharing a span of length L share ≈ L/span_anchor_mod anchors
   REGARDLESS of alignment. A self-join on anchor hash + a minimum
   shared-anchor count yields candidate pairs. Hot anchors (boilerplate)
   are capped like LSH mega-bands — star edges + overflow metric.

2. **Pair verification**: exact longest-common-
   substring length via binary search over span length L — for each probe L,
   intersect the sets of rolling L-window hashes of both docs (O(n) per probe;
   numpy-vectorized). Pairs with LCS ≥ ``min_span_len`` become span edges.

Both stages hash windows with ``minhash``'s invertible-base prefix-sum
rolling hash (``_roll_prefix`` / ``_roll_windows``): the prefix arrays are
built once per doc, and each window length is then one O(n) pass — no
per-window loop.

Each stage has one numpy kernel (``doc_anchor_hashes``, ``span_lengths``).
The DataFrame builders here run them in pandas UDFs; the pipeline's driver
pass (``dedup.driver_pass``) calls them directly for a small input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedup.config import DedupConfig
from dedup.minhash import _roll_prefix, _roll_windows, batch_window_hashes, batch_ws_normalize_bytes
from dedup.verify import join_pair_docs


def longest_common_substring_len(a: str, b: str, lo: int = 1) -> int:
    """Length of the longest common substring of a and b (normalized
    upstream), via binary search + rolling-hash set intersection.

    Hash-based: collision odds per probe ≈ n·m/2^64 — negligible.
    """
    if isinstance(a, str):
        a = a.encode("utf-8", "surrogatepass")
    if isinstance(b, str):
        b = b.encode("utf-8", "surrogatepass")
    xa = np.frombuffer(a, dtype=np.uint8).astype(np.uint64)
    xb = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
    if xa.size == 0 or xb.size == 0:
        return 0
    pre_a, pre_b = _roll_prefix(xa), _roll_prefix(xb)
    hi = int(min(xa.size, xb.size))

    def common_at(L: int) -> bool:
        # unmixed hashes: mix64 is a bijection, so it cannot change whether
        # the two window sets intersect
        return np.intersect1d(_roll_windows(*pre_a, L), _roll_windows(*pre_b, L)).size > 0

    if not common_at(max(lo, 1)):
        return 0
    best, lo_, hi_ = max(lo, 1), max(lo, 1), hi
    while lo_ <= hi_:
        mid = (lo_ + hi_) // 2
        if common_at(mid):
            best, lo_ = mid, mid + 1
        else:
            hi_ = mid - 1
    return best


#: anchor window width (chars of the normalized doc)
_ANCHOR_W = 64


def doc_anchor_hashes(docs: list[str], cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """(doc index, anchor hash) int64 arrays: the distinct anchors of every
    doc, sorted by doc then hash — the one anchor kernel, run by the pandas
    UDF and by the pipeline's driver pass alike.

    ONE vectorized pass for the whole batch (was a per-doc loop of ~10
    small numpy calls — fixed overhead dominated at ~2 KB/doc).
    ``batch_window_hashes`` window values are position-independent, so a
    window's anchor hash does not depend on where it sits. The normalize
    pass is vectorized too (regex-parity pinned by test).
    """
    w, mod = _ANCHOR_W, cfg.span_anchor_mod
    normed = batch_ws_normalize_bytes(docs, cfg.span_doc_cap)
    n = len(normed)
    H, _starts, counts = batch_window_hashes(normed, w)
    lens = np.fromiter((len(b) for b in normed), dtype=np.int64, count=n)
    doc_idx = np.repeat(np.arange(n, dtype=np.int64), counts)
    # docs shorter than the window emit no anchors (their single
    # whole-text hash from batch_window_hashes must not leak through)
    m = np.repeat(lens >= w, counts) & (H % np.uint64(mod) == 0)
    d_sel, h_sel = doc_idx[m], H[m].astype(np.int64)
    order = np.lexsort((h_sel, d_sel))
    d_s, h_s = d_sel[order], h_sel[order]
    keep = np.ones(d_s.size, dtype=bool)
    keep[1:] = (d_s[1:] != d_s[:-1]) | (h_s[1:] != h_s[:-1])
    return d_s[keep], h_s[keep]


def doc_anchors(
    conversations: DataFrame,
    cfg: DedupConfig | None = None,
    input_materialized: bool = False,
) -> DataFrame:
    """(conv_id, doc) → (conv_id, anchor_hash), one row per distinct anchor.

    Anchors are ``_ANCHOR_W``-char windows with mixed hash ≡ 0 mod
    span_anchor_mod, computed by ``doc_anchor_hashes`` in a pandas UDF
    over the normalized doc.
    """
    from dedup.util import spread_for_udf

    cfg = cfg or DedupConfig()
    # spread rows for the UDF; a checkpointed input that is already wide
    # skips the full-doc-text shuffle (see util.spread_for_udf)
    conversations = spread_for_udf(conversations, materialized=input_materialized)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def anchors_udf(docs: pd.Series) -> pd.Series:
        d, h = doc_anchor_hashes(list(docs), cfg)
        bounds = np.searchsorted(d, np.arange(len(docs) + 1))
        return pd.Series([h[bounds[i] : bounds[i + 1]] for i in range(len(docs))], dtype=object)

    return conversations.select(
        "conv_id", F.explode(anchors_udf(F.col("doc"))).alias("anchor_hash")
    )


def min_shared_anchors(cfg: DedupConfig) -> int:
    """Anchors a span candidate pair must share: a true L-span shares
    ≈ L/mod anchors, and the threshold is conservative by 4× (alignment and
    normalization slack)."""
    return max(2, cfg.min_span_len // (4 * cfg.span_anchor_mod))


def span_candidate_pairs(
    conversations: DataFrame,
    cfg: DedupConfig | None = None,
    input_materialized: bool = False,
    metrics_out: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Anchor-join candidates: pairs sharing ≥ ``min_shared_anchors``
    anchors. Returns (pairs, overflow_metrics); the shared-anchor minimum
    keeps the pair table small.

    The anchor table is ALWAYS checkpointed: both ``bucketed_pairs``
    regimes read the anchor rows twice (row count + Arrow collect on the
    driver; bucket stats + the s>2 membership join distributed), and
    without a cut the anchor UDF — the expensive part of this tier — runs
    once per read (measured 58 s uncut vs 14.5 s checkpointed at sf0.1
    local[32]).

    ``metrics_out``: optional dict filled with ``span_driver`` (which
    bucket-pairing regime ran).
    """
    from dedup.lsh import bucketed_pairs

    cfg = cfg or DedupConfig()
    anchors = doc_anchors(conversations, cfg, input_materialized).localCheckpoint()
    # hot anchors (boilerplate) emit star edges + overflow rows instead of
    # O(n²) pairs — a star edge counts toward shared_anchors like any
    # other co-occurrence
    raw, overflow = bucketed_pairs(
        anchors, ["anchor_hash"], ["conv_id"], cfg.band_bucket_cap, metrics_out, "span_driver"
    )
    pairs = (
        raw.select(
            F.col("a.conv_id").alias("conv_a"), F.col("b.conv_id").alias("conv_b")
        )
        .groupBy("conv_a", "conv_b")
        .agg(F.count(F.lit(1)).alias("shared_anchors"))
        .where(F.col("shared_anchors") >= F.lit(min_shared_anchors(cfg)))
        .select("conv_a", "conv_b", F.lit("span").alias("source"))
    )
    return pairs, overflow


def span_lengths(docs_a: list[str], docs_b: list[str], cfg: DedupConfig) -> np.ndarray:
    """int32 longest-common-substring length of each (docs_a[i], docs_b[i])
    pair after normalization, 0 when it is under ``min_span_len`` — the one
    LCS kernel, run by the pandas UDF and by the pipeline's driver pass alike.
    The binary search starts at ``min_span_len``, so a pair below it costs
    one probe."""
    na_l = batch_ws_normalize_bytes(docs_a, cfg.span_doc_cap)
    nb_l = batch_ws_normalize_bytes(docs_b, cfg.span_doc_cap)
    out = np.zeros(len(na_l), dtype=np.int32)
    for i, (na, nb) in enumerate(zip(na_l, nb_l)):
        out[i] = longest_common_substring_len(na, nb, lo=cfg.min_span_len)
    return out


def verify_span_pairs(
    pairs: DataFrame,
    conversations: DataFrame,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """Exact LCS verification of span candidates; keeps pairs with a common
    substring ≥ min_span_len chars. Returns (conv_a, conv_b, source,
    span_len). ``span_lengths`` runs in a pandas UDF over
    ``join_pair_docs``."""
    cfg = cfg or DedupConfig()
    min_len = cfg.min_span_len

    @F.pandas_udf(T.IntegerType())
    def lcs_udf(doc_a: pd.Series, doc_b: pd.Series) -> pd.Series:
        return pd.Series(span_lengths(list(doc_a), list(doc_b), cfg))

    return (
        join_pair_docs(pairs, conversations)
        .withColumn("span_len", lcs_udf("doc_a", "doc_b"))
        .where(F.col("span_len") >= F.lit(min_len))
        .select("conv_a", "conv_b", "source", "span_len")
    )
