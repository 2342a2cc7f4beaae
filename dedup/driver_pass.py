"""The post-assembly tiers in numpy, for a conversations stage small enough
to hold on the driver.

Under ``pipeline._DRIVER_DOC_BYTES`` the pipeline collects the
conversations stage once as Arrow and computes every later stage here;
Spark only writes the stages. Each function returns the rows its
DataFrame tier returns, from the same kernels: ``minhash.doc_signatures``,
``suffix.doc_anchor_hashes``, ``suffix.span_lengths``,
``verify.shingle_jaccard``, the driver regime of ``lsh.bucketed_pairs``
(``lsh.bucket_pair_rows``) and the union-find of ``cc``'s driver finish.

Conversations are addressed by row. The caller sorts the table by
``conv_id``, so row order is Spark's ``conv_id`` order and a pair (a, b)
with a < b is a pair with ``conv_a < conv_b``, as every tier emits it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from dedup.cc import _union_find, dense_index
from dedup.config import DedupConfig
from dedup.lsh import _check_cap, bucket_pair_rows
from dedup.minhash import _mix64
from dedup.suffix import doc_anchor_hashes, min_shared_anchors, span_lengths
from dedup.verify import shingle_jaccard

#: signature pairs compared per numpy step in ``verify``
_VERIFY_CHUNK = 1 << 14


def _bucket_pairs(
    buckets: list[np.ndarray], member: np.ndarray, cap: int
) -> tuple[np.ndarray, np.ndarray, int] | None:
    """Member pairs of ``lsh.bucketed_pairs`` (a repeat per shared bucket)
    and the overflowed bucket count, or None over ``lsh._DRIVER_PAIRS``."""
    _check_cap(cap)
    out = bucket_pair_rows([*buckets, member], len(buckets), cap)
    if out is None:
        return None
    a, b, over, _sizes = out
    return member[a], member[b], over.size


def exact_pairs(conv: pa.Table, cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """Rows of ``exact.exact_pairs``: (group anchor, member) for every other
    member of a duplicate group. The group key is ``exact``'s dup key with
    the strings its md5s digest compared directly: (n_turns, total_chars)
    and the doc, or under fast mode its first ``prefix_len`` chars."""
    doc = conv.column("doc").combine_chunks()
    fp = doc if cfg.strict else pc.utf8_slice_codeunits(doc, 0, max(cfg.prefix_len, 0))
    keys = [
        conv.column("n_turns").to_numpy(),
        conv.column("total_chars").to_numpy(),
        dense_index(fp)[1],
    ]
    n = conv.num_rows
    pos = np.arange(n)
    order = np.lexsort([pos, *keys[::-1]])  # by key, then by row
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    for k in keys:
        k = k[order]
        new[1:] |= k[1:] != k[:-1]
    # each group's first row in that order is its smallest conv_id
    anchor = order[np.maximum.accumulate(np.where(new, pos, 0))]
    dup = anchor != order
    return anchor[dup], order[dup]


def lsh_pairs(sig: np.ndarray, cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray, int] | None:
    """Rows of ``lsh.candidate_pairs(dedup=False)`` and its overflowed
    bucket count, or None over ``lsh._DRIVER_PAIRS``. A bucket is a band id
    and a 64-bit hash of the band's values (``band_buckets`` uses
    xxhash64): the same buckets, hash collisions aside."""
    n, bands, r = sig.shape[0], cfg.lsh_bands, cfg.lsh_rows
    vals = sig.reshape(n, bands, r).transpose(1, 0, 2).reshape(bands * n, r)
    h = np.zeros(bands * n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(r):
            h = _mix64(h ^ vals[:, j].astype(np.uint32).astype(np.uint64))
    band = np.repeat(np.arange(bands), n)
    return _bucket_pairs([band, h], np.tile(np.arange(n), bands), cfg.band_bucket_cap)


def span_candidates(texts: list[str], cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray, int] | None:
    """Rows of ``suffix.span_candidate_pairs`` and its overflowed anchor
    count, or None over ``lsh._DRIVER_PAIRS``."""
    d, h = doc_anchor_hashes(texts, cfg)
    out = _bucket_pairs([h], d, cfg.band_bucket_cap)
    if out is None:
        return None
    a, b, n_over = out
    n = max(len(texts), 1)
    key, shared = np.unique(a * n + b, return_counts=True)
    key = key[shared >= min_shared_anchors(cfg)]
    return key // n, key % n, n_over


def pair_union(
    n: int, exact: tuple[np.ndarray, np.ndarray], lsh: tuple[np.ndarray, np.ndarray]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The pipeline's pair union: one row per pair, ``is_exact`` where the
    exact tier proposed it (the ``min(source)`` of the DataFrame union)."""
    n = max(n, 1)
    key = np.concatenate([exact[0] * n + exact[1], lsh[0] * n + lsh[1]])
    from_lsh = np.repeat([False, True], [exact[0].size, lsh[0].size])
    order = np.lexsort((from_lsh, key))
    key, from_lsh = key[order], from_lsh[order]
    first = np.ones(key.size, dtype=bool)
    first[1:] = key[1:] != key[:-1]
    key = key[first]
    return key // n, key % n, ~from_lsh[first]


def verify(
    a: np.ndarray,
    b: np.ndarray,
    is_exact: np.ndarray,
    sig: np.ndarray,
    texts: list[str],
    cfg: DedupConfig,
) -> tuple[np.ndarray, np.ndarray]:
    """``verify.verify_pairs`` over pair rows: (kept mask, similarity).
    Exact pairs pass at 1.0; the others need ``jaccard_threshold`` by
    signature agreement, or by shingle Jaccard under ``exact_verify``."""
    sim = np.ones(a.size)
    cand = np.flatnonzero(~is_exact)
    if cfg.exact_verify:
        sim[cand] = shingle_jaccard(
            [texts[i] for i in a[cand]], [texts[i] for i in b[cand]], cfg.shingle_k
        )
    else:
        for s in range(0, cand.size, _VERIFY_CHUNK):
            c = cand[s : s + _VERIFY_CHUNK]
            sim[c] = (sig[a[c]] == sig[b[c]]).sum(axis=1) / float(cfg.num_perm)
    return is_exact | (sim >= cfg.jaccard_threshold), sim


def span_verified(a: np.ndarray, b: np.ndarray, texts: list[str], cfg: DedupConfig) -> np.ndarray:
    """Mask of the candidate pairs ``suffix.verify_span_pairs`` keeps: a
    common substring of at least ``min_span_len`` chars."""
    span = span_lengths([texts[i] for i in a], [texts[i] for i in b], cfg)
    return span >= cfg.min_span_len


def components(u: np.ndarray, v: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray, int]:
    """(nodes, their component's smallest row, union-find rounds) for the
    rows that have an edge: ``cc.connected_components``' labels."""
    root, rounds = _union_find(u, v, n)
    nodes = np.unique(np.concatenate([u, v]))
    return nodes, root[nodes], rounds
