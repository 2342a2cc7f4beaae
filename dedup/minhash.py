"""MinHash signatures over char-shingled documents (operators N2+N3).

The generalization of the reference's "cheap approximate fingerprint" idea —
its 16-KiB prefix hash (reference: /root/reference/src/fileinfo.rs:42-48)
admits false positives but never false negatives for exact duplicates; a
MinHash signature has the same one-sided property (identical docs ⇒ identical
signatures at ANY seed/config) while also catching near-duplicates, which is
what the north rule requires.

All compute is one numpy batch kernel, ``doc_signatures`` (no per-row
Python), run in an Arrow-batched pandas UDF or, for a small input, by the
pipeline's driver pass:
- shingling = numpy sliding-window polynomial rolling hash over UTF-8 bytes
  of the normalized doc, finalized with a 64-bit mixer (N2);
- signature position i = min over shingles x of mix64(x XOR salt_i), where
  mix64 is the splitmix64 finalizer — a high-quality pseudo-permutation of
  the uint64 space computable with pure wraparound arithmetic (vectorizes
  perfectly; no modular reduction whose wrap count would bias the min toward
  structurally small inputs). Salts come from a SEEDED generator (N3) —
  unlike the reference's per-run random seed (src/server.rs:38-39), the seed
  is pinned so runs are reproducible and the recall gate is checkable.

Memory is bounded by chunking the shingle axis (num_perm × 4096 × 8B ≈ 4 MB
working set per doc regardless of doc length).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedup.config import DedupConfig

_ROLL_BASE = np.uint64(1099511628211)  # FNV-ish odd base for the rolling hash
_SM1 = np.uint64(0xBF58476D1CE4E5B9)
_SM2 = np.uint64(0x94D049BB133111EB)


def _mix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — bijective avalanche mix of uint64 (wraparound)."""
    z = z ^ (z >> np.uint64(30))
    z = z * _SM1
    z = z ^ (z >> np.uint64(27))
    z = z * _SM2
    return z ^ (z >> np.uint64(31))


@lru_cache(maxsize=8)
def _perm_salts(num_perm: int, seed: int) -> np.ndarray:
    """Fixed per-permutation salts, cached per executor process."""
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 64, size=num_perm, dtype=np.uint64)


@lru_cache(maxsize=8)
def _roll_weights(k: int) -> np.ndarray:
    # BASE^(k-1), ..., BASE^1, BASE^0 with uint64 wraparound (intentional)
    w = np.ones(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i in range(k - 2, -1, -1):
            w[i] = w[i + 1] * _ROLL_BASE
    return w


_ROLL_BASE_INV = np.uint64(pow(int(_ROLL_BASE), -1, 1 << 64))

#: per-process cache of the geometric power series B^i / B^-i used by every
#: rolling-hash kernel (minhash shingles, simhash grams, span anchors, LCS
#: prefix arrays). The series depends only on its base, so one array serves
#: every batch; np.cumprod is a sequential scan re-run per batch (measured 2×
#: the whole window-hash kernel), while the doubling fill in ``_pow_fill``
#: runs log2(n) vectorized multiplies once per process.
_POW_CACHE: dict[int, np.ndarray] = {}
#: longest series ``_POW_CACHE`` keeps (32 MB per base); a longer request is
#: filled per call and not cached, so a worker's cache stays bounded.
_POW_CACHE_MAX = 1 << 22


def _pow_fill(base: np.uint64, n: int) -> np.ndarray:
    b = np.empty(n, dtype=np.uint64)
    b[0] = 1
    m = 1
    with np.errstate(over="ignore"):
        while m < n:
            step = min(m, n - m)
            np.multiply(b[:step], b[m - 1] * base, out=b[m : m + step])
            m += step
    return b


def _pow_series(base: np.uint64, n: int) -> np.ndarray:
    """First ``n`` powers of ``base`` mod 2^64 (cached up to ``_POW_CACHE_MAX``)."""
    if n > _POW_CACHE_MAX:
        return _pow_fill(base, n)
    # unlocked on purpose: the pipeline's driver threads may both fill the
    # entry, and either array holds the same powers
    arr = _POW_CACHE.get(int(base))
    if arr is None or arr.size < n:
        _POW_CACHE[int(base)] = arr = _pow_fill(base, min(max(n, 1 << 20), _POW_CACHE_MAX))
    return arr[:n]


def _roll_prefix(arr_u64: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Prefix step of the rolling hash: ``(S, B^i)``, S[j] = Σ_{i<j} a[i]·B^{-i}.

    With odd base B (invertible mod 2^64) a window's hash is a difference of
    two prefix sums, so each window length costs one ``_roll_windows`` pass
    — the naive sliding_window_view @ weights matmul runs ~50× slower.
    """
    n = arr_u64.size
    s = np.zeros(n + 1, dtype=np.uint64)
    with np.errstate(over="ignore"):
        np.cumsum(arr_u64 * _pow_series(_ROLL_BASE_INV, n), out=s[1:])
    return s, _pow_series(_ROLL_BASE, n)


def _roll_windows(s: np.ndarray, b_pow: np.ndarray, k: int) -> np.ndarray:
    """Window step: UNMIXED polynomial hashes of every k-element window,
    O(n), from ``_roll_prefix``'s arrays. Window i's value is
    (S[i+k]-S[i])·B^i = Σ_t a[i+t]·B^{-t}: multiplying back B^i cancels the
    B^{-i} factors, so equal windows hash equally at any position."""
    n = b_pow.size
    if n < k:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return (s[k:] - s[: n - k + 1]) * b_pow[: n - k + 1]


def shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct uint64 hashes of all k-byte shingles of ``text`` (UTF-8).

    Texts shorter than k yield a single whole-text shingle so every doc has a
    non-empty set (mirrors the reference hashing small files fully,
    src/fileinfo.rs:45-47).
    """
    raw = text.encode("utf-8", "surrogatepass")
    arr = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
    if arr.size == 0:
        arr = np.zeros(1, dtype=np.uint64)
    with np.errstate(over="ignore"):
        # size == k goes through the window path (one window) so the batch
        # kernel and this per-doc path agree at the boundary
        if arr.size < k:
            h = (arr * _roll_weights(int(arr.size))).sum(dtype=np.uint64)[None]
        else:
            h = _roll_windows(*_roll_prefix(arr), k)
        # finalize: polynomial-mod-2^64 hashes have structured low bits
        return np.unique(_mix64(h))


def batch_window_hashes(texts: list[str | bytes], k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Mixed uint64 k-byte-window hashes for a WHOLE batch of texts in one
    vectorized pass: all bytes are concatenated, one prefix-sum rolling hash
    (``_roll_prefix`` + ``_roll_windows``) computes every window hash, and
    windows crossing document boundaries are dropped with a ragged-range
    index. Texts shorter than k contribute one whole-text hash (same
    convention as shingle_hashes).

    Elements may be ``str`` (UTF-8-encoded here) or already-encoded
    ``bytes`` — callers that normalize in vectorized byte space (simhash's
    batch normalize) skip a decode/re-encode round trip per doc.

    Returns (H, starts, counts): doc i's window hashes (multiset, NOT
    deduped — MinHash's min and SimHash's votes are defined on multisets)
    are H[starts[i] : starts[i]+counts[i]].
    """
    bufs = [
        t if isinstance(t, bytes) else t.encode("utf-8", "surrogatepass")
        for t in texts
    ]
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    n_docs = len(bufs)
    counts = np.where(lens >= k, lens - k + 1, 1)
    starts = np.zeros(n_docs, dtype=np.int64)
    if n_docs:
        np.cumsum(counts[:-1], out=starts[1:])
    H = np.empty(int(counts.sum()), dtype=np.uint64)

    with np.errstate(over="ignore"):
        long_mask = lens >= k
        if long_mask.any():
            arr = np.frombuffer(b"".join(bufs), dtype=np.uint8).astype(np.uint64)
            offs = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            h_all = _roll_windows(*_roll_prefix(arr), k)

            lcounts = counts[long_mask]
            total_long = int(lcounts.sum())
            csum = np.zeros(lcounts.size, dtype=np.int64)
            np.cumsum(lcounts[:-1], out=csum[1:])
            base = np.arange(total_long, dtype=np.int64)
            src = base + np.repeat(offs[long_mask] - csum, lcounts)
            dst = base + np.repeat(starts[long_mask] - csum, lcounts)
            H[dst] = _mix64(h_all[src])

        # short docs: per-doc whole-text hash (rare path)
        for i in np.nonzero(~long_mask)[0]:
            b = bufs[i]
            a = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
            if a.size == 0:
                a = np.zeros(1, dtype=np.uint64)
            h = (a * _roll_weights(int(a.size))).sum(dtype=np.uint64)
            H[starts[i]] = _mix64(np.array([h], dtype=np.uint64))[0]
    return H, starts, counts


_U64MAX = np.uint64(np.iinfo(np.uint64).max)


def _densify_rotation(sig: np.ndarray) -> None:
    """One-sided cyclic rotation densification (in place): an empty bin
    copies the nearest non-empty bin to its right (wrapping). Deterministic
    and set-functional — identical shingle sets densify identically, so the
    exact-dup ⇒ identical-signature property survives."""
    empty_rows = np.nonzero((sig == _U64MAX).any(axis=1))[0]
    for r in empty_rows:
        row = sig[r]
        filled = np.nonzero(row != _U64MAX)[0]
        if filled.size == 0:  # cannot happen: every doc has ≥1 window
            row[:] = 0
            continue
        holes = np.nonzero(row == _U64MAX)[0]
        nxt = np.searchsorted(filled, holes) % filled.size
        row[holes] = row[filled[nxt]]


def batch_minhash(texts: list[str | bytes], k: int, num_perm: int, seed: int) -> np.ndarray:
    """(n_docs × num_perm) int32 signatures for a batch via ONE-PERMUTATION
    HASHING: mix every window hash once, route it to bin = top log2(num_perm)
    bits, keep the min per (doc, bin) with a single np.minimum.at scatter,
    then rotation-densify empty bins. O(windows) total — the classic
    k-permutation scheme costs O(windows × num_perm), which at corpus scale
    made signatures 55% of pipeline wall. Positional agreement between two
    OPH signatures is the standard Jaccard estimator (Li et al.); identical
    docs still produce identical signatures at any seed.

    num_perm must be a power of two (bin routing by bit shift).
    """
    if num_perm & (num_perm - 1):
        raise ValueError(f"num_perm must be a power of two, got {num_perm}")
    H, starts, counts = batch_window_hashes(texts, k)
    n_docs = starts.size
    if n_docs == 0:
        return np.empty((0, num_perm), dtype=np.int32)
    salt = _perm_salts(1, seed)[0]
    shift = np.uint64(64 - int(num_perm).bit_length() + 1)
    with np.errstate(over="ignore"):
        v = _mix64(H ^ salt)
        bins = (v >> shift).astype(np.int64)
        doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
        flat = doc_idx * num_perm + bins
        sig = np.full(n_docs * num_perm, _U64MAX, dtype=np.uint64)
        np.minimum.at(sig, flat, v)
    sig = sig.reshape(n_docs, num_perm)
    _densify_rotation(sig)
    return (sig & np.uint64(0xFFFFFFFF)).astype(np.int64).astype(np.int32)


def minhash_signature(shingles_u64: np.ndarray, num_perm: int, seed: int) -> np.ndarray:
    """num_perm-wide one-permutation-hashing signature (int32) of a single
    shingle set — the per-doc reference implementation the batched kernel is
    tested against. Bin = top log2(num_perm) bits of mix64(x ^ salt); value
    = per-bin min; empty bins densified by cyclic rotation. The 64→32-bit
    storage truncation only matters for cross-doc positional equality; a
    spurious match has probability 2^-32."""
    salt = _perm_salts(1, seed)[0]
    shift = np.uint64(64 - int(num_perm).bit_length() + 1)
    sig = np.full((1, num_perm), _U64MAX, dtype=np.uint64)
    with np.errstate(over="ignore"):
        v = _mix64(shingles_u64 ^ salt)
        bins = (v >> shift).astype(np.int64)
        np.minimum.at(sig[0], bins, v)
    _densify_rotation(sig)
    return (sig[0] & np.uint64(0xFFFFFFFF)).astype(np.int64).astype(np.int32)


#: whitespace class for normalization. \x1e (TURN_SEP) is listed explicitly:
#: turn boundaries shingle like whitespace, and Java's \s — unlike Python's —
#: does not already include the separator-control chars \x1c-\x1f.
NORM_PATTERN = "[\\s\\x1c-\\x1f]+"


def doc_signatures(docs: list[str], cfg: DedupConfig) -> np.ndarray:
    """(len(docs) × num_perm) int32 signatures of ``py_normalize(doc)`` —
    the one signature kernel, run by the pandas UDF and by the pipeline's
    driver pass alike. Normalized here, not in the JVM: Java's \\s
    and lower() disagree with py_normalize on Unicode whitespace (U+00A0,
    U+2003, U+3000)."""
    return batch_minhash(
        batch_ws_normalize_bytes(docs), cfg.shingle_k, cfg.num_perm, cfg.seed
    )


def with_minhash(
    conversations: DataFrame, cfg: DedupConfig | None = None, repartition: bool | str = True
) -> DataFrame:
    """Attach a ``minhash: array<int>`` column: the signature of
    ``py_normalize(doc)``, normalized inside the UDF.

    ``repartition`` spreads rows across the cluster's full parallelism
    first: signature cost scales with ROWS, while upstream AQE coalesces
    shuffle output by BYTES — without this, a text corpus that fits in a
    couple of 64 MB partitions runs the UDF on a couple of cores.
    ``True`` always spreads the rows. ``"auto"`` (for MATERIALIZED inputs
    only — checkpointed or parquet-backed) reads the real partition count
    and skips the full-text shuffle when the input is already wide enough
    (see ``util.spread_for_udf``).
    """
    from dedup.util import spread_for_udf

    cfg = cfg or DedupConfig()

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def minhash_udf(docs: pd.Series) -> pd.Series:
        return pd.Series(list(doc_signatures(list(docs), cfg)))

    if repartition:
        conversations = spread_for_udf(
            conversations, materialized=repartition == "auto"
        )
    return conversations.withColumn("minhash", minhash_udf(F.col("doc")))


def signatures(conversations: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """(conv_id, minhash) for every conversation of a materialized
    ``conversations``: ``doc_signatures`` in the pandas UDF of
    ``with_minhash``."""
    return with_minhash(conversations, cfg, repartition="auto").select("conv_id", "minhash")


# ---------------------------------------------------------------------------
# pure-Python oracle used by tests (same math, no Spark)
# ---------------------------------------------------------------------------

def py_normalize(text: str) -> str:
    import re

    return re.sub(NORM_PATTERN, " ", text.lower())


_LOWER_LUT = np.arange(256, dtype=np.uint8)
_LOWER_LUT[65:91] += 32  # A-Z → a-z
#: ASCII bytes matched by NORM_PATTERN: \t\n\v\f\r, \x1c-\x1f, space
_WS_BYTES = np.zeros(256, dtype=bool)
_WS_BYTES[[9, 10, 11, 12, 13, 28, 29, 30, 31, 32]] = True


def _collapse_runs(
    texts, sep_lut: np.ndarray, strip: bool, slow, cap: int | None = None
) -> list[bytes]:
    """UTF-8 bytes of ``slow(t)[:cap]`` for every text, vectorized.

    ``slow`` is a regex normalizer of one shape: lowercase, every run of
    separator characters becomes one space, and with ``strip`` the leading
    and trailing runs are dropped. ``sep_lut`` marks its separator class
    over ASCII bytes. ASCII texts (the overwhelming majority) take ONE numpy
    pass over the concatenated byte buffer; non-ASCII texts call ``slow``.
    """
    out: list[bytes | None] = [None] * len(texts)
    ascii_idx: list[int] = []
    bufs: list[bytes] = []
    for i, t in enumerate(texts):
        t = t or ""
        if t.isascii():
            ascii_idx.append(i)
            bufs.append(t.encode("ascii"))
        else:
            out[i] = slow(t)[:cap].encode("utf-8", "surrogatepass")
    buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    ends = np.cumsum(np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs)))
    sep = np.take(sep_lut, buf)
    # drop every separator byte that continues a run in the SAME doc: the
    # run's head survives as the one space
    drop = np.zeros_like(sep)
    np.logical_and(sep[1:], sep[:-1], out=drop[1:])
    starts = ends[:-1]
    drop[starts[starts < buf.size]] = False  # empty trailing docs start at size
    raw = np.take(np.where(sep_lut, np.uint8(32), _LOWER_LUT), buf)[~drop].tobytes()
    kept_ends = ends - np.searchsorted(np.flatnonzero(drop), ends)
    prev = 0
    for i, e in zip(ascii_idx, kept_ends.tolist()):
        b = raw[prev:e]
        # only a run maps to a space, and each run is one space by now
        out[i] = (b.strip(b" ") if strip else b)[:cap]
        prev = e
    return out


def batch_ws_normalize_bytes(texts, cap: int | None = None) -> list[bytes]:
    """UTF-8 bytes of ``py_normalize(t)[:cap]`` for every text, vectorized:
    lowercase, every whitespace run — including leading/trailing runs;
    py_normalize does not strip — collapses to a single space (see
    ``_collapse_runs``). Bit-identity with the regex is pinned by test. The
    per-doc ``re.sub`` loop this replaces was ~0.15 s per 5 MB of docs in
    the span-anchor and fingerprint UDFs.
    """
    return _collapse_runs(texts, _WS_BYTES, False, py_normalize, cap)


def py_minhash(text: str, cfg: DedupConfig) -> np.ndarray:
    return minhash_signature(shingle_hashes(py_normalize(text), cfg.shingle_k), cfg.num_perm, cfg.seed)


def py_jaccard(a: str, b: str, cfg: DedupConfig) -> float:
    sa = set(shingle_hashes(py_normalize(a), cfg.shingle_k).tolist())
    sb = set(shingle_hashes(py_normalize(b), cfg.shingle_k).tolist())
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)
