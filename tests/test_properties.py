"""Property-based tests (hypothesis) for the pure-numpy kernels — the parts
whose correctness everything else leans on. No Spark session needed."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from dedup.config import DedupConfig
from dedup.minhash import (
    batch_minhash,
    minhash_signature,
    py_jaccard,
    py_minhash,
    py_normalize,
    shingle_hashes,
)
from dedup.simhash import batch_simhash
from dedup.suffix import longest_common_substring_len

TEXT = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    min_size=0,
    max_size=400,
)
CFG = DedupConfig()


@settings(max_examples=60, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=12))
def test_batch_minhash_equals_per_doc(texts):
    norm = [py_normalize(t) for t in texts]
    sigs = batch_minhash(norm, CFG.shingle_k, CFG.num_perm, CFG.seed)
    for i, t in enumerate(norm):
        ref = minhash_signature(shingle_hashes(t, CFG.shingle_k), CFG.num_perm, CFG.seed)
        assert np.array_equal(sigs[i], ref)


@settings(max_examples=60, deadline=None)
@given(TEXT)
def test_identical_text_identical_fingerprints(t):
    assert np.array_equal(py_minhash(t, CFG), py_minhash(t, CFG))
    r = batch_simhash([t, t])
    assert int(r[0]) == int(r[1])
    assert py_jaccard(t, t, CFG) == 1.0


@settings(max_examples=40, deadline=None)
@given(TEXT, TEXT)
def test_jaccard_symmetric_and_bounded(a, b):
    j = py_jaccard(a, b, CFG)
    assert 0.0 <= j <= 1.0
    assert j == py_jaccard(b, a, CFG)


def test_pow_series_uncached_beyond_bound(monkeypatch):
    """Series longer than the cache bound are filled per call, equal to the
    cached ones, and never enter the cache."""
    import dedup.minhash as mh

    base = mh._ROLL_BASE
    ref = mh._pow_series(base, 5000).copy()
    assert all(int(ref[i]) == pow(int(base), i, 1 << 64) for i in (0, 1, 2, 999, 4999))
    monkeypatch.setattr(mh, "_POW_CACHE_MAX", 1000)
    monkeypatch.setattr(mh, "_POW_CACHE", {})
    assert np.array_equal(mh._pow_series(base, 5000), ref)
    assert mh._POW_CACHE == {}
    assert np.array_equal(mh._pow_series(base, 700), ref[:700])
    assert mh._POW_CACHE[int(base)].size == 1000


def _lcs_brute(a: str, b: str) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


@settings(max_examples=40, deadline=None)
@given(
    st.text(alphabet="abc", min_size=0, max_size=40),
    st.text(alphabet="abc", min_size=0, max_size=40),
)
@example("abc", "")
@example("aaaaa", "aaa")
def test_lcs_matches_bruteforce(a, b):
    assert longest_common_substring_len(a, b) == _lcs_brute(a, b)


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet="abcdef ", min_size=120, max_size=300), st.integers(0, 300))
def test_simhash_hamming_small_for_small_edits(base, pos):
    """Flipping one char of a long-ish text moves SimHash only a few bits —
    the property the near-exact-turn tier's Hamming threshold relies on.
    One edit perturbs ≤ k=4 of the ~n windows; with n ≥ 120 the expected
    vote swing per bit is tiny, so 24/64 bits is a loose ceiling."""
    chars = list(base)
    chars[pos % len(chars)] = "z"
    edited = "".join(chars)
    r = batch_simhash([base, edited])
    hamming = bin((int(r[0]) ^ int(r[1])) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert hamming <= 24


# --- r06 vectorized-normalize + SWAR-vote parity (optimization round) ------

from dedup.minhash import batch_window_hashes, batch_ws_normalize_bytes
from dedup.simhash import _hard_normalize, batch_hard_normalize_bytes


@settings(max_examples=60, deadline=None)
@given(st.lists(TEXT, min_size=0, max_size=16))
@example([])
@example([""])
@example([None, "  "])
@example(["A,,b ", "é x"])
def test_batch_hard_normalize_matches_regex(texts):
    """The vectorized ASCII fast path + fallback must be BIT-identical to
    the per-doc regex (lower, non-alnum runs → one space, strip)."""
    got = batch_hard_normalize_bytes(texts)
    for t, b in zip(texts, got):
        assert b == _hard_normalize(t or "").encode("utf-8", "surrogatepass")


@settings(max_examples=60, deadline=None)
@given(
    st.lists(TEXT, min_size=0, max_size=16),
    st.one_of(st.none(), st.integers(0, 50)),
)
@example([], None)
@example([""], None)
@example([None, "  "], None)
@example(["A,,b ", "é x"], None)
@example(["A,,b ", "é x"], 0)
def test_batch_ws_normalize_matches_regex(texts, cap):
    """Vectorized whitespace-collapse normalize == py_normalize()[:cap]
    per doc, including the char-space cap slice the span tier applies."""
    got = batch_ws_normalize_bytes(texts, cap)
    for t, b in zip(texts, got):
        s = py_normalize(t or "")
        if cap is not None:
            s = s[:cap]
        assert b == s.encode("utf-8", "surrogatepass")


def _naive_simhash(texts, k=4):
    """Per-doc, per-window vote reference for the SWAR kernel."""
    out = []
    for t in texts:
        s = _hard_normalize(t or "")
        H, _st, ct = batch_window_hashes([s], k)
        votes = np.zeros(64, dtype=np.int64)
        for h in H:
            votes += np.unpackbits(
                np.array([h], dtype=np.uint64).view(np.uint8)
            ).astype(np.int64)
        fb = (votes * 2 > int(ct[0])).astype(np.uint64)
        fp = (fb << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64)
        out.append(int(fp.astype(np.int64)))
    return np.array(out, dtype=np.int64)


@settings(max_examples=25, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_batch_simhash_matches_naive_votes(texts):
    assert np.array_equal(batch_simhash(texts), _naive_simhash(texts))


def test_batch_simhash_long_docs_cross_subsegments():
    """Docs longer than the 128-row SWAR sub-segment cap and longer than the
    16384-window chunk must sum votes across boundaries correctly."""
    texts = ["ab cd " * 3000, "x" * 20000, "q r s " * 40, "zz"]
    assert np.array_equal(batch_simhash(texts), _naive_simhash(texts))
