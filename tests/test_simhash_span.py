"""SimHash near-exact-turn tier + shared-span tier (FIXTURES.md
``near_exact_turn`` and ``shared_span``)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from dedup.config import DedupConfig
from dedup.schema import TRANSCRIPTS_SCHEMA
from dedup.simhash import (
    py_simhash,
    simhash_conv_pairs,
    simhash_turn_pairs,
    with_turn_simhash,
)
from dedup.suffix import (
    longest_common_substring_len,
    span_candidate_pairs,
    verify_span_pairs,
)

TS = dt.datetime(2024, 1, 1)


def _conv(cid, texts):
    return [(cid, i, "user", t, "", TS) for i, t in enumerate(texts)]


def test_spark_simhash_matches_python(spark, turns_df):
    rows = with_turn_simhash(turns_df.limit(30)).select("text", "simhash").collect()
    for r in rows:
        assert r.simhash == py_simhash(r.text), r.text[:40]


def test_near_exact_turn_pairs(spark):
    """B = A with one turn's whitespace/punctuation normalized ⇒ the SimHash
    path pairs the turns (and the conversations, since all turns match)."""
    a = ["Hello,   World! How are you doing today my friend?" * 3,
         "I am fine; thanks for asking about it all the time." * 3]
    b = ["hello world how are you doing today my friend " * 3,
         "i am fine thanks for asking about it all the time " * 3]
    rows = _conv("a", a) + _conv("b", b) + _conv(
        "z", ["completely different content about databases and query plans" * 3,
              "another unrelated turn talking about sorting algorithms at scale" * 3])
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    sh = with_turn_simhash(df)
    tp = {(r.conv_a, r.turn_a, r.conv_b, r.turn_b) for r in simhash_turn_pairs(sh)[0].collect()}
    assert ("a", 0, "b", 0) in tp
    assert ("a", 1, "b", 1) in tp
    assert not any("z" in (x[0], x[2]) for x in tp)
    cp = {(r.conv_a, r.conv_b) for r in simhash_conv_pairs(sh).collect()}
    assert cp == {("a", "b")}


def test_single_shared_turn_does_not_merge_convs(spark):
    """One shared boilerplate turn in otherwise-unrelated conversations must
    not produce a conversation candidate pair (_MIN_SHARED_TURN_FRAC)."""
    boiler = "standard tool output header row col " * 5
    rows = _conv("a", [boiler, "unique turn one two three four five six seven" * 4,
                       "more unique content here entirely different words" * 4,
                       "yet another unique turn with different content words" * 4])
    rows += _conv("b", [boiler, "совершенно other things happen in this conversation" * 4,
                        "unrelated second turn of conversation b talking sql" * 4,
                        "unrelated third turn of conversation b talking joins" * 4])
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    sh = with_turn_simhash(df)
    tp = {(r.conv_a, r.conv_b) for r in simhash_turn_pairs(sh)[0].collect()}
    assert ("a", "b") in tp  # the turn pair IS found
    cp = {(r.conv_a, r.conv_b) for r in simhash_conv_pairs(sh).collect()}
    assert cp == set()  # but the conversations are NOT candidates


def test_one_vocabulary_long_turns_stay_apart(spark):
    """SimHash estimates cosine, so long texts drawn from one small
    vocabulary land within Hamming 3 of each other (8 of these 190 pairs do)
    while their shingle Jaccard is ~0.07. Such a SimHash candidate must fail
    verification, and the pipeline must not merge unrelated conversations."""
    from dedup.assemble import assemble_conversations
    from dedup.minhash import with_minhash
    from dedup.pipeline import DedupPipeline
    from dedup.synth_spark import _VOCAB
    from dedup.verify import verify_pairs

    rng = np.random.default_rng(7)
    rows = []
    for i in range(20):
        rows += _conv(f"v{i:02d}", [" ".join(rng.choice(_VOCAB, 900))])
    turns = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    cfg = DedupConfig()

    # the library tier proposes such pairs, and verification rejects them all
    sh = with_turn_simhash(turns, cfg).select("conv_id", "turn_idx", "simhash")
    cand = simhash_conv_pairs(sh, cfg)
    assert cand.count() >= 1
    conv = assemble_conversations(turns, cfg)
    sigs = with_minhash(conv, cfg).select("conv_id", "minhash")
    assert verify_pairs(cand, sigs, cfg, conversations=conv).collect() == []

    clusters = DedupPipeline(spark, cfg).run(turns).clusters
    # clusters lists only conversations that have an edge: any row is a merge
    assert clusters.select("conv_id").collect() == []


def test_lcs_binary_search_exact():
    assert longest_common_substring_len("abcXYZdef", "qqXYZpp") == 3
    assert longest_common_substring_len("", "abc") == 0
    s = "S" * 5000
    assert longest_common_substring_len("aa" + s + "bb", "cc" + s) == 5000


def test_shared_span_pipeline(spark, turns_df, corpus):
    """Planted shared-span pairs (≥4k-char common substring) are found by
    anchor blocking + LCS verification; unrelated convs are not."""
    from dedup.assemble import assemble_conversations

    truth = {
        (a, b) for a, b, k in corpus.truth_pairs.itertuples(index=False) if k == "span"
    }
    assert truth
    conv = assemble_conversations(turns_df)
    cfg = DedupConfig()
    cand, _overflow = span_candidate_pairs(conv, cfg)
    verified = verify_span_pairs(cand, conv, cfg)
    got = {(r.conv_a, r.conv_b) for r in verified.collect()}
    missing = truth - got
    assert not missing, f"span pairs missed: {missing}"
    # every reported pair really shares a >=min_span_len substring: verified
    # by construction (LCS is exact), so just sanity-check span lengths
    for r in verified.collect():
        assert r.span_len >= cfg.min_span_len


@pytest.mark.parametrize("driver", [False, True], ids=["udf", "driver"])
def test_span_verify_probes_from_min_span_len(spark, driver):
    """The LCS search starts at ``min_span_len``: a pair one char short is
    rejected, and pairs at and above it are kept — by ``verify_span_pairs``
    (with their exact ``span_len``) and by the driver pass alike."""
    import random

    from dedup import driver_pass

    rng = random.Random(3)

    def text(alphabet, n):
        return "".join(rng.choice(alphabet) for _ in range(n))

    # disjoint filler alphabets: no common substring extends past the span
    rows = []
    for name, n in (("short", 199), ("exact", 200), ("long", 450)):
        shared = text("0123456789uvwxyz", n)
        rows.append((f"{name}_a", text("abcdefghij", 300) + shared + text("abcdefghij", 80)))
        rows.append((f"{name}_b", text("klmnopqrst", 40) + shared + text("klmnopqrst", 250)))
    cfg = DedupConfig(min_span_len=200)
    if driver:
        texts = [doc for _, doc in rows]
        a, b = np.arange(0, len(rows), 2), np.arange(1, len(rows), 2)
        ok = driver_pass.span_verified(a, b, texts, cfg)
        assert {rows[i][0] for i in a[ok]} == {"exact_a", "long_a"}
        return
    conv = spark.createDataFrame(rows, "conv_id string, doc string")
    pairs = spark.createDataFrame(
        [(f"{n}_a", f"{n}_b", "span") for n in ("short", "exact", "long")],
        "conv_a string, conv_b string, source string",
    )
    got = verify_span_pairs(pairs, conv, cfg)
    assert {(r.conv_a, r.span_len) for r in got.collect()} == {("exact_a", 200), ("long_a", 450)}


@pytest.mark.parametrize(
    "cfg", [DedupConfig(), DedupConfig(band_bucket_cap=3)], ids=["default", "cap3"]
)
def test_kernel_placements_identical(spark, turns_df, monkeypatch, freed_scratch, cfg):
    """The driver pass's tiers give the DataFrame tiers' rows: signatures,
    exact pairs, LSH pairs and span candidates with their repeats, both
    overflow counts and the span edges — also when a cap binds. Over
    ``lsh._DRIVER_PAIRS`` the LSH and anchor pairing hand off (None)."""
    from collections import Counter

    import dedup.lsh as lsh
    from dedup import driver_pass
    from dedup.assemble import assemble_conversations
    from dedup.exact import exact_pairs
    from dedup.minhash import doc_signatures, signatures

    conv = assemble_conversations(turns_df, cfg).localCheckpoint()
    docs = conv.select("conv_id", "doc", "n_turns", "total_chars").toArrow().sort_by("conv_id")
    ids, texts = docs.column("conv_id").to_pylist(), docs.column("doc").to_pylist()

    def named(a, b):
        return Counter((ids[i], ids[j]) for i, j in zip(a.tolist(), b.tolist()))

    def rows(df):
        return Counter((r.conv_a, r.conv_b) for r in df.collect())

    sigs = signatures(conv, cfg).localCheckpoint()
    sig = doc_signatures(texts, cfg)
    assert sorted((r.conv_id, tuple(r.minhash)) for r in sigs.collect()) == [
        (i, tuple(s)) for i, s in zip(ids, sig.tolist())
    ]
    assert named(*driver_pass.exact_pairs(docs, cfg)) == rows(exact_pairs(conv, cfg))

    lsh_df, lsh_overflow = lsh.candidate_pairs(sigs, cfg, dedup=False)
    la, lb, n_lsh_over = driver_pass.lsh_pairs(sig, cfg)
    assert named(la, lb) == rows(lsh_df) and n_lsh_over == lsh_overflow.count()

    cand, overflow = span_candidate_pairs(conv, cfg, True)
    a, b, n_over = driver_pass.span_candidates(texts, cfg)
    assert named(a, b) == rows(cand) and n_over == overflow.count()
    ok = driver_pass.span_verified(a, b, texts, cfg)
    edges = rows(verify_span_pairs(cand, conv, cfg))
    assert named(a[ok], b[ok]) == edges and edges
    assert bool(n_over) is (cfg.band_bucket_cap == 3)

    monkeypatch.setattr(lsh, "_DRIVER_PAIRS", 0)
    assert driver_pass.lsh_pairs(sig, cfg) is None
    assert driver_pass.span_candidates(texts, cfg) is None


# --- driver vs distributed bucket pairing in simhash_conv_pairs ------------

SH_SCHEMA = "conv_id string, turn_idx int, simhash long"


def _fp(rng):
    return rng.getrandbits(64) - (1 << 63)


def _flip(fp, bits):
    for b in bits:
        fp ^= 1 << b
    return fp - (1 << 64) if fp >= 1 << 63 else fp


def _single_turn_rows(rng):
    a, b, c, m = _fp(rng), _fp(rng), _fp(rng), _fp(rng)
    rows = [("s0", 0, a), ("s1", 0, a), ("s2", 0, b), ("s3", 0, _flip(b, [1, 40]))]
    rows += [("s4", 0, c), ("s5", 0, _flip(c, [3, 9, 27, 60]))]  # Hamming 4: apart
    rows += [("m0", 0, a), ("m0", 1, m)]  # covers only half of m0
    return rows


def _boilerplate_rows(rng):
    boiler = _fp(rng)
    rows = []
    for i in range(30):
        own = [_fp(rng), _fp(rng)]
        rows += [(f"b{i:02d}", 0, boiler), (f"b{i:02d}", 1, own[0]), (f"b{i:02d}", 2, own[1])]
        if i % 3 == 0:  # a near copy that shares the boilerplate turn too
            rows += [(f"b{i:02d}_n", 0, boiler), (f"b{i:02d}_n", 1, _flip(own[0], [i % 64])),
                     (f"b{i:02d}_n", 2, _flip(own[1], [5, 6, 7]))]
    rows += [(f"only{i}", 0, boiler) for i in range(4)]
    return rows


def _non_ascii_rows(rng):
    rows = []
    # the last pair's UTF-8 byte order is the reverse of its UTF-16 order
    copies = {"é": "e", "Ω": "日本", "z": "ž", "｡x": "\U0001F600x"}
    for c, copy in copies.items():
        f0, f1 = _fp(rng), _fp(rng)
        rows += [(c, 0, f0), (c, 1, f1), (copy, 0, _flip(f0, [2])), (copy, 1, f1)]
    return rows


_ONLY = [f"only{i}" for i in range(4)]
_EXPECTED_PAIRS = {
    "_single_turn_rows": {("s0", "s1"), ("s2", "s3")},
    # each near copy pairs with its original; the one-turn conversations
    # holding only the boilerplate turn pair with each other, not with the
    # three-turn conversations that hold it too
    "_boilerplate_rows": {(f"b{i:02d}", f"b{i:02d}_n") for i in range(0, 30, 3)}
    | {(a, b) for a in _ONLY for b in _ONLY if a < b},
    "_non_ascii_rows": {("e", "é"), ("z", "ž"), ("Ω", "日本"), ("｡x", "\U0001F600x")},
}


def _conv_pairs(spark, rows, cfg=None):
    return simhash_conv_pairs(
        spark.createDataFrame(rows, SH_SCHEMA), cfg, return_overflow=True
    )


def _regimes(spark, monkeypatch, rows, cfg=None):
    """(pairs, overflow) of ``simhash_conv_pairs`` with its bucket tables
    paired on the driver, then with them forced through the distributed
    path of ``lsh.bucketed_pairs``."""
    import dedup.lsh as lsh

    driver_runs = []
    kernel = lsh._driver_bucket_pairs

    def counted(*args):
        out = kernel(*args)
        driver_runs.append(out is not None)
        return out

    monkeypatch.setattr(lsh, "_driver_bucket_pairs", counted)
    drv = _conv_pairs(spark, rows, cfg)
    assert driver_runs and all(driver_runs)  # both banded paths paired on the driver
    monkeypatch.setattr(lsh, "_DRIVER_ROWS", -1)  # no table fits, not even an empty one
    driver_runs.clear()
    dist = _conv_pairs(spark, rows, cfg)
    monkeypatch.undo()
    assert driver_runs == []
    return drv, dist


def _pair_rows(df):
    return sorted((r.conv_a, r.conv_b, r.source) for r in df.collect())


@pytest.mark.parametrize(
    "cfg", [None, DedupConfig(band_bucket_cap=3)], ids=["default", "cap3"]
)
@pytest.mark.parametrize(
    "make_rows", [_single_turn_rows, _boilerplate_rows, _non_ascii_rows]
)
def test_simhash_regimes_identical(spark, monkeypatch, make_rows, cfg):
    import random

    (dp, dov), (xp, xov) = _regimes(spark, monkeypatch, make_rows(random.Random(7)), cfg)
    got = _pair_rows(dp)
    assert got and got == _pair_rows(xp)
    assert len(got) == len(set(got))  # one row per pair
    # conv_a < conv_b in byte order, the order every tier emits
    assert all(a.encode() < b.encode() and s == "simhash" for a, b, s in got)
    assert sorted(dov.collect()) == sorted(xov.collect())


def test_simhash_regimes_expected_pairs(spark, monkeypatch):
    import random

    for make_rows, want in _EXPECTED_PAIRS.items():
        rows = globals()[make_rows](random.Random(7))
        for pairs, overflow in _regimes(spark, monkeypatch, rows):
            assert {(a, b) for a, b, _ in _pair_rows(pairs)} == want, make_rows
            assert overflow.collect() == []


def test_simhash_regimes_empty_input(spark, monkeypatch):
    strip = lambda df: [(f.name, f.dataType.simpleString()) for f in df.schema]  # noqa: E731
    for pairs, overflow in _regimes(spark, monkeypatch, []):
        assert pairs.collect() == [] and overflow.collect() == []
        assert strip(pairs) == [("conv_a", "string"), ("conv_b", "string"), ("source", "string")]
        assert strip(overflow) == [("path", "string"), ("bucket_n", "bigint")]


def test_simhash_capped_bucket_overflows(spark):
    """A boilerplate group larger than the cap becomes star edges plus an
    overflow row instead of every pair inside it."""
    import random

    pairs, overflow = _conv_pairs(
        spark, _boilerplate_rows(random.Random(7)), DedupConfig(band_bucket_cap=3)
    )
    assert {(r.conv_a, r.conv_b) for r in pairs.collect()} == {("b00", "b00_n")}
    # the 44 turns that hold the boilerplate fingerprint
    assert [tuple(r) for r in overflow.collect()] == [("exact_fp", 44)]
