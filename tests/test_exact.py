"""Exact tier tests — each transposes a reference unit test to conversations
(reference tests: /root/reference/src/processor.rs:156-381,
/root/reference/src/fileinfo.rs:83-103; mapping in FIXTURES.md §2)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dedup.assemble import assemble_conversations
from dedup.config import DedupConfig
from dedup.exact import exact_clusters, exact_pairs, prune_singleton_blocks, with_block_key
from dedup.schema import TRANSCRIPTS_SCHEMA
from tests.reference_oracle import groups_to_pairs, reference_duplicate_groups

TS = dt.datetime(2024, 1, 1)


def _conv(cid: str, texts: list[str]):
    return [(cid, i, "user", t, "", TS) for i, t in enumerate(texts)]


def _groups(spark, rows, cfg):
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    conv = assemble_conversations(df, cfg)
    clus = exact_clusters(conv, cfg).collect()
    out: dict[str, set[str]] = {}
    for r in clus:
        out.setdefault(r.dup_key, set()).add(r.conv_id)
    return out


def test_identical_convs_one_group(spark):
    """Byte-identical conversations ⇒ 1 group, every mode
    (reference: src/processor.rs:267-311)."""
    texts = ["hello world", "how are you", "fine thanks"]
    rows = _conv("a", texts) + _conv("b", texts)
    for strict in (False, True):
        groups = _groups(spark, rows, DedupConfig(strict=strict))
        assert len(groups) == 1
        assert set(next(iter(groups.values()))) == {"a", "b"}


def test_shared_prefix_fast_vs_strict(spark):
    """Same first-16KiB prefix + different tails ⇒ 1 group in fast mode
    (the documented false positive), 2 hash values & 0 groups in strict
    (reference: src/processor.rs:156-265 pair of tests).

    Same n_turns and total_chars so the pair shares a block; tails differ
    beyond the prefix window. A third conv with the same prefix but a longer
    tail sits in another block, so fast mode still leaves it out.
    """
    prefix = "x" * 20000
    rows = _conv("a", [prefix, "tailAAAA"]) + _conv("b", [prefix, "tailBBBB"])
    rows += _conv("c", [prefix, "tailCCCCC"])
    fast = _groups(spark, rows, DedupConfig(strict=False))
    assert len(fast) == 1 and set(next(iter(fast.values()))) == {"a", "b"}
    strict = _groups(spark, rows, DedupConfig(strict=True))
    assert strict == {}  # two singleton hash groups ⇒ nothing reported


def test_same_size_different_content_blocks_but_no_group(spark):
    """Equal sizes land in one block, but different content ⇒ no dup group
    (reference: src/processor.rs:313-381)."""
    rows = _conv("a", ["abcdef"]) + _conv("b", ["ghijkl"])
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    conv = assemble_conversations(df)
    blocked = prune_singleton_blocks(with_block_key(conv))
    assert blocked.count() == 2  # same block survives pruning
    assert _groups(spark, rows, DedupConfig()) == {}


def test_singleton_blocks_never_fingerprinted(spark):
    """Distinct sizes ⇒ every block is a singleton: none is a block
    candidate, and the exact tier reports no group
    (reference: src/processor.rs:41-42)."""
    rows = _conv("a", ["x"]) + _conv("b", ["xx"]) + _conv("c", ["xxx"])
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    conv = assemble_conversations(df)
    assert prune_singleton_blocks(with_block_key(conv)).count() == 0
    assert _groups(spark, rows, DedupConfig()) == {}


def test_empty_vs_padding_not_grouped(spark):
    """Empty-text conv is excluded by default min-size; a same-turn-count
    whitespace-padded conv never groups with anything else
    (reference: src/fileinfo.rs:83-103 — empty ≠ 4MB of NULs)."""
    rows = _conv("empty", ["", ""]) + _conv("pad", ["  ", "  "])
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    conv = assemble_conversations(df)
    ids = {r.conv_id for r in conv.collect()}
    assert ids == {"pad"}  # empty excluded like the reference's 1b default
    assert _groups(spark, rows, DedupConfig()) == {}


def test_exact_pairs_star_shape(spark):
    """One size block holding a different-content pair and three identical
    conversations: the pair forms no group, the three form one group
    anchored at its minimum conv_id, and the pairs are the star around it."""
    rows = _conv("p", ["abcdef"]) + _conv("q", ["ghijkl"])
    for cid in ("a", "b", "c"):
        rows += _conv(cid, ["mnopqr"])
    conv = assemble_conversations(spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA))
    for strict in (False, True):
        cfg = DedupConfig(strict=strict)
        clus = exact_clusters(conv, cfg).collect()
        assert len({r.dup_key for r in clus}) == 1
        assert sorted((r.conv_id, r.anchor) for r in clus) == [
            ("a", "a"), ("b", "a"), ("c", "a")
        ]
        pairs = {(r.conv_a, r.conv_b, r.source) for r in exact_pairs(conv, cfg).collect()}
        assert pairs == {("a", "b", "exact"), ("a", "c", "exact")}


def test_synth_exact_dups_found(spark, turns_df, corpus):
    """The exact tier's groups are exactly the reference's duplicate groups
    on the synth corpus, fast and strict, and hold every planted exact-dup
    pair."""
    truth = {
        (a, b)
        for a, b, k in corpus.truth_pairs.itertuples(index=False)
        if k == "exact"
    }
    assert truth, "corpus must plant exact dups"
    conv = assemble_conversations(turns_df)
    docs = {r.conv_id: (r.n_turns, r.doc) for r in conv.collect()}
    for strict in (False, True):
        clus = exact_clusters(conv, DedupConfig(strict=strict))
        groups: dict[str, set[str]] = {}
        for r in clus.collect():
            groups.setdefault(r.dup_key, set()).add(r.conv_id)
        ref = reference_duplicate_groups(docs, strict=strict)
        assert sorted(map(sorted, groups.values())) == sorted(map(sorted, ref)), strict
        assert truth <= groups_to_pairs(list(groups.values()))
