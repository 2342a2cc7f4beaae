"""Near-dup tier: MinHash/LSH/verify/CC — includes the dup-pair recall gate
(BASELINE.json: recall ≥ 0.99 vs the reference's duplicate groupings at the
same signature config)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedup.assemble import assemble_conversations
from dedup.cc import connected_components
from dedup.config import DedupConfig
from dedup.exact import exact_pairs
from dedup.lsh import candidate_pairs
from dedup.minhash import py_jaccard, py_minhash, with_minhash
from dedup.verify import verify_pairs

CFG = DedupConfig()


def test_py_minhash_estimates_jaccard():
    a = "the quick brown fox jumps over the lazy dog " * 30
    b = a.replace("quick", "swift").replace("lazy", "idle")
    true_j = py_jaccard(a, b, CFG)
    sig_a, sig_b = py_minhash(a, CFG), py_minhash(b, CFG)
    est = float((sig_a == sig_b).mean())
    assert abs(est - true_j) < 0.15
    assert np.array_equal(py_minhash(a, CFG), py_minhash(a, CFG))  # deterministic


def test_spark_minhash_matches_python_oracle(spark, turns_df):
    conv = assemble_conversations(turns_df).limit(20).select("conv_id", "doc")
    # Unicode whitespace (no-break, em and ideographic spaces) is whitespace
    # to py_normalize; the signature must normalize it the same way
    ws = spark.createDataFrame(
        [
            ("ws_nbsp", "Tool\u00a0output:\u00a0\u00a0ROWS 1..40 ok " * 4),
            ("ws_em", "Alpha\u2003\u2003beta gamma\u2003DELTA epsilon " * 4),
            ("ws_ideo", "日本語\u3000テキスト\u3000\u3000mixed Text " * 4),
        ],
        "conv_id string, doc string",
    )
    rows = with_minhash(conv.unionByName(ws), CFG).select("conv_id", "doc", "minhash").collect()
    for r in rows:
        expected = py_minhash(r.doc, CFG)
        assert np.array_equal(np.array(r.minhash, dtype=np.int32), expected), r.conv_id


def _pipeline_clusters(spark, turns_df, cfg):
    conv = assemble_conversations(turns_df, cfg)
    sigs = with_minhash(conv, cfg).select("conv_id", "minhash")
    lsh_pairs, _overflow = candidate_pairs(sigs, cfg)
    ex_pairs = exact_pairs(conv, cfg)
    pairs = lsh_pairs.unionByName(ex_pairs).dropDuplicates(["conv_a", "conv_b"])
    edges = verify_pairs(pairs, sigs, cfg, conversations=conv)
    return connected_components(edges.select("conv_a", "conv_b"), cfg.cc_max_iters)


def test_recall_gate_vs_reference_semantics(spark, turns_df, corpus):
    """Recall ≥ 0.99 on pairs the REFERENCE would group (exact duplicates —
    its strict mode groups byte-identical content only) AND on the planted
    near-dup pairs the north rule adds. Also: no cross-kind false merges of
    planted same-size/different-content pairs."""
    labels = _pipeline_clusters(spark, turns_df, CFG)
    lab = {r.conv_id: r.cluster_id for r in labels.collect()}

    tp = corpus.truth_pairs
    exact_near = tp[tp.kind.isin(["exact", "near"])]
    hit = sum(
        1
        for a, b, _ in exact_near.itertuples(index=False)
        if lab.get(a) is not None and lab.get(a) == lab.get(b)
    )
    recall = hit / len(exact_near)
    assert recall >= 0.99, f"recall {recall} ({hit}/{len(exact_near)})"

    # same-size different-content must NOT merge
    ss = tp[tp.kind == "same_size"]
    for a, b, _ in ss.itertuples(index=False):
        assert not (lab.get(a) is not None and lab.get(a) == lab.get(b)), (a, b)


def test_exact_verify_mode(spark, turns_df, corpus):
    cfg = DedupConfig(exact_verify=True)
    labels = _pipeline_clusters(spark, turns_df, cfg)
    lab = {r.conv_id: r.cluster_id for r in labels.collect()}
    tp = corpus.truth_pairs
    exact = tp[tp.kind == "exact"]
    for a, b, _ in exact.itertuples(index=False):
        assert lab.get(a) == lab.get(b) and lab.get(a) is not None


def test_cc_chains_and_determinism(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "s")],
        ["conv_a", "conv_b"],
    )
    labels = {r.conv_id: r.cluster_id for r in connected_components(edges).collect()}
    assert labels == {
        "a": "a", "b": "a", "c": "a",
        "x": "x", "y": "x",
        "p": "p", "q": "p", "r": "p", "s": "p",
    }


def test_band_bucket_cap_star_fallback(spark):
    """A mega-bucket (identical signatures) beyond the cap emits star pairs
    and is reported in the overflow metric — never silently dropped."""
    cfg = DedupConfig(band_bucket_cap=5)
    sig = list(range(cfg.num_perm))
    rows = [(f"m{i:03d}", sig) for i in range(20)]
    sigs = spark.createDataFrame(rows, "conv_id string, minhash array<int>")
    pairs, overflow = candidate_pairs(sigs, cfg)
    got = {(r.conv_a, r.conv_b) for r in pairs.collect()}
    assert got == {("m000", f"m{i:03d}") for i in range(1, 20)}
    ov = overflow.collect()
    assert len(ov) == cfg.lsh_bands and all(r.bucket_n == 20 for r in ov)
    # connectivity preserved: CC still yields one cluster
    labels = connected_components(pairs.select("conv_a", "conv_b")).collect()
    assert {r.cluster_id for r in labels} == {"m000"}


def test_bucketed_pairs_array_agg_is_cap_bounded(spark):
    """The mega-bucket memory bound must be visible in the PLAN, not just
    asserted: the only aggregate that materializes a member ARRAY
    (collect_list) must sit above the s <= cap filter, so no bucket larger
    than the cap ever reaches an array-building aggregation row. Over-cap
    buckets flow through the join-based star-edge path (no arrays)."""
    import re

    from dedup.lsh import bucketed_pairs

    rows = spark.createDataFrame(
        [(1, f"m{i}") for i in range(20)] + [(2, "x"), (2, "y"), (2, "z")],
        "bucket int, member string",
    )
    pairs, _ = bucketed_pairs(rows, ["bucket"], ["member"], cap=5)
    plan = pairs._jdf.queryExecution().optimizedPlan().treeString()
    lines = plan.splitlines()
    agg_idx = [i for i, l in enumerate(lines) if "collect_list" in l]
    assert agg_idx, plan  # the small-bucket path still builds arrays
    for i in agg_idx:
        indent = len(lines[i]) - len(lines[i].lstrip(" :+-"))
        subtree = []
        for l in lines[i + 1 :]:
            if (len(l) - len(l.lstrip(" :+-"))) <= indent:
                break
            subtree.append(l)
        assert any(
            re.search(r"<= 5\)?", l) for l in subtree
        ), "collect_list aggregate not gated by the cap filter:\n" + plan

