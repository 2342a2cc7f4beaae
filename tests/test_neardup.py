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


def test_bucketed_pairs_array_agg_is_cap_bounded(spark, monkeypatch):
    """The mega-bucket memory bound must be visible in the PLAN, not just
    asserted: the only aggregate that materializes a member ARRAY
    (collect_list) must sit above the s <= cap filter, so no bucket larger
    than the cap ever reaches an array-building aggregation row. Over-cap
    buckets flow through the join-based star-edge path (no arrays)."""
    import re

    import dedup.lsh as lsh
    from dedup.lsh import bucketed_pairs

    monkeypatch.setattr(lsh, "_DRIVER_ROWS", -1)  # the distributed plan
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



def _dup_members(rng):
    """Members listed more than once in a bucket pair with themselves."""
    rows = [(k, f"m{rng.randrange(6)}") for k in range(4) for _ in range(8)]
    return rows, "k int, m string", ["k"], ["m"]


def _capped(rng):
    """Two buckets over a cap of 50 (the second with repeated members, so
    copies of its min get no star edge) and many 3-member buckets, which a
    cap of 2 demotes to stars too."""
    rows = [(0, f"m{i:03d}") for i in range(120)]
    rows += [(1, f"m{rng.randrange(40):03d}") for _ in range(60)]
    rows += [(k, f"m{rng.randrange(10):03d}") for k in range(2, 20) for _ in range(3)]
    return rows, "k int not null, m string not null", ["k"], ["m"]


def _non_ascii_buckets(rng):
    # "｡x" < "\U0001F600x" in UTF-8 byte order but not in UTF-16 order
    ids = ["é", "e", "Ω", "日本", "z", "ž", "｡x", "\U0001F600x"]
    rows = [(rng.choice(ids), rng.randrange(-3, 3), rng.choice(ids)) for _ in range(100)]
    return rows, "b string, c long, conv_id string", ["b", "c"], ["conv_id"]


def _expansion_shaped(rng):
    """SimHash's expansion step: bucket = a fingerprint pair, members =
    (conv_id, turn_idx, simhash) with signed 64-bit fingerprints."""
    fps = [rng.randrange(-(2**63), 2**63) for _ in range(6)]
    rows = [
        (fps[i], fps[i + 1], i % 4, f"c{rng.randrange(5)}", rng.randrange(4), rng.choice(fps))
        for i in range(5)
        for _ in range(rng.randrange(2, 9))
    ]
    schema = "fa long, fb long, fham int, conv_id string, turn_idx int, simhash long"
    return rows, schema, ["fa", "fb", "fham"], ["conv_id", "turn_idx", "simhash"]


def _empty(rng):
    return [], "k int, m string", ["k"], ["m"]


def _bucketed_regimes(spark, monkeypatch, table, cap):
    """[(driver ran, pairs, overflow)] for the default and the forced
    distributed regime."""
    from collections import Counter

    import dedup.lsh as lsh

    rows, schema, bucket_cols, member_cols = table
    df = spark.createDataFrame(rows, schema)
    out = []
    for forced in (False, True):
        if forced:  # no table fits, not even an empty one
            monkeypatch.setattr(lsh, "_DRIVER_ROWS", -1)
        m = {}
        pairs, overflow = lsh.bucketed_pairs(df, bucket_cols, member_cols, cap, m)
        out.append((
            m["driver"],
            Counter(tuple(r) for r in pairs.collect()), pairs.schema,
            Counter(tuple(r) for r in overflow.collect()), overflow.schema,
        ))
    monkeypatch.undo()
    return out


@pytest.mark.parametrize(
    "make_table, cap",
    [
        (_dup_members, 2000),
        (_capped, 2),
        (_capped, 50),
        (_non_ascii_buckets, 3),
        (_expansion_shaped, 2000),
        (_empty, 5),
    ],
    ids=["dup-members", "cap2", "cap50", "non-ascii", "expansion", "empty"],
)
def test_bucketed_pairs_regimes_identical(spark, monkeypatch, make_table, cap):
    """The driver regime emits the distributed path's pair MULTISET (the
    span tier counts repeats), its overflow rows and both schemas — star
    edges included when a cap binds."""
    import random

    table = make_table(random.Random(11))
    (drv, dp, dps, do, dos), (dist, xp, xps, xo, xos) = _bucketed_regimes(
        spark, monkeypatch, table, cap
    )
    assert drv is True and dist is False
    assert dp == xp and dps == xps
    assert do == xo and dos == xos
    if table[0]:
        assert dp
    if make_table is _capped:
        assert do  # the cap bound
    if make_table is _dup_members:
        assert any(a == b for a, b in dp)


@pytest.mark.parametrize(
    "rows, schema, budget",
    [
        ([(0, "a"), (0, "b"), (0, None), (1, "c"), (1, "d")], "k int, m string", None),
        ([(0, 1.0), (0, 2.0), (1, 3.0), (1, 4.0)], "k int, m double", None),
        ([(k, f"m{i}") for k in range(3) for i in range(4)], "k int, m string", 10),
    ],
    ids=["null-member", "double-member", "pair-budget"],
)
def test_bucketed_pairs_driver_falls_back(spark, monkeypatch, rows, schema, budget):
    """Nulls, a column type without order-preserving codes and an
    exhausted pair budget hand the table to the distributed path."""
    from collections import Counter

    import dedup.lsh as lsh

    df = spark.createDataFrame(rows, schema)
    monkeypatch.setattr(lsh, "_DRIVER_ROWS", -1)
    ref = Counter(tuple(r) for r in lsh.bucketed_pairs(df, ["k"], ["m"], 2000)[0].collect())
    monkeypatch.undo()
    if budget is not None:
        monkeypatch.setattr(lsh, "_DRIVER_PAIRS", budget)
    m = {}
    got = lsh.bucketed_pairs(df, ["k"], ["m"], 2000, m)[0]
    assert m["driver"] is False
    assert Counter(tuple(r) for r in got.collect()) == ref and ref


def test_bucket_table_above_the_bound_is_not_collected(spark, monkeypatch):
    from collections import Counter

    import dedup.lsh as lsh

    rows = [(k, f"m{i}") for k in range(3) for i in range(4)]
    df = spark.createDataFrame(rows, "k int, m string")
    ref = Counter(tuple(r) for r in lsh.bucketed_pairs(df, ["k"], ["m"], 2000)[0].collect())

    def no_collect(self):
        raise AssertionError("table above the driver bound was collected")

    monkeypatch.setattr(lsh, "_DRIVER_ROWS", len(rows) - 1)
    monkeypatch.setattr(type(df), "toArrow", no_collect)
    m = {}
    got = lsh.bucketed_pairs(df, ["k"], ["m"], 2000, m)[0]
    assert m["driver"] is False
    monkeypatch.undo()
    assert Counter(tuple(r) for r in got.collect()) == ref
