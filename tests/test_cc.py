"""Connected components: both regimes against a pure-Python union-find."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import dedup.cc
from dedup.cc import connected_components
from dedup.util import persistent_rdd_ids, unpersist_ids

SCHEMA = "conv_a string, conv_b string"


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _labels(df, **kw):
    return {r["conv_id"]: r["cluster_id"] for r in connected_components(df, **kw).collect()}


def _summary(out):
    r = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("conv_id").alias("ids"),
        F.countDistinct("cluster_id").alias("clusters"),
        F.min("cluster_id").alias("label"),
    ).first()
    return r["n"], r["ids"], r["clusters"], r["label"]


def test_driver_regime_long_path(spark):
    """A 10⁴-node path with scrambled ids (i ↦ 7919·i mod 10⁴ is a
    bijection) converges in one pass: every node gets the global minimum."""
    n = 10_000
    node = lambda c: F.format_string("n%05d", F.pmod(c * 7919, F.lit(n)))  # noqa: E731
    edges = spark.range(n - 1).select(
        node(F.col("id")).alias("conv_a"), node(F.col("id") + 1).alias("conv_b")
    )
    m: dict = {}
    out = connected_components(edges, metrics_out=m)
    assert _summary(out) == (n, n, 1, "n00000")
    assert m == {"cc_edges": n - 1, "cc_driver": True, "cc_rounds": 0}


def test_driver_regime_large_star(spark):
    n = 100_000
    edges = spark.range(1, n).select(
        F.format_string("c%06d", "id").alias("conv_a"), F.lit("c000000").alias("conv_b")
    )
    assert _summary(connected_components(edges)) == (n, n, 1, "c000000")


def test_distributed_regime_matches_driver_and_union_find(spark, monkeypatch):
    """Large-star/small-star rounds, forced on by a zero driver bound, on a
    shuffled 1,200-node path, a star, a disjoint pair and a non-ASCII pair
    (byte order == code-point order)."""
    ids = [f"p{i:04d}" for i in range(1200)]
    random.Random(7).shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    edges += [("s00", f"s{i:02d}") for i in range(1, 30)]
    edges += [("x1", "x0"), ("é", "z"), ("x1", "x0")]  # duplicate edge too
    df = spark.createDataFrame(edges, SCHEMA)
    expected = _union_find(edges)

    driver = _labels(df)
    assert driver == expected
    monkeypatch.setattr(dedup.cc, "_DRIVER_EDGES", 0)
    pre = persistent_rdd_ids(spark)
    m: dict = {}
    out = connected_components(df, metrics_out=m)
    leaked = persistent_rdd_ids(spark) - pre
    assert len(leaked) == 1, leaked  # only the returned frame's checkpoint
    assert {r["conv_id"]: r["cluster_id"] for r in out.collect()} == expected
    unpersist_ids(spark, leaked)
    assert m["cc_driver"] is False and m["cc_edges"] == len(edges) - 1
    assert 1 <= m["cc_rounds"] <= 25


def test_distributed_regime_round_cap(spark, monkeypatch):
    monkeypatch.setattr(dedup.cc, "_DRIVER_EDGES", 0)
    ids = [f"q{i:03d}" for i in range(200)]
    random.Random(3).shuffle(ids)
    df = spark.createDataFrame([(ids[i], ids[i + 1]) for i in range(199)], SCHEMA)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(df, max_iters=1)


@pytest.mark.parametrize("driver_edges", [1_000_000, 0])
def test_empty_edges(spark, monkeypatch, driver_edges):
    monkeypatch.setattr(dedup.cc, "_DRIVER_EDGES", driver_edges)
    out = connected_components(spark.createDataFrame([], SCHEMA))
    assert out.schema.simpleString() == "struct<conv_id:string,cluster_id:string>"
    assert out.count() == 0
