"""Full pipeline orchestration: all tiers together, keep policy, checkpoint
resume (FIXTURES.md ``keep_policy`` and ``resume``)."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest

from dedup.config import DedupConfig
from dedup.keep import apply_delete_rewrite, duplicate_report, losers
from dedup.pipeline import DedupPipeline
from dedup.schema import TRANSCRIPTS_SCHEMA


def _cluster_map(result):
    return {
        r.conv_id: (r.cluster_id, r.is_representative)
        for r in result.clusters.collect()
    }


@pytest.fixture(scope="module")
def pipeline_run(spark, turns_df):
    pipe = DedupPipeline(spark, DedupConfig())
    return pipe.run(turns_df)


def test_pipeline_finds_all_planted_kinds(pipeline_run, corpus):
    lab = {k: v[0] for k, v in _cluster_map(pipeline_run).items()}
    tp = corpus.truth_pairs
    for kind in ("exact", "near", "span"):
        pairs = tp[tp.kind == kind]
        hit = sum(
            1
            for a, b, _ in pairs.itertuples(index=False)
            if lab.get(a) is not None and lab.get(a) == lab.get(b)
        )
        assert hit / len(pairs) >= 0.99, f"{kind}: {hit}/{len(pairs)}"
    # no false merges of same-size pairs
    for a, b, _ in tp[tp.kind == "same_size"].itertuples(index=False):
        assert lab.get(a) is None or lab.get(a) != lab.get(b)


@pytest.mark.parametrize(
    "cfg, policy",
    [
        (DedupConfig(), "oldest"),
        (DedupConfig(strict=True), "newest"),
        (DedupConfig(exact_verify=True), "longest"),
        (DedupConfig(band_bucket_cap=3), "first_id"),
    ],
    ids=["default", "strict", "exact_verify", "cap3"],
)
def test_udf_placement_gives_the_same_clusters(
    spark, turns_df, tmp_path, monkeypatch, freed_scratch, cfg, policy
):
    """The test corpus is under the driver-pass bound; forced over it, the
    DataFrame pass runs the kernels in pandas UDFs. Every stage gets the
    same rows (edge similarities included), and the edge funnel, both
    overflow counts and the lineage rows agree; the metrics say which pass
    ran."""
    import dedup.pipeline

    def run(name):
        rd = str(tmp_path / name)
        m = DedupPipeline(spark, cfg, run_dir=rd, keep_policy=policy).run(turns_df).metrics
        stages = {
            s: sorted(tuple(r) for r in spark.read.parquet(f"{rd}/{s}").collect())
            for s in DedupPipeline.STAGES[1:]
        }
        keys = ("doc_bytes", "edges_by_source", "lsh_overflow_buckets", "span_overflow_anchors")
        lineage = [(e["stage"], e["rows"], e["resumed"]) for e in m["stages"]]
        return m["kernels_driver"], stages, {k: m[k] for k in keys}, lineage

    driver = run("driver")
    assert 0 < driver[2]["doc_bytes"] <= dedup.pipeline._DRIVER_DOC_BYTES
    monkeypatch.setattr(dedup.pipeline, "_DRIVER_DOC_BYTES", -1)
    udf = run("udf")
    assert (driver[0], udf[0]) == (True, False)
    assert driver[1:] == udf[1:]
    assert driver[1]["clusters"] and driver[2]["edges_by_source"]["span"]


def test_driver_pass_hands_off_over_the_pair_budget(
    spark, turns_df, pipeline_run, monkeypatch, freed_scratch
):
    """Bucket pairs over ``lsh._DRIVER_PAIRS`` send the pass to the
    DataFrame pass before any stage after assembly is written; it finds
    the same clusters, and the metrics say which pass ran."""
    import dedup.lsh

    assert pipeline_run.metrics["kernels_driver"] is True
    monkeypatch.setattr(dedup.lsh, "_DRIVER_PAIRS", 0)
    res = DedupPipeline(spark, DedupConfig()).run(turns_df)
    assert res.metrics["kernels_driver"] is False
    assert res.metrics["lsh_driver"] is False
    assert [s.name for s in res.stages] == list(DedupPipeline.STAGES)
    assert _cluster_map(res) == _cluster_map(pipeline_run)


def test_tz_naive_timestamps_run(spark, freed_scratch):
    """A TIMESTAMP_NTZ ``ts`` column (pandas datetime64, tz-naive parquet)
    runs through the keep policy: assembly casts it to the session zone."""
    from pyspark.sql import functions as F

    from dedup.synth import corpus_to_spark, make_corpus

    turns = corpus_to_spark(spark, make_corpus(20, 7))
    naive = turns.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = _cluster_map(DedupPipeline(spark, DedupConfig()).run(naive))
    assert got and got == _cluster_map(DedupPipeline(spark, DedupConfig()).run(turns))


def test_keep_policy_oldest(pipeline_run, corpus):
    """Representative = oldest first_ts (planted originals predate copies)."""
    m = _cluster_map(pipeline_run)
    tp = corpus.truth_pairs
    for a, b, kind in tp[tp.kind == "exact"].itertuples(index=False):
        orig, copy = (a, b) if not a.endswith("_xd") else (b, a)
        assert m[orig][1] is True, orig
        assert m[copy][1] is False, copy


def test_delete_rewrite(spark, turns_df, pipeline_run):
    """Anti-join rewrite drops exactly the losers' turns (S10)."""
    lose = losers(pipeline_run.clusters)
    n_losers = lose.count()
    assert n_losers > 0
    kept = apply_delete_rewrite(turns_df, lose)
    remaining_ids = {r.conv_id for r in kept.select("conv_id").distinct().collect()}
    loser_ids = {r.conv_id for r in lose.collect()}
    assert remaining_ids.isdisjoint(loser_ids)
    all_ids = {r.conv_id for r in turns_df.select("conv_id").distinct().collect()}
    assert remaining_ids == all_ids - loser_ids


def test_report_deterministic_order(pipeline_run):
    rep = duplicate_report(pipeline_run.clusters).collect()
    keys = [(r.cluster_id, r.conv_id) for r in rep]
    assert keys == sorted(keys)


def test_checkpoint_resume_byte_identical(spark, turns_df, tmp_path_factory):
    """Run with a run_dir, wipe the LAST stage only, re-run: early stages
    resume from checkpoint, final clusters identical (FIXTURES.md resume)."""
    run_dir = str(tmp_path_factory.mktemp("run"))
    cfg = DedupConfig()
    r1 = DedupPipeline(spark, cfg, run_dir=run_dir).run(turns_df)
    first = sorted(
        (r.conv_id, r.cluster_id, r.is_representative) for r in r1.clusters.collect()
    )
    assert not any(s.resumed for s in r1.stages)

    # simulate a crash after 'pairs': wipe edges+clusters, re-run
    shutil.rmtree(f"{run_dir}/edges")
    shutil.rmtree(f"{run_dir}/clusters")
    r2 = DedupPipeline(spark, cfg, run_dir=run_dir).run(turns_df)
    resumed = {s.name for s in r2.stages if s.resumed}
    assert {"conversations", "signatures", "pairs"} <= resumed
    second = sorted(
        (r.conv_id, r.cluster_id, r.is_representative) for r in r2.clusters.collect()
    )
    assert first == second


def test_full_resume_runs_no_eager_tier_work(spark, turns_df, tmp_path):
    """Resuming a fully-materialized run must not construct the tier
    kernels: their eager localCheckpoints (bucket stats, span anchors)
    would otherwise recompute tier work the parquet stages already hold.
    Detectable as zero new persistent RDDs across the resumed run."""
    from dedup.config import DedupConfig
    from dedup.pipeline import DedupPipeline
    from dedup.util import persistent_rdd_ids

    run_dir = str(tmp_path / "resume_run")
    DedupPipeline(spark, DedupConfig(), run_dir=run_dir).run(turns_df)
    pre = persistent_rdd_ids(spark)
    res2 = DedupPipeline(spark, DedupConfig(), run_dir=run_dir).run(turns_df)
    assert all(s.resumed for s in res2.stages), res2.stages
    assert persistent_rdd_ids(spark) == pre


def test_reused_run_dir_refuses_other_settings(spark, turns_df, tmp_path):
    """A run dir records the settings it was computed from. A run with other
    settings (config, span tier or keep policy) on it raises before any
    stage resumes, instead of returning the first run's clusters; so does a
    run dir whose stages carry no settings record."""
    import json
    import os

    run_dir = str(tmp_path / "run")
    DedupPipeline(spark, DedupConfig(), run_dir=run_dir).run(turns_df)
    others = (
        DedupPipeline(
            spark, DedupConfig(jaccard_threshold=0.99, min_span_len=100000), run_dir=run_dir
        ),
        DedupPipeline(spark, DedupConfig(), run_dir=run_dir, enable_span=False),
        DedupPipeline(spark, DedupConfig(), run_dir=run_dir, keep_policy="first_id"),
    )
    for pipe in others:
        with pytest.raises(ValueError, match="settings"):
            pipe.run(turns_df)
    os.remove(os.path.join(run_dir, "settings.json"))
    with pytest.raises(ValueError, match="settings"):
        DedupPipeline(spark, DedupConfig(), run_dir=run_dir).run(turns_df)
    with open(os.path.join(run_dir, "lineage.jsonl")) as f:
        assert len([json.loads(line) for line in f]) == len(DedupPipeline.STAGES)


def test_each_run_has_its_own_lineage(spark, turns_df, tmp_path):
    """Two runs of one instance report one lineage row per stage each, and
    the lineage table, which appends across runs, tells them apart by
    ``run_id``."""
    import json

    run_dir = tmp_path / "run"
    pipe = DedupPipeline(spark, DedupConfig(), run_dir=str(run_dir))
    first, second = pipe.run(turns_df), pipe.run(turns_df)
    for res in (first, second):
        assert [s.name for s in res.stages] == list(DedupPipeline.STAGES)
        assert [e["stage"] for e in res.metrics["stages"]] == list(DedupPipeline.STAGES)
    assert all(s.resumed for s in second.stages)
    with open(run_dir / "lineage.jsonl") as f:
        ids = [json.loads(line)["run_id"] for line in f]
    n = len(DedupPipeline.STAGES)
    assert len(ids) == 2 * n
    assert len(set(ids[:n])) == len(set(ids[n:])) == 1 and ids[0] != ids[n]


def test_select_representatives_matches_window_ordering(spark):
    """The groupBy-min(key struct) formulation (r04 de-skew) and its numpy
    twin ``representatives`` must pick the SAME representative as the
    original row_number-over-window ordering for every policy — including
    null first_ts (NULLS LAST) and exact ties (conv_id tie-break)."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import numpy as np

    from dedup.keep import representatives, select_representatives

    ts = lambda d: dt.datetime(2026, 1, d, tzinfo=dt.timezone.utc)
    conv = spark.createDataFrame(
        [
            ("a", ts(3), 100),
            ("b", ts(1), 300),
            ("c", ts(1), 300),   # tie with b on ts AND chars → conv_id breaks
            ("d", None, 50),     # null ts → never "oldest"/"newest" rep
            ("e", None, 500),
            ("f", ts(9), 500),
        ],
        "conv_id string, first_ts timestamp, total_chars long",
    )
    clusters = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("c", "k1"), ("d", "k1"), ("e", "k2"), ("f", "k2")],
        "conv_id string, cluster_id string",
    )
    window_order = {
        "oldest": [F.col("first_ts").asc_nulls_last(), F.col("conv_id").asc()],
        "newest": [F.col("first_ts").desc_nulls_last(), F.col("conv_id").asc()],
        "longest": [F.col("total_chars").desc(), F.col("conv_id").asc()],
        "first_id": [F.col("conv_id").asc()],
    }
    for policy, order in window_order.items():
        got = {
            r.conv_id: r.is_representative
            for r in select_representatives(clusters, conv, policy).collect()
        }
        w = Window.partitionBy("cluster_id").orderBy(*order)
        want = {
            r.conv_id: r.rn == 1
            for r in clusters.join(conv, "conv_id", "left")
            .withColumn("rn", F.row_number().over(w))
            .collect()
        }
        assert got == want, (policy, got, want)
        assert sum(got.values()) == 2, policy  # exactly one rep per cluster
        # the driver pass's numpy twin, over the rows in conv_id order
        rows = clusters.join(conv, "conv_id").orderBy("conv_id").toArrow()
        cluster = np.unique(rows.column("cluster_id").to_pylist(), return_inverse=True)[1]
        rep = representatives(cluster, rows, policy)
        assert dict(zip(rows.column("conv_id").to_pylist(), rep.tolist())) == want, policy


def test_span_union_stable_when_lsh_rejects(spark):
    """VERDICT r04 #6: a pair that is an LSH CANDIDATE but fails Jaccard
    verification must still reach the final edge set when the span tier
    accepts it — the two-path flow (pair union for exact/lsh, span edges
    anti-joined after verification) is union-stable regardless of which
    tier sees the pair first."""
    import numpy as np

    from dedup.lsh import candidate_pairs
    from dedup.minhash import with_minhash
    from dedup.verify import verify_pairs
    from dedup.assemble import assemble_conversations

    rng = np.random.default_rng(5)
    vocab = [f"w{i:03d}" for i in range(400)]
    shared = " ".join(rng.choice(vocab, 90))          # ~450-char shared span
    ua, ub = (" ".join(rng.choice(vocab, 30)) for _ in range(2))
    rows = [
        ("pa", 0, "user", shared, "", None), ("pa", 1, "assistant", ua, "", None),
        ("pb", 0, "user", shared, "", None), ("pb", 1, "assistant", ub, "", None),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    cfg = DedupConfig(min_span_len=200)
    conv = assemble_conversations(turns, cfg)
    sigs = with_minhash(conv, cfg).select("conv_id", "minhash")

    # premise 1: the pair IS an LSH candidate (some band collides at J≈0.6)
    pairs, _ = candidate_pairs(sigs, cfg)
    cand = {(r.conv_a, r.conv_b) for r in pairs.collect()}
    assert ("pa", "pb") in cand, cand

    # premise 2: Jaccard verification REJECTS it (J < 0.7)
    accepted = {
        (r.conv_a, r.conv_b)
        for r in verify_pairs(pairs, sigs, cfg, conversations=conv).collect()
    }
    assert ("pa", "pb") not in accepted, accepted

    # span tier accepts → same final cluster
    r_span = DedupPipeline(spark, cfg).run(turns)
    m = {r.conv_id: r.cluster_id for r in r_span.clusters.collect()}
    assert m.get("pa") is not None and m.get("pa") == m.get("pb"), m

    # and WITHOUT the span tier the lsh rejection stands: no cluster
    r_nospan = DedupPipeline(spark, cfg, enable_span=False).run(turns)
    m2 = {r.conv_id: r.cluster_id for r in r_nospan.clusters.collect()}
    assert m2.get("pa") is None or m2.get("pa") != m2.get("pb"), m2


def test_caps_audit_in_metrics(spark, turns_df, tmp_path_factory):
    """VERDICT r04 #7 (caps audit): when caps bind, the run's metrics name
    every governing cap and the bound runtime widths — a capped run is
    auditable from its persisted metrics.json alone."""
    import json as _json
    import os as _os

    run_dir = str(tmp_path_factory.mktemp("caps_run"))
    cfg = DedupConfig(band_bucket_cap=2, span_doc_cap=400)  # force overflow
    res = DedupPipeline(spark, cfg, run_dir=run_dir).run(turns_df)
    m = res.metrics

    # every configured cap is named with its in-force value
    assert m["caps"] == {
        "band_bucket_cap": 2,
        "span_doc_cap": 400,
        "span_anchor_mod": cfg.span_anchor_mod,
        "min_span_len": cfg.min_span_len,
        "cc_max_iters": cfg.cc_max_iters,
    }
    # the caps BOUND: overflow counters are present and non-zero for lsh
    # (exact-copy groups make >2-member band buckets by construction)
    assert m["lsh_overflow_buckets"] > 0
    assert m["span_overflow_anchors"] >= 0
    # CC reported which regime ran: a small edge table finishes on the
    # driver, with no distributed rounds
    assert m["cc_driver"] is True and m["cc_edges"] > 0 and m["cc_rounds"] == 0
    # the LSH and span bucket tables are small: both paired on the driver,
    # whose star edges keep a binding cap exact
    assert m["lsh_driver"] is True and m["span_driver"] is True

    # all of it persisted next to the lineage
    disk = _json.loads(open(_os.path.join(run_dir, "metrics.json")).read())
    for k in (
        "caps", "lsh_overflow_buckets", "cc_edges", "cc_driver", "cc_rounds",
        "stages", "ingest_rejects", "span_overflow_anchors", "lsh_driver",
        "span_driver", "edges_by_source", "kernels_driver", "doc_bytes",
    ):
        assert k in disk, k
    # SimHash is not a pipeline tier: no SimHash key, no SimHash edges
    assert not [k for k in disk if k.startswith("simhash")], sorted(disk)
    assert set(disk["edges_by_source"]) == {"exact", "lsh", "span"}
    # the per-source edge funnel accounts for every row of the edge stage
    edge_rows = next(s["rows"] for s in disk["stages"] if s["stage"] == "edges")
    assert sum(disk["edges_by_source"].values()) == edge_rows > 0


def test_empty_input_runs_to_zero_clusters(spark, turns_df, tmp_path):
    """An empty input (empty relation or ``limit(0)``) finishes with no
    clusters and zero ingest rows, in memory and with a run dir."""
    empty = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    for turns, run_dir in ((empty, None), (turns_df.limit(0), str(tmp_path / "run"))):
        res = DedupPipeline(spark, DedupConfig(), run_dir=run_dir).run(turns)
        assert res.metrics["kernels_driver"] is True
        assert res.clusters.count() == 0
        assert res.metrics["ingest_rejects"]["raw_rows"] == 0


def test_run_pipeline_entry_point(spark, tmp_path):
    """The spark-submit script runs end to end on a parquet input: clusters,
    a run dir and the rewritten turns table; then without the span tier and
    with a byte-size ``--min-size``."""
    from dedup.synth import write_corpus
    from tools import run_pipeline

    src = tmp_path / "in"
    src.mkdir()
    write_corpus(str(src), n_convs=30)
    inp = str(src / "transcripts.parquet")
    out, run_dir = str(tmp_path / "clusters"), tmp_path / "run"
    argv = ["--input", inp, "--output", out, "--run-dir", str(run_dir), "--apply-delete"]
    assert run_pipeline.main(argv) == 0
    assert (run_dir / "lineage.jsonl").exists()
    assert spark.read.parquet(out).count() > 0
    n_in = spark.read.parquet(inp).count()
    assert 0 < spark.read.parquet(out + "_turns").count() < n_in

    out2 = str(tmp_path / "clusters_nospan")
    argv = ["--input", inp, "--output", out2, "--no-span", "--min-size", "1kb"]
    assert run_pipeline.main(argv) == 0
    assert spark.read.parquet(out2).count() > 0
