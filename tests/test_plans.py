"""Physical-plan quality gates: the properties that make this design hold at
100 TB must be visible in .explain() output, not just asserted in prose.

- turn-level predicates reach the parquet scan (PushedFilters);
- column pruning: the scan reads only referenced columns (ReadSchema);
- the delete rewrite broadcasts the small loser set;
- the exact tier stays inside WholeStageCodegen (no Python in the hot path);
- a small in-memory pipeline pass stays within its Spark job budget.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from dedup.assemble import assemble_conversations
from dedup.config import DedupConfig
from dedup.exact import exact_clusters
from dedup.keep import apply_delete_rewrite


@pytest.fixture(scope="module")
def turns_parquet(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "turns")
    from dedup.schema import TRANSCRIPTS_SCHEMA
    from dedup.synth import corpus_to_spark

    corpus_to_spark(spark, corpus).write.mode("overwrite").parquet(path)
    return path


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_tool_filter_pushed_to_scan(spark, turns_parquet):
    turns = spark.read.parquet(turns_parquet)
    cfg = DedupConfig(include_tools=("js", "csv"), min_turn_idx=1)
    plan = _plan(assemble_conversations(turns, cfg))
    assert "PushedFilters" in plan
    # tool-IN and turn_idx bounds must appear among the pushed filters
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "tool" in pushed and "turn_idx" in pushed, pushed


def test_column_pruning_at_scan(spark, turns_parquet):
    turns = spark.read.parquet(turns_parquet)
    # a query touching only conv_id+turn_idx must not read text/ts/role/tool
    q = turns.groupBy("conv_id").agg(F.max("turn_idx").alias("max_turn"))
    plan = _plan(q)
    sched = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "conv_id" in sched and "turn_idx" in sched
    for col in ("text", "role", "tool", "ts"):
        assert col not in sched, (col, sched)


def test_delete_rewrite_uses_broadcast(spark, turns_parquet):
    turns = spark.read.parquet(turns_parquet)
    losers = spark.createDataFrame([("c00000001",)], ["conv_id"])
    plan = _plan(apply_delete_rewrite(turns, losers))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_exact_tier_is_codegen_only(spark, turns_parquet):
    """The exact tier must contain zero Python evals — pure JVM codegen
    hashing plus one dup-key aggregation and one join."""
    turns = spark.read.parquet(turns_parquet)
    conv = assemble_conversations(turns)
    df = exact_clusters(conv, DedupConfig(strict=True))
    plan = _plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, marker
    # AQE hides codegen subtrees until runtime — inspect the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        codegen = _plan(exact_clusters(conv, DedupConfig(strict=True)), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in codegen and "Found 0" not in codegen


def test_lsh_banding_is_jvm_side(spark):
    """Band explode + band hashing must not invoke Python — only the
    signature UDF itself is Python."""
    from dedup.lsh import band_buckets

    sigs = spark.createDataFrame(
        [("a", list(range(128)))], "conv_id string, minhash array<int>"
    )
    plan = _plan(band_buckets(sigs))
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_winnowing_is_jvm_side(spark):
    """Winnowing must stay in codegen: md5 + window min, no Python eval."""
    from dedup.textfns import winnow_fingerprints

    docs = spark.createDataFrame([(1, "abc def ghi " * 40)], "doc_id long, text string")
    plan = _plan(winnow_fingerprints(docs))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_axis_lsh_neardup_is_jvm_side_no_cartesian(spark):
    """Axis-sign bucketed embedding near-dup: no Python eval, no all-pairs
    operator — the plan a 100 TB corpus needs."""
    from dedup.similarity import embedding_neardup_pairs

    emb = spark.createDataFrame(
        [(i, [float(i % 3) - 1.0] * 8) for i in range(20)], "vec_id long, v array<double>"
    )
    plan = _plan(embedding_neardup_pairs(emb, threshold=0.9, mode="lsh", dim=8))
    for bad in ("ArrowEvalPython", "BatchEvalPython", "CartesianProduct", "NestedLoopJoin"):
        assert bad not in plan, (bad, plan)


def test_md5_simhash_is_jvm_side(spark):
    """The SQL-mirrorable SimHash variant is pure JVM expressions."""
    from dedup.simhash import with_turn_simhash_md5

    turns = spark.createDataFrame(
        [("a", 0, "user", "hello world " * 10, "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    plan = _plan(with_turn_simhash_md5(turns))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_exact_tier_counts_deskewed_no_window(spark, turns_parquet):
    """VERDICT r03 #4: the multi-member filter and group-min anchor run as
    one dup-key aggregation + one join, NOT window functions — AQE can
    split a skewed join partition but never a window partition, so one
    10^7-copy template must not serialize into a single window task. The
    aggregation has a map-side partial step (``partial_min(conv_id)``), so
    a mega-group shuffles one row per map task, not one per copy. (It is a
    SortAggregate: a string minimum has no fixed-width buffer.) The media
    filter shares the same groupBy + semi-join."""
    from dedup.exact import exact_pairs
    from dedup.multimodal import media_exact_dups

    turns = spark.read.parquet(turns_parquet)
    conv = assemble_conversations(turns)
    for strict in (True, False):
        pairs = exact_pairs(conv, DedupConfig(strict=strict))
        plan = _plan(pairs)
        assert "Window" not in plan, plan
        assert "partial_min(conv_id" in plan, plan
        # the static tree: the dup-key aggregate joined back, nothing else
        tree = _plan(pairs, "simple").splitlines()
        assert sum("Join" in line for line in tree) == 1, plan

    feats = spark.createDataFrame(
        [(1, "image", 3, "h1"), (2, "image", 3, "h1")],
        "media_id long, kind string, n_bytes long, content_hash string",
    )
    mplan = _plan(media_exact_dups(feats))
    assert "Window" not in mplan, mplan


def test_keep_policy_deskewed_no_window(spark, turns_parquet):
    """VERDICT r04 #3: select_representatives is a groupBy-min(key struct)
    joined back, NOT a window over cluster_id — the keep policy runs over
    the SAME mega-clusters the exact tier produces (a 10^7-copy template is
    one cluster by construction), so a cluster_id window would serialize
    each mega-cluster into one unsplittable task. The min has a map-side
    partial step (``partial_min(_ord)``), so a mega-cluster shuffles one
    row per map task. (It is a SortAggregate: a struct minimum has no
    fixed-width buffer.)"""
    from dedup.keep import select_representatives

    turns = spark.read.parquet(turns_parquet)
    conv = assemble_conversations(turns)
    clusters = conv.select("conv_id").withColumn(
        "cluster_id", F.lit("c0")
    )  # one mega-cluster: worst case
    for policy in ("oldest", "newest", "longest", "first_id"):
        plan = _plan(select_representatives(clusters, conv, policy))
        assert "Window" not in plan, (policy, plan)
        assert "partial_min(_ord" in plan, (policy, plan)


#: Spark jobs one in-memory ``DedupPipeline`` pass runs on the shared test
#: corpus (120 base conversations), as measured when the whole pass after
#: assembly moved to the driver for small inputs: the conversations stage,
#: its one collect and one write per later stage (the pass ran 26 before;
#: 30 before the exact tier became one dup-key aggregation; 37 before the
#: signature, anchor and LCS kernels moved to the driver; 43 with the
#: SimHash tier). At this input size the cold pass is mostly fixed cost per
#: job, so the count must not creep back up.
PIPELINE_JOB_BUDGET = 7


def _sql_plans(spark) -> dict[int, str]:
    """Physical plan text of every SQL execution the session recorded."""
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    ex = store.executionsList()
    return {
        ex.apply(i).executionId(): ex.apply(i).physicalPlanDescription()
        for i in range(ex.size())
    }


def test_pipeline_job_budget(spark, turns_df):
    """A small in-memory pass stays within its job budget and, under the
    driver-pass bound, runs no Python UDF: no Python worker starts."""
    from dedup.pipeline import DedupPipeline

    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001

    def n_jobs():
        # the status store is fed by the async listener bus: drain it first
        sc.listenerBus().waitUntilEmpty()
        return sc.statusStore().jobsList(spark._jvm.java.util.ArrayList()).size()  # noqa: SLF001

    before, plans_before = n_jobs(), _sql_plans(spark)
    res = DedupPipeline(spark, DedupConfig()).run(turns_df)
    jobs = n_jobs() - before
    assert jobs <= PIPELINE_JOB_BUDGET, jobs
    # each stage's row count rides its own checkpoint: real counts, no job
    assert all(s.rows > 0 for s in res.stages), res.stages
    assert res.metrics["kernels_driver"] is True
    plans = {k: v for k, v in _sql_plans(spark).items() if k not in plans_before}
    assert plans
    for plan in plans.values():
        for marker in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert marker not in plan, (marker, plan)
