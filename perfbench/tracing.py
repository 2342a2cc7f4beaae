"""Spans around the benchmark's calls into each layer, and the traced pass.

A span records name, start, end, parent and run id, and tags the Spark work
started inside it with a job group named after the span id (set from the
benchmark thread; PySpark pins the thread's local properties to its JVM
thread). Spans stay in memory until the run writes them out.

Per-layer Spark metrics come from the application status store: each stage
belongs to the first job that ran it, each job to its group, and each group
to one span. So a layer's figures count only the work started in its own
spans, not in their children, and no stage is counted twice.

The traced pass calls each layer's public functions in the order
``DedupPipeline.run`` does, on one thread. It cuts the lineage at the end
of every layer (a checkpoint and a count), so a layer's lazy work runs
inside its own span; those extra jobs are part of the trace overhead.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: layers in pipeline order; ``pipeline`` is the pair union and the cuts of
#: the pairs and edges stages (each other stage is cut inside its own layer)
LAYERS = (
    "assemble", "minhash", "lsh", "exact", "simhash", "suffix",
    "pipeline", "verify", "cc", "keep",
)
STAGE_METRICS = (
    "wall_s", "task_cpu_s", "stages", "shuffle_write_mb", "spill_mb",
    "failed_tasks", "rows_out",
)


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, u in (("_s", "s"), ("_mb", "MB"), ("_yield", "ratio"), ("precision", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


class Tracer:
    """In-memory spans of one run, each tagging its Spark jobs by group."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            if outer:
                self.sc.setJobGroup(outer["id"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_seconds(self, rec: dict) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids


def stage_metrics_by_group(spark) -> dict[str, dict[str, float]]:
    """Per job group: stages, task CPU, shuffle write, spill, failed tasks."""
    st = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
    empty = spark._jvm.java.util.ArrayList()  # noqa: SLF001
    owner: dict[int, str] = {}
    jobs = st.jobsList(empty)
    for i in sorted(range(jobs.size()), key=lambda i: jobs.apply(i).jobId()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if not group.isDefined():
            continue
        ids = job.stageIds()
        for j in range(ids.size()):
            owner.setdefault(int(ids.apply(j)), group.get())
    defaults = [getattr(st, f"stageList$default${i}")() for i in range(2, 6)]
    stages = st.stageList(empty, *defaults)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for i in range(stages.size()):
        s = stages.apply(i)
        group = owner.get(s.stageId())
        if group is None or s.status().toString() == "SKIPPED":
            continue
        m = out[group]
        m["stages"] += 1
        m["task_cpu_s"] += s.executorCpuTime() / 1e9
        m["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
        m["spill_mb"] += s.diskBytesSpilled() / 1e6
        m["failed_tasks"] += s.numFailedTasks()
    return out


def layer_metrics(tracer: Tracer, by_group: dict) -> dict[str, float]:
    """``<layer>.<metric>`` summed over every span of that layer."""
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in STAGE_METRICS}
    for rec in tracer.spans:
        layer = rec["name"]
        if layer not in LAYERS:
            continue
        out[f"{layer}.wall_s"] += tracer.self_seconds(rec)
        for k, v in by_group.get(rec["id"], {}).items():
            out[f"{layer}.{k}"] += v
        for k, v in rec["counts"].items():
            key = f"{layer}.{k}"
            out[key] = out.get(key, 0.0) + v
    return out


def _udf_seconds(spark) -> float:
    """Total profiled Python UDF time since the last call, then clear."""
    stats = spark._profiler_collector._perf_profile_results  # noqa: SLF001
    total = sum(s.total_tt for s in stats.values())
    spark.profile.clear(type="perf")
    return total


def traced_pass(spark, tracer: Tracer, turns: DataFrame, run_dir: str | None):
    """One pass, layer by layer; returns the clusters DataFrame.

    With ``run_dir`` every stage is written to parquet and read back, as
    ``DedupPipeline`` does with a run dir; otherwise it is checkpointed in
    memory. Each layer's span counts its output rows as ``rows_out``."""
    from dedup.assemble import assemble_conversations, turn_filters
    from dedup.cc import connected_components
    from dedup.config import DedupConfig
    from dedup.exact import exact_pairs
    from dedup.keep import select_representatives
    from dedup.lsh import candidate_pairs
    from dedup.minhash import with_minhash
    from dedup.pipeline import DedupPipeline
    from dedup.simhash import simhash_conv_pairs, with_turn_simhash
    from dedup.suffix import span_candidate_pairs, verify_span_pairs
    from dedup.verify import verify_pairs

    cfg = DedupConfig()

    def cut(df: DataFrame, stage: str | None, counts: dict) -> DataFrame:
        if run_dir and stage:
            path = f"{run_dir}/{stage}"
            df.write.mode("overwrite").parquet(path)
            df = spark.read.parquet(path)
        else:
            df = df.localCheckpoint()
        counts["rows_out"] = counts.get("rows_out", 0) + df.count()
        return df

    spark.profile.clear(type="perf")
    with tracer.span("assemble") as c:
        conv = cut(assemble_conversations(turns, cfg), "conversations", c)

    with tracer.span("minhash") as c:
        sigs = with_minhash(conv, cfg, repartition="auto").select("conv_id", "minhash")
        sigs = cut(sigs, "signatures", c)
        c["udf_s"] = _udf_seconds(spark)

    with tracer.span("lsh") as c:
        lsh, lsh_overflow = candidate_pairs(sigs, cfg, dedup=False)
        lsh = cut(lsh, None, c)
        c["candidates"] = c["rows_out"]
        c["overflow_buckets"] = lsh_overflow.count()

    with tracer.span("exact") as c:
        exact = cut(exact_pairs(conv, cfg), None, c)

    with tracer.span("simhash") as c:
        turns_f = turns
        pred = turn_filters(cfg)
        if pred is not None:
            turns_f = turns_f.where(pred)
        turns_f = turns_f.join(conv.select("conv_id"), "conv_id", "left_semi")
        sh = with_turn_simhash(turns_f, cfg).select("conv_id", "turn_idx", "simhash")
        sh = sh.localCheckpoint()
        sh_pairs, sh_overflow = simhash_conv_pairs(
            sh, cfg, materialize=False, return_overflow=True
        )
        sh_pairs = cut(sh_pairs, None, c)
        c["conv_pairs"] = c["rows_out"]
        c["overflow_buckets"] = sh_overflow.count()
        c["udf_s"] = _udf_seconds(spark)

    with tracer.span("suffix") as c:
        span_cand, _ = span_candidate_pairs(conv, cfg, input_materialized=True)
        span_cand = cut(span_cand, None, c)
        c["candidates"] = c["rows_out"]

    with tracer.span("pipeline") as c:
        # the pair union is the pipeline's own step (strongest source wins)
        union = DedupPipeline(spark)._dedup_pair_union([exact, lsh, sh_pairs])  # noqa: SLF001
        pairs = cut(union, "pairs", c)

    with tracer.span("verify") as c:
        edges = cut(verify_pairs(pairs, sigs, cfg, conversations=conv), None, c)
        lsh_in = pairs.where(F.col("source") == "lsh").count()
        lsh_out = edges.where(F.col("source") == "lsh").count()
        c["lsh_yield"] = lsh_out / lsh_in if lsh_in else 0.0

    with tracer.span("suffix") as c:
        new_cand = span_cand.join(
            edges.select("conv_a", "conv_b"), ["conv_a", "conv_b"], "left_anti"
        )
        n_new = new_cand.count()
        span_edges = (
            verify_span_pairs(new_cand, conv, cfg)
            .drop("span_len")
            .withColumn("similarity", F.lit(None).cast("double"))
            .select("conv_a", "conv_b", "source", "similarity")
        )
        span_edges = cut(span_edges, None, c)
        c["edges"] = c["rows_out"]
        c["lcs_yield"] = c["edges"] / n_new if n_new else 0.0

    with tracer.span("pipeline") as c:
        edges = cut(edges.unionByName(span_edges), "edges", c)
        n_edges = c["rows_out"]

    with tracer.span("cc") as c:
        m: dict = {}
        labels = connected_components(
            edges.select("conv_a", "conv_b"),
            cfg.cc_max_iters,
            n_edges=n_edges,
            input_deduped=True,
            metrics_out=m,
        )
        c["rows_out"] = labels.count()
        c["rounds"] = m.get("cc_rounds", 0)
        c["edges"] = m.get("cc_edges", 0)

    with tracer.span("keep") as c:
        clusters = cut(select_representatives(labels, conv, "oldest"), "clusters", c)
        sizes = clusters.groupBy("cluster_id").count().agg(F.max("count")).first()[0]
        c["max_cluster"] = sizes or 0
    return clusters
