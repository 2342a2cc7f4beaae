"""End-to-end pipeline orchestration with checkpoint/resume (operator N11).

Generalizes the reference's per-record ``FileState::SwProcessed`` marker
(reference: /root/reference/src/fileinfo.rs:12-16) into per-STAGE idempotent
table writes: each stage materializes to ``<run_dir>/<stage>`` (parquet,
written and read back by ``_materialize``), records a lineage row, and a
re-run loads any stage whose _SUCCESS marker exists instead of recomputing
it. Killing the job after stage k and re-running yields byte-identical
clusters (resume test).

The candidate tiers are exact, MinHash/LSH and span. The SimHash tier
(``dedup.simhash``) stays a library and contract operator, not a pipeline
tier: with its candidates verified like LSH ones it added no edge on any
measured corpus, so a pass no longer pays for its UDF and pairing jobs.

Two passes compute the stages after assembly, picked once per run by the
conversations stage's doc bytes (observed on its own action):

- up to ``_DRIVER_DOC_BYTES`` the stage's ``(conv_id, doc, n_turns,
  total_chars, first_ts)`` is collected as Arrow once and the **driver
  pass** computes every later stage in numpy (``dedup.driver_pass``): exact
  grouping, LSH banding, the pair union, verify, span pairing and LCS, CC
  and the keep policy. Spark only writes each stage from Arrow, so a small
  pass starts no Python worker and runs one job per stage;
- above it, or when the driver pass's LSH or anchor pairs exceed
  ``lsh._DRIVER_PAIRS``, the **DataFrame pass** builds every stage with the
  tiers' DataFrame builders, their Python kernels in pandas UDFs.

Both passes run the same kernels and write the same stage rows (pinned by
``tests/test_pipeline.py``). The same rule as the ``cc`` and ``lsh``
driver regimes: one kernel, two placements, picked by size.

Metrics are first-class (north rule): every stage logs its row count,
observed on the stage's own write or checkpoint; the LSH and anchor
overflow paths log how many mega-buckets were demoted to star edges — no
silent caps anywhere; the edge stage counts its edges per source tier
(``edges_by_source``).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dedup import driver_pass
from dedup.assemble import assemble_conversations, reject_metrics_exprs
from dedup.cc import connected_components
from dedup.config import DedupConfig
from dedup.exact import exact_pairs
from dedup.keep import representatives, select_representatives
from dedup.lsh import candidate_pairs
from dedup.minhash import doc_signatures, signatures
from dedup.suffix import span_candidate_pairs, verify_span_pairs
from dedup.verify import verify_pairs

#: every edge ``source`` a tier emits; ``metrics["edges_by_source"]`` counts each
_SOURCES = ("exact", "lsh", "span")

#: largest conversations stage (UTF-8 bytes of ``doc``, summed) that the
#: driver pass takes; a larger one takes the DataFrame pass. Measured for
#: the kernels alone, before the rest of the pass moved to the driver, and
#: not re-measured for the whole pass: on a 4-core host, local[4],
#: synth_spark corpora, signatures + span candidates, driver vs UDF: warm
#: session 0.94-1.19 s vs 1.59-1.88 s at 2.2 MB, 2.07-2.39 vs 2.08-2.20 at
#: 5.3 MB, 3.66-3.95 vs 2.33-2.51 at 10.5 MB; a session's first pass
#: (the UDF side pays the Python worker start) 2.3-2.5 vs 5.2-6.0 at
#: 2.2 MB, 3.7-3.8 vs 5.6-6.2 at 5.3 MB, 5.2-5.6 vs 6.8-7.2 at 10.5 MB,
#: 7.7-9.3 vs 7.5-8.5 at 20.9 MB. The bound sits at the warm crossover, so
#: the driver placement is never the slower one.
_DRIVER_DOC_BYTES = 5_000_000
#: the clusters stage: ``select_representatives``' columns
_CLUSTERS_SCHEMA = (
    "conv_id string, cluster_id string, first_ts timestamp, total_chars long,"
    " is_representative boolean"
)


@dataclass
class StageResult:
    name: str
    rows: int
    seconds: float
    resumed: bool


@dataclass
class PipelineResult:
    clusters: DataFrame
    stages: list[StageResult] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)


class DedupPipeline:
    """Orchestrates assemble → fingerprint tiers → pairs → verify → CC →
    keep-policy. ``run_dir=None`` runs fully lazy/in-memory (tests);
    a run_dir enables checkpoint/resume + lineage."""

    #: stage names in execution order
    STAGES = ("conversations", "signatures", "pairs", "edges", "clusters")

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig | None = None,
        run_dir: str | None = None,
        enable_span: bool = True,
        keep_policy: str = "oldest",
        log=None,
    ):
        """In the DataFrame pass the span candidates, which read only the
        conversations stage and are first needed by the edge stage, are
        built on one background thread while the calling thread runs the
        signature, pairs and verify work in stage order, so their eager
        jobs overlap. Only the calling thread records stages.

        With a ``run_dir``, the settings (``cfg``, ``enable_span``,
        ``keep_policy``) are recorded in ``settings.json``; a later run on
        the same dir with other settings raises instead of resuming."""
        self.spark = spark
        self.cfg = cfg or DedupConfig()
        self.run_dir = run_dir
        self.enable_span = enable_span
        self.keep_policy = keep_policy
        self.log = log or (lambda msg: None)

    # ---- checkpoint plumbing -------------------------------------------

    def _path(self, stage: str) -> str | None:
        return os.path.join(self.run_dir, stage) if self.run_dir else None

    def _done(self, stage: str) -> bool:
        p = self._path(stage)
        return bool(p) and os.path.exists(os.path.join(p, "_SUCCESS"))

    def _check_settings(self) -> None:
        """Record the settings a run dir is computed from, and refuse one
        computed from other (or unrecorded) settings: resuming it would hand
        back their clusters."""
        if not self.run_dir:
            return
        path = os.path.join(self.run_dir, "settings.json")
        # through JSON, so tuples compare equal to the lists read back
        want = json.loads(json.dumps({
            "cfg": asdict(self.cfg),
            "enable_span": self.enable_span,
            "keep_policy": self.keep_policy,
        }))
        have = None
        if os.path.exists(path):
            with open(path) as f:
                have = json.load(f)
        elif not any(self._done(s) for s in self.STAGES):
            os.makedirs(self.run_dir, exist_ok=True)
            with open(path, "w") as f:
                json.dump(want, f)
            return
        if have != want:
            raise ValueError(
                f"run dir {self.run_dir} was computed with settings {have}, not {want}"
            )

    def _materialize(self, stage: str, df: DataFrame | None, aggs=()) -> DataFrame:
        """Write-then-read a stage (checkpoint) or localCheckpoint in-memory.

        The write is the lineage cut AND the resume point; reading back means
        downstream stages consume the exact persisted bytes, so resume is
        byte-identical by construction.

        Recorded seconds are the full SECTION wall — elapsed since the
        previous stage finished, not just this write — so eager work done
        while the stage's DataFrame is constructed (tier stats/UDF-table
        localCheckpoints) is attributed to the stage that triggered it and
        per-stage walls sum to the run wall.

        ``aggs``: extra named aggregate columns observed with the row count
        (one ``agg`` job on resume); their values join the lineage row.
        """
        t0 = self._section_t0
        p = self._path(stage)
        exprs = (F.count(F.lit(1)).alias("rows"), *aggs)
        if self._done(stage):
            out = self.spark.read.parquet(p)
            seen = out.agg(*exprs).first().asDict()
            self._record(stage, seen.pop("rows"), time.monotonic() - t0, True, **seen)
            return out
        # the row count rides the stage's own action (write or checkpoint)
        # instead of a count() job over the result
        obs = Observation()
        df = df.observe(obs, *exprs)
        if p:
            df.write.mode("overwrite").parquet(p)
            out = self.spark.read.parquet(p)
        else:
            out = df.localCheckpoint()
        seen = dict(obs.get)
        self._record(stage, seen.pop("rows"), time.monotonic() - t0, False, **seen)
        return out

    def _record(self, stage: str, rows: int, seconds: float, resumed: bool, **observed):
        from dedup.util import shuffle_delta, shuffle_totals

        self._section_t0 = time.monotonic()  # next stage's section starts now
        entry = {
            "run_id": self._run_id,
            "stage": stage,
            "rows": rows,
            "seconds": round(seconds, 3),
            "resumed": resumed,
            "n_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            **observed,
        }
        # Per-SECTION shuffle/IO byte deltas from the app status store
        # (VERDICT r04 #2: bytes are host-noise-immune where walls are not).
        # Same attribution rule as the walls: deltas follow stage COMPLETION
        # order, so a section's bytes include whatever span-thread jobs
        # finished during it — exact per-run totals, approximate per-stage
        # split.
        snap = shuffle_totals(self.spark)
        if snap and self._shuffle_snap:
            entry["shuffle"] = shuffle_delta(self._shuffle_snap, snap)
        if snap:
            self._shuffle_snap = snap
        self._lineage.append(entry)
        self.log(f"stage {stage}: rows={rows} sec={seconds:.2f} resumed={resumed}")
        if self.run_dir:
            os.makedirs(self.run_dir, exist_ok=True)
            with open(os.path.join(self.run_dir, "lineage.jsonl"), "a") as f:
                f.write(json.dumps(entry) + "\n")

    # ---- stages ---------------------------------------------------------

    def run(self, turns: DataFrame) -> PipelineResult:
        from dedup.util import persistent_rdd_ids, shuffle_totals

        cfg = self.cfg
        self._check_settings()
        metrics: dict = {}
        # per-run state: a second run() on this instance starts afresh
        self._run_id = uuid.uuid4().hex
        self._lineage: list[dict] = []
        self._section_t0 = time.monotonic()
        self._shuffle_snap = shuffle_totals(self.spark)
        self._pre_ids = persistent_rdd_ids(self.spark)

        # S8 ingest-reject accounting rides the assemble action via observe()
        # — no extra corpus scan; skipped on resume (the action never fires)
        rej_obs = None
        if not self._done("conversations"):
            conv_df, rej_obs = assemble_conversations(turns, cfg, observe_rejects=True)
        else:
            conv_df = assemble_conversations(turns, cfg)
        doc_bytes = F.coalesce(F.sum(F.octet_length("doc")), F.lit(0)).alias("doc_bytes")
        conv = self._materialize("conversations", conv_df, [doc_bytes])
        if rej_obs is not None:
            # an empty input can be optimized down to an empty relation that
            # never reports the observation, so reading it would fail: count
            # with the same exprs in a plain aggregation instead
            if self._lineage[-1]["rows"] > 0:
                metrics["ingest_rejects"] = rej_obs.get
            else:
                metrics["ingest_rejects"] = (
                    turns.agg(*reject_metrics_exprs(cfg)).first().asDict()
                )
            self.log(f"ingest rejects: {metrics['ingest_rejects']}")

        # Placement, picked once from the observed doc bytes: a small
        # conversations stage is collected as Arrow once and the rest of the
        # pass runs on the driver. A pass that resumes a later stage takes
        # the DataFrame pass, which reads each stage back from disk.
        metrics["doc_bytes"] = self._lineage[-1]["doc_bytes"]
        clusters = None
        resumes = any(self._done(s) for s in self.STAGES[1:])
        if not resumes and metrics["doc_bytes"] <= _DRIVER_DOC_BYTES:
            docs = conv.select(
                "conv_id", "doc", "n_turns", "total_chars", "first_ts"
            ).toArrow()
            clusters = self._driver_pass(docs.sort_by("conv_id"), metrics)
        metrics["kernels_driver"] = clusters is not None
        if clusters is None:
            clusters = self._dataframe_pass(conv, metrics)
        return self._finish(clusters, metrics)

    def _driver_pass(self, docs: pa.Table, metrics: dict) -> DataFrame | None:
        """Every stage after assembly from ``docs`` (the conversations
        stage, sorted by ``conv_id``) by ``dedup.driver_pass``; Spark only
        writes each stage from Arrow. Returns the clusters, or ``None`` —
        before any stage is written — when the LSH or anchor pairs exceed
        ``lsh._DRIVER_PAIRS``."""
        cfg = self.cfg
        ids = docs.column("conv_id").combine_chunks()
        n = len(ids)
        texts = docs.column("doc").to_pylist()

        def write(stage: str, schema: str, **cols) -> DataFrame:
            return self._materialize(stage, self.spark.createDataFrame(pa.table(cols), schema))

        sig = doc_signatures(texts, cfg)
        lsh = driver_pass.lsh_pairs(sig, cfg)
        span = None
        if self.enable_span and lsh is not None:
            span = driver_pass.span_candidates(texts, cfg)
        if lsh is None or (self.enable_span and span is None):
            return None
        metrics.update(lsh_driver=True, lsh_overflow_buckets=lsh[2])
        if span is not None:
            metrics.update(span_driver=True, span_overflow_anchors=span[2])

        write(
            "signatures",
            "conv_id string, minhash array<int>",
            conv_id=ids,
            minhash=pa.ListArray.from_arrays(
                pa.array(np.arange(0, sig.size + 1, cfg.num_perm, dtype=np.int32)),
                pa.array(sig.reshape(-1)),
            ),
        )
        a, b, is_exact = driver_pass.pair_union(n, driver_pass.exact_pairs(docs, cfg), lsh[:2])
        source = np.where(is_exact, "exact", "lsh")
        write(
            "pairs",
            "conv_a string, conv_b string, source string",
            conv_a=ids.take(a),
            conv_b=ids.take(b),
            source=source,
        )

        keep, sim = driver_pass.verify(a, b, is_exact, sig, texts, cfg)
        a, b, sim, source = a[keep], b[keep], sim[keep], source[keep]
        if span is not None:
            # as in the DataFrame pass, LCS runs only on the candidates no
            # cheaper tier accepted; a span edge has no similarity
            ca, cb = span[:2]
            new = ~np.isin(ca * n + cb, a * n + b)
            ca, cb = ca[new], cb[new]
            ok = driver_pass.span_verified(ca, cb, texts, cfg)
            n_span = int(ok.sum())
            a, b = np.concatenate([a, ca[ok]]), np.concatenate([b, cb[ok]])
            sim = np.concatenate([sim, np.full(n_span, np.nan)])
            source = np.concatenate([source, np.full(n_span, "span")])
        metrics["edges_by_source"] = {s: int((source == s).sum()) for s in _SOURCES}
        write(
            "edges",
            "conv_a string, conv_b string, source string, similarity double",
            conv_a=ids.take(a),
            conv_b=ids.take(b),
            source=source,
            similarity=pa.array(sim, mask=np.isnan(sim)),
        )

        nodes, roots, rounds = driver_pass.components(a, b, n)
        self.log(f"cc driver finish: {a.size} edges, {rounds} union-find rounds")
        metrics.update(cc_edges=int(a.size), cc_driver=True, cc_rounds=0)
        meta = docs.select(["first_ts", "total_chars"]).take(nodes)
        return self._clusters_stage(self.spark.createDataFrame(pa.table({
            "conv_id": ids.take(nodes),
            "cluster_id": ids.take(roots),
            "first_ts": meta.column("first_ts"),
            "total_chars": meta.column("total_chars"),
            "is_representative": representatives(roots, meta, self.keep_policy),
        }), _CLUSTERS_SCHEMA))

    def _dataframe_pass(self, conv: DataFrame, metrics: dict) -> DataFrame:
        """Every stage after assembly as Spark DataFrames, the tiers' Python
        kernels in pandas UDFs. Resume guards: a tier's kernels are never
        even constructed when the stage consuming them is already on disk."""
        cfg = self.cfg
        sigs_done, pairs_done, edges_done = (self._done(s) for s in self.STAGES[1:4])
        overflow_dfs: dict[str, DataFrame] = {}

        # The span candidates read only the conversations stage and are
        # first needed by the edge stage: one background thread builds them
        # (anchor UDF and joins; their eager jobs overlap the signature,
        # pairs and verify work below) while this thread runs the stages in
        # order.
        span = None
        if self.enable_span and not edges_done:
            ex = ThreadPoolExecutor(max_workers=1)
            span = ex.submit(
                span_candidate_pairs, conv, cfg, input_materialized=True, metrics_out=metrics
            )
            ex.shutdown(wait=False)  # the thread exits when the task ends

        sigs = self._materialize("signatures", None if sigs_done else signatures(conv, cfg))
        all_pairs = None
        if not pairs_done:
            # dedup=False: the pair-union groupBy is the single pair-dedup
            # shuffle for every tier — a per-tier dropDuplicates would
            # shuffle the same pair set twice
            lsh_pairs, overflow_dfs["lsh_overflow_buckets"] = candidate_pairs(
                sigs, cfg, dedup=False, metrics_out=metrics
            )
            all_pairs = self._dedup_pair_union([exact_pairs(conv, cfg), lsh_pairs])
        pairs = self._materialize("pairs", all_pairs)

        if edges_done:
            edges = self._materialize("edges", None)
        else:
            cheap_edges = verify_pairs(pairs, sigs, cfg, conversations=conv)
            if span is not None:
                # Span tier verifies LAST, against the already-accepted edge
                # set: exact copies and near-dups share most anchors and
                # would all become span candidates, but their LCS
                # verification is pure waste — the cheaper tiers already
                # accepted them. Anti-join keeps LCS (the most expensive
                # verifier) for pairs only the span tier can see. Final
                # edge SET is unchanged.
                cheap_edges = cheap_edges.localCheckpoint()
                span_cand, overflow_dfs["span_overflow_anchors"] = span.result()
                new_cand = span_cand.join(
                    cheap_edges.select("conv_a", "conv_b"), ["conv_a", "conv_b"], "left_anti"
                )
                span_edges = (
                    verify_span_pairs(new_cand, conv, cfg)
                    .drop("span_len")
                    .withColumn("similarity", F.lit(None).cast("double"))
                    .select("conv_a", "conv_b", "source", "similarity")
                )
                cheap_edges = cheap_edges.unionByName(span_edges)

            # the per-source edge funnel rides the edge stage's own action
            edge_obs = Observation("edges_by_source")
            edges = self._materialize(
                "edges",
                cheap_edges.observe(
                    edge_obs,
                    *(F.count(F.when(F.col("source") == s, 1)).alias(s) for s in _SOURCES),
                ),
            )
            metrics["edges_by_source"] = edge_obs.get

        # Overflow metrics (no silent caps — the north rule): all tier
        # overflow counts are batched into ONE tiny union-agg job instead of
        # one standalone .count() per tier; it must run before the
        # scratch-checkpoint cleanup frees the blocks the overflow lineage
        # reads.
        if overflow_dfs:
            aggs = None
            for name, df in overflow_dfs.items():
                one = df.select(
                    F.lit(name).alias("metric"),
                    F.count(F.lit(1)).cast("long").alias("value"),
                )
                aggs = one if aggs is None else aggs.unionByName(one)
            for row in aggs.collect():
                metrics[row["metric"]] = row["value"]

        if self._done("clusters"):
            return self._materialize("clusters", None)  # loads from disk
        # edge count from the stage lineage (observed on the edge stage's
        # own action, or counted on resume): above CC's driver bound it
        # skips the driver-regime probe
        n_edges = next(e["rows"] for e in self._lineage if e["stage"] == "edges")
        cc = connected_components(
            edges.select("conv_a", "conv_b"),
            cfg.cc_max_iters,
            log=self.log,
            n_edges=n_edges,
            input_deduped=True,  # edge stage is one row per pair
            metrics_out=metrics,  # cc_edges / cc_driver / cc_rounds
        )
        return self._clusters_stage(select_representatives(cc, conv, self.keep_policy))

    def _dedup_pair_union(self, pair_dfs):
        all_pairs = pair_dfs[0]
        for p in pair_dfs[1:]:
            all_pairs = all_pairs.unionByName(p)
        # One row per undirected pair. Only 'exact' pairs skip verify_pairs,
        # so a pair exact proposed must keep that source: min() does,
        # because "exact" sorts before every other tier's name.
        return all_pairs.groupBy("conv_a", "conv_b").agg(F.min("source").alias("source"))

    def _clusters_stage(self, df: DataFrame) -> DataFrame:
        """Materialize the clusters stage, then free every scratch
        checkpoint this run pinned (tier tables, CC rounds, earlier stages)
        EXCEPT the blocks backing the returned clusters DataFrame — leaked
        blocks measurably slow the session's next job."""
        from dedup.util import persistent_rdd_ids, unpersist_ids

        before = persistent_rdd_ids(self.spark)
        clusters = self._materialize("clusters", df)
        now = persistent_rdd_ids(self.spark)
        cluster_ids = now - before
        freed = unpersist_ids(self.spark, (now - self._pre_ids) - cluster_ids)
        self.log(f"freed {freed} scratch checkpoint RDDs")
        return clusters

    def _finish(self, clusters: DataFrame, metrics: dict) -> PipelineResult:
        cfg = self.cfg
        # Caps audit (VERDICT r04 #7): every configured cap/width that can
        # bind during a run is named in the metrics output next to the
        # overflow counters it governs, so a 100× corpus run is auditable
        # from its JSON alone (which caps were in force, which ones bound).
        metrics["caps"] = {
            "band_bucket_cap": cfg.band_bucket_cap,
            "span_doc_cap": cfg.span_doc_cap,
            "span_anchor_mod": cfg.span_anchor_mod,
            "min_span_len": cfg.min_span_len,
            "cc_max_iters": cfg.cc_max_iters,
        }
        metrics["stages"] = self._lineage
        if self.run_dir:
            with open(os.path.join(self.run_dir, "metrics.json"), "w") as f:
                json.dump(metrics, f, default=str, indent=1)
        return PipelineResult(clusters=clusters, stages=[
            StageResult(e["stage"], e["rows"], e["seconds"], e["resumed"]) for e in self._lineage
        ], metrics=metrics)
