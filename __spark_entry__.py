"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Every query exercises a dedup-engine operator (SURVEY.md §2) over the
driver's parquet tables; transcripts are derived from ``documents``
identically in Spark (dedup.driver_tables.derive_transcripts) and DuckDB
(TRANSCRIPTS_SQL CTE) so the oracle sees the same input.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dedup.config import DedupConfig  # noqa: E402
from dedup.driver_tables import (  # noqa: E402
    CONVERSATIONS_SQL,
    MEDIA_DUPS_SQL,
    TRANSCRIPTS_SQL,
    derive_transcripts,
)

_T = TRANSCRIPTS_SQL
_TC = TRANSCRIPTS_SQL + CONVERSATIONS_SQL


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup pipeline (exact+MinHash/LSH+span → verify →
    connected components → keep policy) on sf0.001 transcripts."""
    from dedup.pipeline import DedupPipeline

    turns = derive_transcripts(spark, "/root/testdata/sf0.001")
    cfg = DedupConfig(min_span_len=150)
    result = DedupPipeline(spark, cfg, keep_policy="first_id").run(turns)
    return result.clusters.select(
        "conv_id", "cluster_id", "is_representative"
    ).orderBy("cluster_id", "conv_id")


# ---------------------------------------------------------------------------
# queries — each (spark, sf_dir) -> DataFrame, exercising one operator
# ---------------------------------------------------------------------------


def _conversations(spark, sf_dir):
    from dedup.assemble import assemble_conversations

    return assemble_conversations(derive_transcripts(spark, sf_dir))


def q_assemble(spark, sf_dir):
    """N1: conversation assembly under stable turn ordering."""
    return _conversations(spark, sf_dir).select(
        "conv_id", "n_turns", "total_chars", "doc"
    )


def q_exact_dup_clusters(spark, sf_dir):
    """A2+F4 strict: groups of byte-identical conversations."""
    from dedup.exact import exact_clusters

    clus = exact_clusters(_conversations(spark, sf_dir), DedupConfig(strict=True))
    return clus.select(
        "conv_id", F.col("content_hash").alias("group_hash")
    )


def q_prefix_dup_clusters(spark, sf_dir):
    """A2 fast mode (H2): prefix-hash grouping at prefix_len=64."""
    from dedup.exact import exact_clusters

    cfg = DedupConfig(strict=False, prefix_len=64)
    clus = exact_clusters(_conversations(spark, sf_dir), cfg)
    return clus.select("conv_id", F.col("prefix_hash").alias("group_hash"))


def q_block_candidates(spark, sf_dir):
    """A1+F3: multi-member (n_turns,total_chars) blocks — the conversations
    that survive singleton pruning and reach the fingerprint stage."""
    from dedup.exact import prune_singleton_blocks, with_block_key

    conv = with_block_key(_conversations(spark, sf_dir))
    return prune_singleton_blocks(conv).select("conv_id", "n_turns", "total_chars")


def q_keep_policy(spark, sf_dir):
    """N10: exact-dup clusters + representative selection (first_id policy —
    derived transcripts carry null ts)."""
    from dedup.cc import connected_components
    from dedup.exact import exact_pairs
    from dedup.keep import select_representatives

    conv = _conversations(spark, sf_dir)
    pairs = exact_pairs(conv, DedupConfig(strict=True))
    cc = connected_components(pairs.select("conv_a", "conv_b"))
    rep = select_representatives(cc, conv, policy="first_id")
    return rep.select("conv_id", "cluster_id", "is_representative")


def q_group_count(spark, sf_dir):
    """A4: the printed-group counter (reference keeps a running count of
    groups as it prints; here it is the count of distinct duplicate groups
    the strict exact tier reports) — one row, one long."""
    from dedup.exact import exact_clusters

    clus = exact_clusters(_conversations(spark, sf_dir), DedupConfig(strict=True))
    return clus.agg(F.countDistinct("dup_key").cast("long").alias("n_groups"))


def q_min_size_filter(spark, sf_dir):
    """F1+H7: min-size predicate over assembled conversations, given as a
    byte-size literal so the driver path exercises the H7 parser
    ("300b" → 300 chars)."""
    from dedup.assemble import assemble_conversations

    cfg = DedupConfig(min_size="300b")
    return assemble_conversations(derive_transcripts(spark, sf_dir), cfg).select(
        "conv_id", "total_chars"
    )


def q_ingest_rejects(spark, sf_dir):
    """S8: error-tolerant-ingest accounting as a one-row aggregation — the
    same expressions the pipeline rides on the assemble action via
    ``observe()`` (dedup.assemble.reject_metrics_exprs), run standalone so
    the DuckDB oracle can verify the counts."""
    from dedup.assemble import reject_metrics_exprs

    cfg = DedupConfig(exclude_tools=("src2",), max_turn_idx=3)
    turns = derive_transcripts(spark, sf_dir)
    return turns.agg(*reject_metrics_exprs(cfg))


def q_tool_filter(spark, sf_dir):
    """S2/S3: include/exclude tool filters composing (include minus exclude)."""
    from dedup.assemble import assemble_conversations

    cfg = DedupConfig(include_tools=("src1", "src2", "src3"), exclude_tools=("src2",))
    return assemble_conversations(derive_transcripts(spark, sf_dir), cfg).select(
        "conv_id", "n_turns", "total_chars"
    )


def q_turn_depth_bounds(spark, sf_dir):
    """S4: turn_idx depth bounds (min 1, max 2)."""
    from dedup.assemble import assemble_conversations

    cfg = DedupConfig(min_turn_idx=1, max_turn_idx=2)
    return assemble_conversations(derive_transcripts(spark, sf_dir), cfg).select(
        "conv_id", "n_turns", "doc"
    )


def q_delete_rewrite(spark, sf_dir):
    """S10: anti-join delete of non-representative duplicates; returns the
    surviving turns count per conversation."""
    from dedup.cc import connected_components
    from dedup.exact import exact_pairs
    from dedup.keep import apply_delete_rewrite, losers, select_representatives

    turns = derive_transcripts(spark, sf_dir)
    conv = _conversations(spark, sf_dir)
    pairs = exact_pairs(conv, DedupConfig(strict=True))
    cc = connected_components(pairs.select("conv_a", "conv_b"))
    rep = select_representatives(cc, conv, policy="first_id")
    kept = apply_delete_rewrite(turns, losers(rep))
    return kept.groupBy("conv_id").agg(F.count(F.lit(1)).cast("long").alias("n_turns"))


def q_duplicate_report(spark, sf_dir):
    """S9+H4+H5+H6+A3+A5: human-formatted duplicate report — conv_id padded
    to the global max id width (A3 running max), per-cluster width (A5),
    human filesize (H5), formatted mtime (H6) — over exact-dup clusters."""
    from dedup.cc import connected_components
    from dedup.exact import exact_pairs
    from dedup.keep import formatted_report, select_representatives

    conv = _conversations(spark, sf_dir)
    pairs = exact_pairs(conv, DedupConfig(strict=True))
    cc = connected_components(pairs.select("conv_a", "conv_b"))
    rep = select_representatives(cc, conv, policy="first_id")
    return formatted_report(rep, conv)


def q_token_stats(spark, sf_dir):
    """Text analysis: whitespace token counts + char counts per document."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def q_quality_scores(spark, sf_dir):
    """Text analysis: length/punct/stopword quality signals per document."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.length("text").cast("double")
    no_punct = F.regexp_replace(F.col("text"), r"[.,!?;:]", "")
    no_the = F.replace(F.col("text"), F.lit(" the "), F.lit(""))
    return docs.select(
        "doc_id",
        F.round((n - F.length(no_punct)) / n, 6).alias("punct_ratio"),
        F.round(
            (n - F.length(no_the)) / F.lit(6.0) / F.size(F.split(F.col("text"), " ", -1)),
            6,
        ).alias("stopword_ratio"),
        F.round(n / F.size(F.split(F.col("text"), " ", -1)), 6).alias("avg_token_len"),
    )


def q_events_hourly(spark, sf_dir):
    """H6 analog: timestamp formatting + grouped aggregation on events."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_ann_topk(spark, sf_dir):
    """Similarity search: brute-force cosine top-10 neighbors for query
    vectors (vec_id < 5) over the whole embeddings table."""
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    sims = (
        q.crossJoin(emb)
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot / (norm(F.col("qv")) * norm(F.col("v")))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def q_neardup_docs_minhash(spark, sf_dir):
    """N2-N6: MinHash/LSH candidate generation + EXACT-Jaccard verification
    (cfg.exact_verify) — catches the planted _xd/_nd/_sp copies. Oracled:
    the DuckDB side computes true char-9-gram Jaccard over all pairs; the
    Spark side reports LSH candidates passing the same Jaccard — equal sets
    because at threshold 0.7 the 32×4 banding's per-pair miss probability
    is ≤1.5e-4 (verified exact-equal at sf0.01/sf0.001; deterministic seed)."""
    from dedup.lsh import candidate_pairs
    from dedup.minhash import with_minhash
    from dedup.verify import verify_pairs

    cfg = DedupConfig(exact_verify=True)
    conv = _conversations(spark, sf_dir)
    # one cut: banding, the membership join and verify_pairs all read sigs,
    # and without it the signature UDF would run once per consumer
    sigs = with_minhash(conv, cfg).select("conv_id", "minhash").localCheckpoint()
    pairs, _ = candidate_pairs(sigs, cfg)
    edges = verify_pairs(pairs, sigs, cfg, conversations=conv)
    return edges.select("conv_a", "conv_b", F.round("similarity", 6).alias("similarity"))


def q_simhash_turn_pairs(spark, sf_dir):
    """N8: near-exact turn pairs across conversations, via the SQL-mirrorable
    md5-gram SimHash variant (same chunk-banding + Hamming dataflow as the
    production numpy kernel; the oracle recomputes the fingerprint
    bit-for-bit in DuckDB). Buckets stay far below band_bucket_cap at
    oracle scale, so the star-edge overflow path cannot diverge."""
    from dedup.simhash import simhash_turn_pairs, with_turn_simhash_md5

    turns = derive_transcripts(spark, sf_dir)
    sh = with_turn_simhash_md5(turns)
    pairs, _overflow = simhash_turn_pairs(sh)
    return pairs.select("conv_a", "turn_a", "conv_b", "turn_b", "hamming")


def q_span_pairs(spark, sf_dir):
    """N9: long-shared-span pairs (min_span_len=150) — catches the planted
    _sp re-wrapped copies. Oracled: LCS(a,b) ≥ L ⟺ a and b share an
    L-char gram, so the DuckDB side self-joins 150-grams of the normalized
    docs; span_len itself is covered by pytest (test_lcs_binary_search)."""
    from dedup.suffix import span_candidate_pairs, verify_span_pairs

    cfg = DedupConfig(min_span_len=150, span_anchor_mod=16)
    conv = _conversations(spark, sf_dir)
    cand, _ = span_candidate_pairs(conv, cfg)
    return verify_span_pairs(cand, conv, cfg).select("conv_a", "conv_b")


def q_text_analysis(spark, sf_dir):
    """Language-ID heuristic + BPE-ish token estimate per document."""
    from dedup.textfns import bpe_ish_token_count, lang_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_pred"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs through the BUCKETED scale path
    (axis-sign LSH candidates + exact rescoring — no cartesian product in
    the plan; threshold 0.45 because the synthetic embeddings top out at
    cosine 0.51; real corpora would use ~0.95). The DuckDB oracle mirrors
    the bucket join exactly; recall vs brute force is asserted in pytest."""
    from dedup.similarity import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return embedding_neardup_pairs(emb, threshold=0.45, mode="lsh", dim=64)


def q_ann_lsh_topk(spark, sf_dir):
    """Multi-table LSH approximate top-5 with axis-sign planes — the bucket
    assignment is pure sign arithmetic, so the DuckDB oracle reproduces the
    candidate set (and therefore the ranking) exactly."""
    from dedup.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return lsh_topk(emb, k=5, dim=64, planes="axis").select(
        "query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank"
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-10 with a seeded-k-means codebook: Lloyd's refinement
    (2 fixed iterations, deterministic init from the first 512 id-ordered
    vectors — dedup.similarity.kmeans_codebook_parquet) computed driver-side
    in numpy, then argmax-dot cell assignment, 4-cell probe, exact cosine
    rescore. Both this query and the DuckDB oracle consume the SAME literal
    centroids, so there is no cross-engine FP-aggregation divergence."""
    from dedup.similarity import ivf_topk, kmeans_codebook_parquet

    cents = kmeans_codebook_parquet(
        f"{sf_dir}/embeddings.parquet", n_centroids=16, iters=2, sample_n=512
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return ivf_topk(emb, k=10, n_centroids=16, n_probe=4, centroids=cents).select(
        "query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank"
    )


def q_doc_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (per-window rolling minima — real
    positional coverage, detects containment); pure JVM expressions,
    mirrored bit-for-bit by the DuckDB oracle."""
    from dedup.textfns import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_fingerprints(docs, k=16, w=8)


def q_media_dedup(spark, sf_dir):
    """Multimodal plumbing: binary media derived from the driver's documents
    parquet (planted every-7th duplicates), decoded via the real mapInPandas
    feature pipeline, grouped by content hash; oracled via md5."""
    from dedup.driver_tables import derive_media
    from dedup.multimodal import decode_media, media_exact_dups

    media = derive_media(spark, sf_dir)
    return media_exact_dups(decode_media(media))


#: fixed run_dir for the lineage/resume queries — the oracle SQL is a static
#: string, so the path cannot depend on sf_dir; the query wipes + rebuilds it
_LINEAGE_RUN_DIR = "/tmp/dedup_lineage_run"
_lineage_memo: dict[str, list[dict]] = {}


def _lineage_double_run(spark, sf_dir) -> list[dict]:
    """Execute the pipeline twice into ``_LINEAGE_RUN_DIR`` (fresh, then
    resumed — operator F2/N11: every stage of run 2 loads its _SUCCESS
    checkpoint instead of recomputing) and return run 2's in-memory lineage.
    Memoized per (process, sf_dir): both lineage queries share one run."""
    import shutil

    from dedup.pipeline import DedupPipeline

    if sf_dir in _lineage_memo:
        return _lineage_memo[sf_dir]
    shutil.rmtree(_LINEAGE_RUN_DIR, ignore_errors=True)
    cfg = DedupConfig(min_span_len=150)
    turns = derive_transcripts(spark, sf_dir)
    DedupPipeline(spark, cfg, run_dir=_LINEAGE_RUN_DIR).run(turns)
    r2 = DedupPipeline(spark, cfg, run_dir=_LINEAGE_RUN_DIR).run(turns)
    _lineage_memo.clear()  # one sf at a time: the run_dir is shared
    _lineage_memo[sf_dir] = [
        {"stage": s.name, "rows": s.rows, "resumed": s.resumed} for s in r2.stages
    ]
    return _lineage_memo[sf_dir]


def q_pipeline_lineage(spark, sf_dir):
    """N11: the persisted per-stage lineage table (lineage.jsonl) of a
    fresh-then-resumed run pair — both runs' rows, read back through Spark
    exactly as a monitoring job would; the oracle reads the same table via
    DuckDB's JSON reader, pinning that the pipeline's lineage is a real,
    engine-neutral table (reference analog: the per-record FileState
    markers, /root/reference/src/fileinfo.rs:12-16)."""
    import os as _os

    _lineage_double_run(spark, sf_dir)
    return (
        spark.read.json(_os.path.join(_LINEAGE_RUN_DIR, "lineage.jsonl"))
        .select("stage", "rows", "resumed")
    )


def q_pipeline_resume(spark, sf_dir):
    """F2: resume skips already-processed stages — run 2's IN-MEMORY lineage
    (what the PipelineResult reports) must say every stage was resumed with
    the row count run 1 persisted; the oracle cross-checks it against the
    on-disk lineage by joining run-2 rows to run-1 rows on (stage, rows)."""
    rows = _lineage_double_run(spark, sf_dir)
    return spark.createDataFrame(
        [(r["stage"], r["rows"], r["resumed"]) for r in rows],
        "stage string, rows long, resumed boolean",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "assemble": q_assemble,
        "exact_dup_clusters": q_exact_dup_clusters,
        "prefix_dup_clusters": q_prefix_dup_clusters,
        "block_candidates": q_block_candidates,
        "keep_policy": q_keep_policy,
        "group_count": q_group_count,
        "duplicate_report": q_duplicate_report,
        "min_size_filter": q_min_size_filter,
        "ingest_rejects": q_ingest_rejects,
        "tool_filter": q_tool_filter,
        "turn_depth_bounds": q_turn_depth_bounds,
        "delete_rewrite": q_delete_rewrite,
        "token_stats": q_token_stats,
        "quality_scores": q_quality_scores,
        "events_hourly": q_events_hourly,
        "ann_topk": q_ann_topk,
        "neardup_minhash": q_neardup_docs_minhash,
        "simhash_turn_pairs": q_simhash_turn_pairs,
        "span_pairs": q_span_pairs,
        "text_analysis": q_text_analysis,
        "embedding_neardup": q_embedding_neardup,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "doc_fingerprints": q_doc_fingerprints,
        "media_dedup": q_media_dedup,
        "pipeline_lineage": q_pipeline_lineage,
        "pipeline_resume": q_pipeline_resume,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect) — same column names, same values
# ---------------------------------------------------------------------------

#: DuckDB mirror of dedup.minhash.NORM_PATTERN normalization
_NORM_SQL = r"regexp_replace(lower(doc), '[\s\x1c-\x1f]+', ' ', 'g')"


def _neardup_minhash_oracle() -> str:
    """True byte-9-gram Jaccard over all conversation pairs ≥ 0.7 — what the
    Spark side's LSH + exact-verify computes (see q_neardup_docs_minhash).

    The Spark side shingles UTF-8 BYTES (dedup.minhash.shingle_hashes:
    9-byte windows at every byte offset, one whole-text shingle when
    shorter). DuckDB 1.0 has no BLOB substring, so the oracle windows the
    HEX encoding — substr(hex, 2i-1, 18) is exactly the i-th 9-byte window
    — making the mirror byte-exact for non-ASCII text too (the r03 ASCII
    fixture constraint is engineered away, not documented around)."""
    return _TC + f""",
nrm AS (SELECT conv_id, hex(encode({_NORM_SQL})) AS hx,
               octet_length(encode({_NORM_SQL})) AS nb
        FROM conversations),
sh AS (
    SELECT DISTINCT conv_id, substr(hx, 2 * i - 1, 18) AS g
    FROM nrm, unnest(generate_series(1, greatest(nb - 8, 1))) AS t(i)
),
cnt AS (SELECT conv_id, count(*) AS n FROM sh GROUP BY conv_id),
inter AS (
    SELECT a.conv_id AS conv_a, b.conv_id AS conv_b, count(*) AS i
    FROM sh a JOIN sh b ON a.g = b.g AND a.conv_id < b.conv_id
    GROUP BY 1, 2
)
SELECT conv_a, conv_b, round(i / (ca.n + cb.n - i), 6) AS similarity
FROM inter JOIN cnt ca ON conv_a = ca.conv_id JOIN cnt cb ON conv_b = cb.conv_id
WHERE i / (ca.n + cb.n - i) >= 0.7
"""


def _span_pairs_oracle() -> str:
    """LCS(a, b) ≥ 150 BYTES ⟺ the normalized docs share a 150-byte gram.

    The Spark span tier is byte-level throughout (suffix.py rolls hashes
    over the UTF-8 encoding at every byte offset), so the oracle windows
    octets via the hex encoding — substr(hex, 2i-1, 300) is the i-th
    150-byte window — byte-exact for non-ASCII text (no char=byte fixture
    assumption). Scope constraints mirrored from the Spark side:
    - span_doc_cap: suffix.doc_anchor_hashes truncates each normalized doc to 1M CHARS
      (py_normalize(doc)[:cap] — a Python char slice, before encoding);
      the substr(nd, 1, 1000000) below is DuckDB's char-based substr, the
      same slice, so a shared span past the cap diverges in NEITHER
      engine. Driver docs are ~kB-sized; the clause exists so the
      equality is by construction, not by fixture luck.
    - sampled-anchor recall: the Spark side requires ≥2 sampled anchors
      (hash % span_anchor_mod == 0) inside the shared span. At
      min_span_len=150 and mod=16 (the q_span_pairs config) a 150-byte
      span contains ≥ ~9 expected anchors, so recall of true spans is
      effectively 1 at this fixture scale; the pytest suite covers the
      anchor-sampling recall bound directly."""
    return _TC + f""",
nrm AS (SELECT conv_id, hex(encode(substr({_NORM_SQL}, 1, 1000000))) AS hx,
               octet_length(encode(substr({_NORM_SQL}, 1, 1000000))) AS nb
        FROM conversations),
g AS (
    SELECT DISTINCT conv_id, substr(hx, 2 * i - 1, 300) AS g
    FROM nrm, unnest(generate_series(1, nb - 149)) AS t(i)
    WHERE nb >= 150
)
SELECT DISTINCT a.conv_id AS conv_a, b.conv_id AS conv_b
FROM g a JOIN g b ON a.g = b.g AND a.conv_id < b.conv_id
"""


def _simhash_turn_pairs_oracle() -> str:
    """Recomputes the md5-gram SimHash chunks bit-for-bit (see
    dedup.simhash.turn_simhash_md5_sql), then pairs turns sharing ≥1 chunk
    (pigeonhole: Hamming ≤ 3 over 4 chunks ⇒ one chunk equal) with total
    Hamming ≤ 3."""
    from dedup.simhash import turn_simhash_md5_sql

    ham = " + ".join(
        f"bit_count(xor(CAST(a.c{c} AS BIGINT), CAST(b.c{c} AS BIGINT)))"
        for c in range(4)
    )
    chunk_eq = " OR ".join(f"a.c{c} = b.c{c}" for c in range(4))
    return (
        _T
        + turn_simhash_md5_sql()
        + f"""
SELECT a.conv_id AS conv_a, a.turn_idx AS turn_a,
       b.conv_id AS conv_b, b.turn_idx AS turn_b,
       CAST({ham} AS INT) AS hamming
FROM tsim a JOIN tsim b
  ON a.conv_id < b.conv_id AND ({chunk_eq})
WHERE {ham} <= 3
"""
    )


def _axis_buckets_sql(n_bits: int = 4, n_tables: int = 16, dim: int = 64) -> str:
    """CTE ``b(vec_id, table_id, bucket)`` mirroring the Spark axis-sign
    buckets (dedup.similarity.axis_bucket_exprs)."""
    from dedup.similarity import axis_bucket_sql

    exprs = axis_bucket_sql("v", dim, n_bits, n_tables)
    unions = "\n    UNION ALL ".join(
        f"SELECT vec_id, {t} AS table_id, {e} AS bucket FROM emb"
        for t, e in enumerate(exprs)
    )
    return f"""
WITH emb AS (SELECT vec_id, cast(embedding AS double[]) AS v FROM embeddings),
b AS (
    {unions}
)"""


def _ann_lsh_topk_oracle() -> str:
    return (
        _axis_buckets_sql()
        + """,
cand AS (
    SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
    FROM b x JOIN b y ON x.table_id = y.table_id AND x.bucket = y.bucket
    WHERE x.vec_id != y.vec_id
),
sims AS (
    SELECT query_id, neighbor_id, list_cosine_similarity(q.v, e.v) AS sim
    FROM cand JOIN emb q ON query_id = q.vec_id JOIN emb e ON neighbor_id = e.vec_id
)
SELECT query_id, neighbor_id, round(sim, 6) AS sim, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id) AS rank
    FROM sims
) WHERE rank <= 5
"""
    )


def _embedding_neardup_oracle() -> str:
    return (
        _axis_buckets_sql()
        + """,
cand AS (
    SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
    FROM b x JOIN b y ON x.table_id = y.table_id AND x.bucket = y.bucket
    WHERE x.vec_id < y.vec_id
)
SELECT id_a, id_b, round(list_cosine_similarity(a.v, e.v), 6) AS sim
FROM cand JOIN emb a ON id_a = a.vec_id JOIN emb e ON id_b = e.vec_id
WHERE round(list_cosine_similarity(a.v, e.v), 6) >= 0.45
"""
    )


def _ann_ivf_topk_oracle(k: int = 10, n_centroids: int = 16, n_probe: int = 4) -> str:
    """Mirror of q_ann_ivf_topk: the k-means codebook is computed ONCE by
    the same numpy routine the Spark query uses (identical id-ordered
    sample of the sf0.01 embeddings the driver registers) and planted here
    as a literal VALUES table — float repr round-trips to the exact double,
    so both engines score against bit-identical centroids."""
    import os as _os

    from dedup.similarity import kmeans_codebook_parquet

    sf_dir = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    cents = kmeans_codebook_parquet(
        f"{sf_dir}/embeddings.parquet", n_centroids=n_centroids, iters=2, sample_n=512
    )
    values = ",\n           ".join(
        f"({i}, [{', '.join(repr(v) for v in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
WITH emb AS (SELECT vec_id, cast(embedding AS double[]) AS v FROM embeddings),
cents AS (
    SELECT * FROM (VALUES {values}) AS t(cent_id, cv)
),
ranked AS (
    SELECT e.vec_id, e.v, c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.v, c.cv) DESC,
                                       c.cent_id) AS crank
    FROM emb e, cents c
),
assign AS (
    SELECT vec_id AS neighbor_id, v AS nv, cent_id AS cell
    FROM ranked WHERE crank = 1
),
probes AS (
    SELECT vec_id AS query_id, v AS qv, cent_id AS cell
    FROM ranked WHERE crank <= {n_probe}
),
sims AS (
    SELECT query_id, neighbor_id, list_cosine_similarity(qv, nv) AS sim
    FROM probes JOIN assign USING (cell)
    WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, round(sim, 6) AS sim, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id) AS rank
    FROM sims
) WHERE rank <= {k}
"""


def _doc_fingerprints_oracle() -> str:
    """Winnowing mirror: md5 per 16-gram of the normalized text, min over
    each 8-gram window (key = hash || zero-padded pos breaks ties toward
    the smaller position), distinct winners."""
    norm = _NORM_SQL.replace("(doc)", "(text)")
    return f"""
WITH nrm AS (SELECT doc_id, {norm} AS nd FROM documents),
keyed AS (
    SELECT doc_id, i AS pos,
           md5(substr(nd, i, 16)) || lpad(CAST(i AS VARCHAR), 10, '0') AS key
    FROM nrm, unnest(generate_series(1, greatest(length(nd) - 15, 1))) AS t(i)
),
sel AS (
    SELECT doc_id,
           min(key) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS winner
    FROM keyed
)
SELECT DISTINCT doc_id, CAST(substr(winner, 33, 10) AS INT) AS pos,
       substr(winner, 1, 32) AS fp_hash
FROM sel
"""


def oracle_sql() -> dict[str, str]:
    return {
        "assemble": _TC
        + "SELECT conv_id, n_turns, total_chars, doc FROM conversations",
        "exact_dup_clusters": _TC
        + """
        SELECT conv_id, group_hash FROM (
            SELECT conv_id,
                   md5(doc) AS group_hash,
                   count(*) OVER (PARTITION BY n_turns, total_chars, md5(doc)) AS grp_n,
                   count(*) OVER (PARTITION BY n_turns, total_chars) AS blk_n
            FROM conversations
        ) WHERE blk_n > 1 AND grp_n > 1
        """,
        "prefix_dup_clusters": _TC
        + """
        SELECT conv_id, group_hash FROM (
            SELECT conv_id,
                   md5(substr(doc, 1, 64)) AS group_hash,
                   count(*) OVER (PARTITION BY n_turns, total_chars,
                                  md5(substr(doc, 1, 64))) AS grp_n,
                   count(*) OVER (PARTITION BY n_turns, total_chars) AS blk_n
            FROM conversations
        ) WHERE blk_n > 1 AND grp_n > 1
        """,
        "block_candidates": _TC
        + """
        SELECT conv_id, n_turns, total_chars FROM (
            SELECT conv_id, n_turns, total_chars,
                   count(*) OVER (PARTITION BY n_turns, total_chars) AS blk_n
            FROM conversations
        ) WHERE blk_n > 1
        """,
        "keep_policy": _TC
        + """
        , dup AS (
            SELECT conv_id, n_turns, total_chars, md5(doc) AS h,
                   count(*) OVER (PARTITION BY n_turns, total_chars, md5(doc)) AS grp_n,
                   count(*) OVER (PARTITION BY n_turns, total_chars) AS blk_n
            FROM conversations
        )
        SELECT conv_id,
               min(conv_id) OVER (PARTITION BY n_turns, total_chars, h) AS cluster_id,
               conv_id = min(conv_id) OVER (PARTITION BY n_turns, total_chars, h)
                   AS is_representative
        FROM dup WHERE blk_n > 1 AND grp_n > 1
        """,
        "duplicate_report": _TC
        + """
        , dup AS (
            SELECT conv_id, total_chars, first_ts, md5(doc) AS h,
                   count(*) OVER (PARTITION BY n_turns, total_chars, md5(doc)) AS grp_n,
                   count(*) OVER (PARTITION BY n_turns, total_chars) AS blk_n,
                   n_turns
            FROM conversations
        ),
        clus AS (
            SELECT conv_id, total_chars, first_ts,
                   min(conv_id) OVER (PARTITION BY n_turns, total_chars, h)
                       AS cluster_id,
                   conv_id = min(conv_id) OVER (PARTITION BY n_turns, total_chars, h)
                       AS is_representative
            FROM dup WHERE blk_n > 1 AND grp_n > 1
        )
        SELECT cluster_id, conv_id,
               rpad(conv_id, (SELECT CAST(max(length(conv_id)) AS INT) FROM clus), ' ')
                   AS conv_id_padded,
               CAST(max(length(conv_id)) OVER (PARTITION BY cluster_id) AS INT)
                   AS group_width,
               is_representative,
               CASE WHEN total_chars >= 1e12
                        THEN CAST(round(total_chars / 1e12, 1) AS VARCHAR) || ' TB'
                    WHEN total_chars >= 1e9
                        THEN CAST(round(total_chars / 1e9, 1) AS VARCHAR) || ' GB'
                    WHEN total_chars >= 1e6
                        THEN CAST(round(total_chars / 1e6, 1) AS VARCHAR) || ' MB'
                    WHEN total_chars >= 1e3
                        THEN CAST(round(total_chars / 1e3, 1) AS VARCHAR) || ' KB'
                    ELSE CAST(total_chars AS VARCHAR) || ' B' END AS size_h,
               strftime(first_ts, '%Y-%m-%d %H:%M:%S') AS mtime_h
        FROM clus
        """,
        "group_count": _TC
        + """
        , blk AS (
            SELECT n_turns, total_chars, count(*) AS blk_n
            FROM conversations GROUP BY 1, 2
        ),
        grp AS (
            SELECT c.n_turns, c.total_chars, md5(doc) AS h, count(*) AS grp_n
            FROM conversations c JOIN blk USING (n_turns, total_chars)
            WHERE blk.blk_n > 1
            GROUP BY 1, 2, 3
        )
        SELECT cast(count(*) AS bigint) AS n_groups FROM grp WHERE grp_n > 1
        """,
        "min_size_filter": _TC
        + "SELECT conv_id, total_chars FROM conversations WHERE total_chars >= 300",
        "ingest_rejects": _T
        + """
        SELECT cast(count(*) AS bigint) AS raw_rows,
               cast(coalesce(sum(CASE WHEN conv_id IS NULL THEN 1 END), 0)
                    AS bigint) AS null_conv_id,
               cast(coalesce(sum(CASE WHEN turn_idx IS NULL THEN 1 END), 0)
                    AS bigint) AS null_turn_idx,
               cast(coalesce(sum(CASE WHEN text IS NULL THEN 1 END), 0)
                    AS bigint) AS null_text_repaired,
               cast(coalesce(sum(CASE WHEN NOT coalesce(
                        coalesce(tool, '') NOT IN ('src2') AND turn_idx <= 3,
                        TRUE) THEN 1 END), 0) AS bigint) AS filtered_out
        FROM transcripts
        """,
        "tool_filter": _T
        + """
        SELECT conv_id,
               cast(count(*) AS int) AS n_turns,
               cast(sum(length(text)) AS bigint) AS total_chars
        FROM transcripts
        WHERE tool IN ('src1','src2','src3') AND coalesce(tool,'') NOT IN ('src2')
        GROUP BY conv_id HAVING sum(length(text)) >= 1
        """,
        "turn_depth_bounds": _T
        + """
        SELECT conv_id,
               cast(count(*) AS int) AS n_turns,
               string_agg(text, chr(30) ORDER BY turn_idx) AS doc
        FROM transcripts
        WHERE turn_idx BETWEEN 1 AND 2
        GROUP BY conv_id HAVING sum(length(text)) >= 1
        """,
        "delete_rewrite": _TC
        + """
        , dup AS (
            SELECT conv_id, n_turns, total_chars, md5(doc) AS h,
                   count(*) OVER (PARTITION BY n_turns, total_chars, md5(doc)) AS grp_n,
                   count(*) OVER (PARTITION BY n_turns, total_chars) AS blk_n
            FROM conversations
        ),
        losers AS (
            SELECT conv_id FROM (
                SELECT conv_id,
                       min(conv_id) OVER (PARTITION BY n_turns, total_chars, h)
                           AS cluster_id
                FROM dup WHERE blk_n > 1 AND grp_n > 1
            ) WHERE conv_id != cluster_id
        )
        SELECT t.conv_id, cast(count(*) AS bigint) AS n_turns
        FROM transcripts t ANTI JOIN losers l ON t.conv_id = l.conv_id
        GROUP BY t.conv_id
        """,
        "token_stats": """
        SELECT doc_id,
               cast(len(string_split(text, ' ')) AS bigint) AS n_tokens,
               cast(length(text) AS bigint) AS n_chars
        FROM documents
        """,
        "quality_scores": """
        SELECT doc_id,
               round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                     / cast(length(text) AS double), 6) AS punct_ratio,
               round((length(text) - length(replace(text, ' the ', ''))) / 6.0
                     / len(string_split(text, ' ')), 6) AS stopword_ratio,
               round(length(text) / cast(len(string_split(text, ' ')) AS double), 6)
                   AS avg_token_len
        FROM documents
        """,
        "events_hourly": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
               event_type,
               cast(count(*) AS bigint) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
        """,
        "ann_topk": """
        WITH emb AS (
            SELECT vec_id, cast(embedding AS double[]) AS v FROM embeddings
        ),
        sims AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   list_cosine_similarity(q.v, e.v) AS sim
            FROM emb q, emb e
            WHERE q.vec_id < 5 AND q.vec_id != e.vec_id
        )
        SELECT query_id, neighbor_id, round(sim, 6) AS sim, cast(rank AS bigint) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, neighbor_id) AS rank
            FROM sims
        ) WHERE rank <= 10
        """,
        "text_analysis": """
        WITH scored AS (
            SELECT doc_id, text,
                   len(list_filter(string_split(lower(text), ' '),
                       x -> list_contains(['the','and','of','to','is'], x)))
                       / cast(len(string_split(text, ' ')) AS double) AS s_en,
                   len(list_filter(string_split(lower(text), ' '),
                       x -> list_contains(['el','la','de','que','los'], x)))
                       / cast(len(string_split(text, ' ')) AS double) AS s_es,
                   len(list_filter(string_split(lower(text), ' '),
                       x -> list_contains(['der','die','und','das','nicht'], x)))
                       / cast(len(string_split(text, ' ')) AS double) AS s_de,
                   len(list_filter(string_split(lower(text), ' '),
                       x -> list_contains(['le','la','et','les','des'], x)))
                       / cast(len(string_split(text, ' ')) AS double) AS s_fr
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN greatest(s_en,s_es,s_de,s_fr) = 0 THEN 'und'
                    -- descending lang-name order mirrors Spark's struct max
                    WHEN s_fr = greatest(s_en,s_es,s_de,s_fr) THEN 'fr'
                    WHEN s_es = greatest(s_en,s_es,s_de,s_fr) THEN 'es'
                    WHEN s_en = greatest(s_en,s_es,s_de,s_fr) THEN 'en'
                    ELSE 'de' END AS lang_pred,
               cast(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bigint) AS n_bpe_tokens
        FROM scored
        """,
        "neardup_minhash": _neardup_minhash_oracle(),
        "simhash_turn_pairs": _simhash_turn_pairs_oracle(),
        "span_pairs": _span_pairs_oracle(),
        "ann_lsh_topk": _ann_lsh_topk_oracle(),
        "ann_ivf_topk": _ann_ivf_topk_oracle(),
        "embedding_neardup": _embedding_neardup_oracle(),
        "doc_fingerprints": _doc_fingerprints_oracle(),
        "media_dedup": MEDIA_DUPS_SQL,
        # lineage/resume (F2 + N11): both oracles read the lineage table the
        # pipeline PERSISTED during the query's fresh-then-resumed run pair
        # (the spark query executes first and writes it — same order as
        # tools/check_contract.py, the driver mimic).
        "pipeline_lineage": f"""
        SELECT stage, "rows", resumed
        FROM read_json_auto('{_LINEAGE_RUN_DIR}/lineage.jsonl')
        """,
        # run-2 rows must join run-1 rows on (stage, rows): a resumed stage
        # reporting a different row count than the fresh run would drop out
        # of the join and fail the driver's row-count compare
        "pipeline_resume": f"""
        WITH l AS (
            SELECT stage, "rows", resumed
            FROM read_json_auto('{_LINEAGE_RUN_DIR}/lineage.jsonl')
        )
        SELECT r2.stage AS stage, r2."rows" AS "rows", r2.resumed AS resumed
        FROM (SELECT * FROM l WHERE resumed) r2
        JOIN (SELECT * FROM l WHERE NOT resumed) r1
          ON r2.stage = r1.stage AND r2."rows" = r1."rows"
        """,
    }
