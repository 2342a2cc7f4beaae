"""Candidate-pair verification (operator N6).

The analog of the reference's strict mode: fast tiers may false-positive,
verification decides (reference: /root/reference/src/processor.rs:61-64
selects full hash vs prefix hash; our knob is ``exact_verify``).

Two verifiers:
- ``estimate``: fraction of agreeing MinHash signature positions — an
  unbiased Jaccard estimator computed from columns already on hand with
  zip_with + aggregate (pure JVM, no shuffle beyond the two signature joins);
- ``exact``: recompute shingle-set Jaccard from the docs
  (``shingle_jaccard``) in an Arrow-batched pandas UDF (config
  ``exact_verify=True``) — the strict path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedup.config import DedupConfig
from dedup.minhash import py_normalize, shingle_hashes


def _agreement(col_a, col_b, num_perm: int):
    matches = F.aggregate(
        F.zip_with(col_a, col_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return matches.cast("double") / F.lit(float(num_perm))


def join_pair_docs(pairs: DataFrame, conversations: DataFrame) -> DataFrame:
    """``pairs`` with both sides' text attached as ``doc_a``/``doc_b``,
    spread over the default parallelism: a pair-verifying UDF costs per
    row, and AQE would coalesce this small-bytes join output into a few
    partitions, serializing the UDF."""
    docs = conversations.select("conv_id", "doc")
    return (
        pairs.join(docs.withColumnsRenamed({"conv_id": "conv_a", "doc": "doc_a"}), "conv_a")
        .join(docs.withColumnsRenamed({"conv_id": "conv_b", "doc": "doc_b"}), "conv_b")
        .repartition(conversations.sparkSession.sparkContext.defaultParallelism)
    )


def shingle_jaccard(docs_a: list[str], docs_b: list[str], k: int) -> np.ndarray:
    """float64 k-shingle Jaccard of each (docs_a[i], docs_b[i]) pair — the
    exact-verify kernel, run by the pandas UDF and by the pipeline's driver
    pass alike. Shingles are taken under ``py_normalize``, the SAME
    normalization the signature tier shingles under (incl. the \\x1c-\\x1f
    separator class), so this is the quantity MinHash estimates."""
    out = np.empty(len(docs_a))
    for i, (x, y) in enumerate(zip(docs_a, docs_b)):
        sa = shingle_hashes(py_normalize(x or ""), k)
        sb = shingle_hashes(py_normalize(y or ""), k)
        inter = np.intersect1d(sa, sb, assume_unique=True).size
        union = sa.size + sb.size - inter
        out[i] = inter / union if union else 1.0
    return out


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig | None = None,
    conversations: DataFrame | None = None,
) -> DataFrame:
    """pairs(conv_a, conv_b, source) → verified edges with a ``similarity``
    column, filtered to similarity ≥ jaccard_threshold.

    This is the one place that decides which candidates skip verification:
    only 'exact' pairs pass through (similarity 1.0), pre-verified by
    full-content hash equality. Every other candidate — 'lsh' and 'simhash'
    alike — gets the Jaccard check. A SimHash match is not a Jaccard
    bound: SimHash estimates cosine, so two long texts drawn from one small
    vocabulary sit within a few Hamming bits while sharing few shingles.
    Span pairs never come here: they are verified by exact LCS length
    (suffix.verify_span_pairs), and sharing one long span does not make two
    conversations globally similar.

    Signature joins broadcast when small; at scale they are plain
    shuffle-hash joins on conv_id, the same key the signature table is
    already partitioned by.
    """
    cfg = cfg or DedupConfig()
    exact_edges = pairs.where(F.col("source") == "exact").withColumn("similarity", F.lit(1.0))
    cand = pairs.where(F.col("source") != "exact")

    if cfg.exact_verify:
        if conversations is None:
            raise ValueError("exact_verify requires the conversations DataFrame")
        joined = join_pair_docs(cand, conversations)
        k = cfg.shingle_k

        @F.pandas_udf(T.DoubleType())
        def jac(doc_a: pd.Series, doc_b: pd.Series) -> pd.Series:
            return pd.Series(shingle_jaccard(list(doc_a), list(doc_b), k))

        verified = joined.withColumn("similarity", jac("doc_a", "doc_b")).drop(
            "doc_a", "doc_b"
        )
    else:
        sigs = signatures.select("conv_id", "minhash")
        verified = (
            cand.join(
                sigs.withColumnsRenamed({"conv_id": "conv_a", "minhash": "sig_a"}),
                "conv_a",
            )
            .join(
                sigs.withColumnsRenamed({"conv_id": "conv_b", "minhash": "sig_b"}),
                "conv_b",
            )
            .withColumn("similarity", _agreement(F.col("sig_a"), F.col("sig_b"), cfg.num_perm))
            .drop("sig_a", "sig_b")
        )

    verified = verified.where(F.col("similarity") >= F.lit(cfg.jaccard_threshold))
    return verified.select("conv_a", "conv_b", "source", "similarity").unionByName(
        exact_edges.select("conv_a", "conv_b", "source", "similarity")
    )
