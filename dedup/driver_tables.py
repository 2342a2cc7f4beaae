"""Driver-testdata adapters: derive a transcripts-shaped table from the
driver's ``documents`` parquet, with planted duplicates, in BOTH engines.

The driver's correctness gate (``__spark_entry__.py``) compares our Spark
operators against DuckDB SQL on the same parquet tables. The testdata has no
turn-structured table, so we derive one deterministically from ``documents``:

- each document becomes a conversation; turns = text split on '. ';
- every 7th document gets a byte-identical copy (``<id>_xd``) — planted
  exact duplicates (the reference analog: identical files);
- every 13th document gets a tail-truncated copy (``<id>_nd``) — planted
  near duplicates for the MinHash tier;
- every 17th document gets a span partner (``<id>_sp``): the document's
  body re-wrapped in unrelated padding — planted shared spans.

The SAME derivation is expressed as a DuckDB CTE (``TRANSCRIPTS_SQL``) so
every downstream operator query has an oracle. Keep the two in lockstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: split separator for turns (literal '. ')
_SEP_RE = r"\. "  # Spark regex


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → transcripts(conv_id, turn_idx, role, text, tool, ts)."""
    docs = load_documents(spark, sf_dir)
    base = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.col("text"),
        F.col("source").alias("tool"),
    )
    dup = (
        docs.where(F.col("doc_id") % 7 == 0)
        .select(
            F.concat(F.col("doc_id").cast("string"), F.lit("_xd")).alias("conv_id"),
            F.col("text"),
            F.col("source").alias("tool"),
        )
    )
    near = (
        docs.where(F.col("doc_id") % 13 == 0)
        .select(
            F.concat(F.col("doc_id").cast("string"), F.lit("_nd")).alias("conv_id"),
            # drop the last 12 chars — a near-duplicate edit
            F.substring(
                F.col("text"), 1, F.greatest(F.length("text") - 12, F.lit(0))
            ).alias("text"),
            F.col("source").alias("tool"),
        )
    )
    span = (
        docs.where(F.col("doc_id") % 17 == 0)
        .select(
            F.concat(F.col("doc_id").cast("string"), F.lit("_sp")).alias("conv_id"),
            F.concat(
                F.lit("unrelated preamble padding words here. "),
                F.col("text"),
                F.lit(". trailing unrelated epilogue content"),
            ).alias("text"),
            F.col("source").alias("tool"),
        )
    )
    unioned = base.unionByName(dup).unionByName(near).unionByName(span)
    return unioned.select(
        "conv_id",
        F.posexplode(F.split(F.col("text"), _SEP_RE, -1)).alias("turn_idx", "text"),
        F.lit("user").alias("role"),
        "tool",
        F.lit(None).cast("timestamp").alias("ts"),
    ).select(
        "conv_id", F.col("turn_idx").cast("int"), "role", "text", "tool", "ts"
    )


def derive_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → media table (media_id, kind, data, mime) with planted
    exact duplicates: every 7th document's payload reappears under
    media_id = doc_id + 1_000_000 (same kind). The payload is the utf-8
    encoding of the text — opaque bytes to the decode stage, md5-checkable
    by the DuckDB oracle (md5(blob) = md5(text) for ascii text).
    """
    docs = load_documents(spark, sf_dir)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    mime = F.element_at(
        F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    base = docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("data"),
        mime.alias("mime"),
    )
    dup = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("data"),
        mime.alias("mime"),
    )
    return base.unionByName(dup)


#: DuckDB mirror of derive_media + exact-dup grouping (content_hash = md5).
MEDIA_DUPS_SQL = """
WITH m AS (
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           text
    FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END,
           text
    FROM documents WHERE doc_id % 7 = 0
),
h AS (
    SELECT media_id, kind, md5(text) AS content_hash,
           count(*) OVER (PARTITION BY md5(text)) AS n
    FROM m
)
SELECT media_id, kind, content_hash FROM h WHERE n > 1
"""


#: DuckDB CTE producing the identical transcripts table. Interpolate with
#: .format() — no user input ever reaches this string.
TRANSCRIPTS_SQL = """
WITH uni AS (
    SELECT cast(doc_id AS varchar) AS conv_id, text, source AS tool
    FROM documents
    UNION ALL
    SELECT cast(doc_id AS varchar) || '_xd', text, source
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT cast(doc_id AS varchar) || '_nd',
           substr(text, 1, greatest(length(text) - 12, 0)), source
    FROM documents WHERE doc_id % 13 = 0
    UNION ALL
    SELECT cast(doc_id AS varchar) || '_sp',
           'unrelated preamble padding words here. ' || text ||
           '. trailing unrelated epilogue content', source
    FROM documents WHERE doc_id % 17 = 0
),
transcripts AS (
    SELECT conv_id,
           cast(generate_subscripts(string_split(text, '. '), 1) - 1 AS int)
               AS turn_idx,
           'user' AS role,
           unnest(string_split(text, '. ')) AS text,
           tool,
           cast(NULL AS timestamp) AS ts
    FROM uni
)
"""

#: assembled conversations as a DuckDB CTE (append after TRANSCRIPTS_SQL):
#: doc = turns joined by chr(30) in turn order; sizes exclude separators.
CONVERSATIONS_SQL = """,
conversations AS (
    SELECT conv_id,
           cast(count(*) AS int)           AS n_turns,
           cast(sum(length(text)) AS bigint) AS total_chars,
           min(ts) AS first_ts, max(ts) AS last_ts,
           string_agg(text, chr(30) ORDER BY turn_idx) AS doc
    FROM transcripts
    GROUP BY conv_id
    HAVING sum(length(text)) >= 1
)
"""
