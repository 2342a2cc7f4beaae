"""Stage 1: turn-level filters + conversation assembly (operator N1).

Replaces the reference's scanner stage (reference: /root/reference/src/
scanner.rs:80-111): glob include/exclude → tool include/exclude filters,
depth bounds → turn_idx bounds, min-size → total_chars predicate, and the
stat() projection → one shuffle-free aggregation that assembles each
conversation's document under stable turn order.

Scale notes:
- ONE shuffle (groupBy conv_id); the per-turn sort happens inside the
  aggregated array (`array_sort` over (turn_idx, text) structs), never as a
  global sort — at 10^12 turns a global orderBy would be the bottleneck.
- Turn-level predicates (tool/turn_idx) are applied BEFORE the shuffle so
  Catalyst pushes them into the parquet/Iceberg scan (PushedFilters), the
  analog of the reference compiling globs into the walker
  (reference: /root/reference/src/scanner.rs:68-78).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.schema import TURN_SEP


def turn_filters(cfg: DedupConfig) -> Column | None:
    """Composable turn-level predicate from the config.

    include ∧ ¬exclude composes like the reference's glob sets
    (reference: /root/reference/src/scanner.rs:45-48; semantics verified by
    its include+exclude test, src/scanner.rs:217-259).
    """
    preds: list[Column] = []
    if cfg.include_tools:
        preds.append(F.col("tool").isin(list(cfg.include_tools)))
    if cfg.exclude_tools:
        preds.append(~F.coalesce(F.col("tool"), F.lit("")).isin(list(cfg.exclude_tools)))
    if cfg.min_turn_idx is not None:
        preds.append(F.col("turn_idx") >= F.lit(cfg.min_turn_idx))
    if cfg.max_turn_idx is not None:
        preds.append(F.col("turn_idx") <= F.lit(cfg.max_turn_idx))
    if not preds:
        return None
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def reject_metrics_exprs(cfg: DedupConfig) -> list[Column]:
    """The S8 ingest-accounting aggregate expressions — shared between the
    pipeline's Observation (rides the assemble action) and the standalone
    driver query (plain one-row agg), so both surfaces run the SAME code."""
    pred = turn_filters(cfg)
    return [
        F.count(F.lit(1)).alias("raw_rows"),
        F.sum(F.col("conv_id").isNull().cast("long")).alias("null_conv_id"),
        F.sum(F.col("turn_idx").isNull().cast("long")).alias("null_turn_idx"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text_repaired"),
        F.sum((~F.coalesce(pred, F.lit(True))).cast("long")).alias("filtered_out")
        if pred is not None
        else F.sum(F.lit(0).cast("long")).alias("filtered_out"),
    ]


def reject_observation(turns: DataFrame, cfg: DedupConfig):
    """S8: error-tolerant ingest WITH accounting. The reference silently
    drops unreadable entries (reference: /root/reference/src/scanner.rs:97,102);
    we count what is dropped or repaired, and we do it with ``observe`` so
    the counts are collected DURING the assemble action — no extra scan of
    the corpus, which matters when the corpus is 100 TB.

    Returns (observed_turns, observation): rows with null conv_id/turn_idx
    are DROPPED (they cannot be assembled deterministically), null text is
    repaired to '' downstream; both are counted, along with rows removed by
    the tool/turn_idx predicates.
    """
    from pyspark.sql import Observation

    obs = Observation("ingest_rejects")
    turns = turns.observe(obs, *reject_metrics_exprs(cfg))
    return turns, obs


def assemble_conversations(
    turns: DataFrame, cfg: DedupConfig | None = None, observe_rejects: bool = False
):
    """turns → conversations(conv_id, n_turns, total_chars, first_ts, last_ts, doc).

    The per-turn order invariant: ``doc`` is the turn texts joined by
    TURN_SEP in ascending ``turn_idx`` order regardless of input row order,
    so re-splitting ``doc`` reproduces the turns exactly (FIXTURES.md §1).

    ``total_chars`` counts text characters only (excludes separators), the
    analog of file size (reference: /root/reference/src/fileinfo.rs:21).

    ``observe_rejects=True`` returns (conversations, Observation) — the S8
    ingest-reject counts, filled in when the first action runs.
    """
    cfg = cfg or DedupConfig()
    obs = None
    if observe_rejects:
        turns, obs = reject_observation(turns, cfg)
    # rows without a conversation key or turn position cannot be assembled
    # deterministically — dropped (and counted by the observation above),
    # unlike the reference's uncounted filter_map(Result::ok)
    turns = turns.where(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
    pred = turn_filters(cfg)
    if pred is not None:
        turns = turns.where(pred)

    # Defensive: TURN_SEP must not occur in text or the doc round-trip breaks.
    clean_text = F.coalesce(F.replace(F.col("text"), F.lit(TURN_SEP), F.lit(" ")), F.lit(""))

    # tz-naive input (TIMESTAMP_NTZ, e.g. pandas datetime64) becomes a
    # session-zone timestamp: the keep policies order by unix_micros
    ts = F.col("ts").cast("timestamp").alias("ts")
    conv = (
        turns.select("conv_id", "turn_idx", ts, clean_text.alias("text"))
        .groupBy("conv_id")
        .agg(
            F.count("*").cast("int").alias("n_turns"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.concat_ws(
                TURN_SEP,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s.text,
                ),
            ).alias("doc"),
        )
    )
    if cfg.min_size > 1:
        # min-size predicate (reference: src/scanner.rs:103, default 1b
        # src/params.rs:22 — empty conversations excluded by default).
        conv = conv.where(F.col("total_chars") >= F.lit(cfg.min_size))
    else:
        conv = conv.where(F.col("total_chars") >= F.lit(1))
    return (conv, obs) if observe_rejects else conv


def explode_doc(conversations: DataFrame) -> DataFrame:
    """Inverse of assembly for the invariant test: doc → (conv_id, turn_pos, text)."""
    return conversations.select(
        "conv_id",
        F.posexplode(F.split(F.col("doc"), TURN_SEP, -1)).alias("turn_pos", "text"),
    )
