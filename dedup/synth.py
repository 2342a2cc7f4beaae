"""Deterministic synthetic transcript corpus generator.

The corpus analog of the reference's benchmark fixture generator
(reference: /root/reference/rakelib/benchmark.rake:10-101) and of its unit
test fixtures (reference: /root/reference/src/processor.rs:151-154): plants
exact duplicates, shared-prefix pairs, near-duplicate edits, shared long
spans, and same-size/different-content pairs at controllable rates, and
returns the ground-truth duplicate pairs alongside the turns.

Everything is seeded numpy — no external data, identical output per seed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

_WORDS = np.array(
    """the a of to and in for on with query table scan join filter sort merge
    group window hash key row batch value spark data slow fast small large
    order part line customer supplier region nation event token turn agent
    tool call result error retry plan step think answer user system context
    model run code test file read write open close send receive parse format
    index cache block shard shuffle stage task node cluster driver executor
    memory disk net time date stamp count sum min max avg first last prev next
    """.split()
)

_ROLES = np.array(["user", "assistant", "system", "tool"])
_TOOLS = np.array(["", "js", "css", "csv", "rs", "sql", "py"])

BASE_TS = np.datetime64("2024-01-01T00:00:00")


@dataclass
class Corpus:
    """Turns plus ground truth for recall tests."""

    turns: pd.DataFrame  # conv_id, turn_idx, role, text, tool, ts
    #: (conv_a, conv_b, kind) with conv_a < conv_b; kind in
    #: {exact, prefix, near, span, same_size}
    truth_pairs: pd.DataFrame = field(
        default_factory=lambda: pd.DataFrame(columns=["conv_a", "conv_b", "kind"])
    )


def _turn_texts(rng: np.random.Generator, n_turns: int, words_lo: int, words_hi: int) -> list[str]:
    out = []
    for _ in range(n_turns):
        k = int(rng.integers(words_lo, words_hi + 1))
        out.append(" ".join(rng.choice(_WORDS, size=k)))
    return out


def _conv_rows(conv_id: str, texts: list[str], rng: np.random.Generator, ts_off: int) -> list[tuple]:
    rows = []
    for i, txt in enumerate(texts):
        role = _ROLES[i % len(_ROLES)]
        tool = str(rng.choice(_TOOLS))
        ts = BASE_TS + np.timedelta64(ts_off + i * 7, "s")
        rows.append((conv_id, i, role, txt, tool, ts))
    return rows


def make_corpus(
    n_convs: int = 200,
    seed: int = 42,
    exact_dup_rate: float = 0.10,
    near_dup_rate: float = 0.10,
    prefix_dup_rate: float = 0.05,
    span_dup_rate: float = 0.05,
    same_size_rate: float = 0.05,
    min_turns: int = 2,
    max_turns: int = 24,
    words_lo: int = 5,
    words_hi: int = 60,
    shuffle: bool = True,
) -> Corpus:
    """Base conversations + planted duplicate structure.

    Lengths are Zipf-ish (heavy tail) per the ``skewed_lengths`` fixture.
    Rows are returned SHUFFLED (FIXTURES.md §1: never pre-sorted by turn_idx)
    so the stable-ordering invariant is actually exercised.
    """
    rng = np.random.default_rng(seed)
    rows: list[tuple] = []
    truth: list[tuple[str, str, str]] = []

    # Zipf-ish turn counts, clipped.
    lengths = np.clip(rng.zipf(1.7, size=n_convs), min_turns, max_turns)

    base_texts: dict[str, list[str]] = {}
    for i in range(n_convs):
        cid = f"c{i:08d}"
        texts = _turn_texts(rng, int(lengths[i]), words_lo, words_hi)
        base_texts[cid] = texts
        rows.extend(_conv_rows(cid, texts, rng, ts_off=i * 1000))

    base_ids = list(base_texts)

    def _pick(rate: float) -> list[str]:
        k = int(round(rate * n_convs))
        if k == 0:
            return []
        return list(rng.choice(base_ids, size=k, replace=False))

    # exact duplicates: byte-identical turns, new conv_id, later ts
    # (reference: src/processor.rs:268-311 — identical data ⇒ one group).
    for cid in _pick(exact_dup_rate):
        did = f"{cid}_xd"
        rows.extend(_conv_rows(did, base_texts[cid], rng, ts_off=10_000_000))
        truth.append((min(cid, did), max(cid, did), "exact"))

    # near duplicates: ~2% of the conversation's words edited (north rule).
    # The budget is per conversation, not per turn — a per-turn floor would
    # turn short conversations into ~10% edits, which is no longer "near".
    for cid in _pick(near_dup_rate):
        did = f"{cid}_nd"
        flat = [t.split(" ") for t in base_texts[cid]]
        n_words = sum(len(t) for t in flat)
        n_edit = max(1, int(round(0.02 * n_words)))
        flat_pos = [(ti, wi) for ti, t in enumerate(flat) for wi in range(len(t))]
        for j in rng.choice(len(flat_pos), size=n_edit, replace=False):
            ti, wi = flat_pos[j]
            flat[ti][wi] = str(rng.choice(_WORDS))
        texts = [" ".join(t) for t in flat]
        rows.extend(_conv_rows(did, texts, rng, ts_off=20_000_000))
        truth.append((min(cid, did), max(cid, did), "near"))

    # shared prefix: identical assembled text for >= prefix_len chars, then
    # divergent tail (reference: src/processor.rs:157-265 fast-vs-strict pair).
    for cid in _pick(prefix_dup_rate):
        did = f"{cid}_pd"
        texts = list(base_texts[cid])
        texts.append(" ".join(rng.choice(_WORDS, size=40)))  # divergent tail turn
        rows.extend(_conv_rows(did, texts, rng, ts_off=30_000_000))
        truth.append((min(cid, did), max(cid, did), "prefix"))

    # shared span: unrelated convs sharing one long common substring.
    for cid in _pick(span_dup_rate):
        did = f"{cid}_sp"
        span = " ".join(rng.choice(_WORDS, size=900))  # ~4.5k chars
        a_texts = base_texts[cid]
        # splice the span into the base conv as an extra turn
        rows.extend(_conv_rows(f"{cid}_spa", a_texts + [span], rng, ts_off=40_000_000))
        b_texts = _turn_texts(rng, 3, words_lo, words_hi) + [span]
        rows.extend(_conv_rows(did, b_texts, rng, ts_off=41_000_000))
        truth.append((min(f"{cid}_spa", did), max(f"{cid}_spa", did), "span"))

    # same size, different content: equal n_turns and per-turn char counts
    # (reference: src/processor.rs:314-381 size-block tests).
    for cid in _pick(same_size_rate):
        did = f"{cid}_ss"
        texts = []
        for txt in base_texts[cid]:
            # same length, different chars: reverse each word
            texts.append(" ".join(w[::-1] for w in txt.split(" ")))
        rows.extend(_conv_rows(did, texts, rng, ts_off=50_000_000))
        truth.append((min(cid, did), max(cid, did), "same_size"))

    turns = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    turns["turn_idx"] = turns["turn_idx"].astype("int32")
    turns["ts"] = pd.to_datetime(turns["ts"])
    if shuffle:
        turns = turns.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    tp = pd.DataFrame(truth, columns=["conv_a", "conv_b", "kind"])
    return Corpus(turns=turns, truth_pairs=tp)


def corpus_to_spark(spark, corpus: Corpus):
    """Create the transcripts DataFrame with the mandated schema."""
    from dedup.schema import TRANSCRIPTS_SCHEMA

    return spark.createDataFrame(corpus.turns, schema=TRANSCRIPTS_SCHEMA)


def write_corpus(path: str, n_convs: int, seed: int = 42, **kw) -> pd.DataFrame:
    """Materialize a corpus to parquet (a pipeline input); returns truth pairs."""
    corpus = make_corpus(n_convs=n_convs, seed=seed, **kw)
    # Spark cannot read TIMESTAMP(NANOS) parquet — write microseconds, and
    # UTC-adjusted: Spark reads a tz-naive parquet timestamp as
    # TIMESTAMP_NTZ, not the ``timestamp`` the transcripts schema declares.
    # Small row groups keep the single file SPLITTABLE: Spark parallelizes
    # a scan at row-group granularity, and one giant row group would pin
    # the whole map side to one task.
    turns = corpus.turns.assign(
        ts=corpus.turns["ts"].astype("datetime64[us]").dt.tz_localize("UTC")
    )
    turns.to_parquet(f"{path}/transcripts.parquet", index=False, row_group_size=50_000)
    corpus.truth_pairs.to_parquet(f"{path}/truth_pairs.parquet", index=False)
    return corpus.truth_pairs
