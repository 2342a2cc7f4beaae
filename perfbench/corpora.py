"""Seeded benchmark corpora and their planted truth.

Every workload is a turns table ``(conv_id, turn_idx, role, text, tool, ts)``
written to parquet, plus a truth map ``conv_id -> group`` that stays on the
benchmark side: two conversations are a planted pair when they share a group.

- ``planted``: ``dedup.synth_spark`` at its default planting rates. A base
  conversation ``cNNNNNNNN`` and its exact copy ``_xd`` and near copy ``_nd``
  form one group; a span partner ``_sp`` and its one-turn source ``_spa``
  form another.
- ``chains``: ``CHAIN_PATHS`` paths of ``CHAIN_LEN`` conversations. Each
  conversation has two high-entropy turns of about 4.5k chars and shares
  one of them with each path neighbour, so only the span tier links them,
  and only neighbours. A path is one group and must come out as one cluster.
"""

from __future__ import annotations

import random
import string
from collections.abc import Iterable
from datetime import datetime, timedelta, timezone

#: conversations generated for ``planted`` (about 16 turns each, plus copies)
PLANTED_CONVS = 600
#: chains workload shape: paths x conversations per path
CHAIN_PATHS = 10
CHAIN_LEN = 12
#: chars per chains turn; above the default ``min_span_len`` (4096)
CHAIN_TURN_CHARS = 4500

_ALPHABET = string.ascii_lowercase + string.digits


def planted_group(conv_id: str) -> str:
    """Truth group of a ``synth_spark`` conversation id."""
    base, _, suffix = conv_id.partition("_")
    return f"{base}:span" if suffix in ("sp", "spa") else f"{base}:dup"


def chain_group(conv_id: str) -> str:
    """Truth group (the path) of a chains conversation id ``kKKK_iIII``."""
    return conv_id.split("_")[0]


def write_planted(spark, path: str, seed: int) -> None:
    from dedup.synth_spark import write_bench_corpus

    write_bench_corpus(spark, path, PLANTED_CONVS, seed)


def _chain_text(rng: random.Random) -> str:
    words, size = [], 0
    while size < CHAIN_TURN_CHARS:
        w = "".join(rng.choices(_ALPHABET, k=rng.randint(3, 10)))
        words.append(w)
        size += len(w) + 1
    return " ".join(words)


def chain_rows(seed: int) -> Iterable[tuple]:
    """Rows of the chains corpus; conversation i of path k holds the path's
    texts i and i+1, so neighbours share exactly one turn."""
    rng = random.Random(seed)
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    for k in range(CHAIN_PATHS):
        texts = [_chain_text(rng) for _ in range(CHAIN_LEN + 1)]
        for i in range(CHAIN_LEN):
            conv_id = f"k{k:03d}_i{i:03d}"
            for j in range(2):
                ts = t0 + timedelta(minutes=(k * CHAIN_LEN + i) * 10 + j)
                yield (conv_id, j, ("user", "assistant")[j], texts[i + j], "", ts)


def write_chains(spark, path: str, seed: int) -> None:
    """One parquet file per core, written without a Spark job."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    rows = list(chain_rows(seed))
    parts = spark.sparkContext.defaultParallelism
    os.makedirs(path, exist_ok=True)
    for i in range(parts):
        part = rows[i::parts]
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in part], schema)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
