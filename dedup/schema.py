"""Schema of the transcript corpus, and the separator that joins its turns.

The input table shape is mandated by BASELINE.json ``input_hint``:
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)``. Relationally it plays the role of the
reference's implicit ``files(path, size, modified)`` table
(reference: /root/reference/src/fileinfo.rs:18-24).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Unit separator used to join turns into one document. Chosen outside the
#: printable range so round-tripping (doc → split → turns) is lossless for
#: any text that does not itself contain \x1e; synth.py guarantees that and
#: assembly strips it defensively from real input.
TURN_SEP = "\x1e"

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
