"""Canonical fixed schemas for the engine: the input documents, the
cascade's join result and the stage priorities.

The reference attaches features dynamically at runtime (ete3
``add_feature``; reference nodes.py:176,205 and ``hasattr`` probes all over
har2tree.py) — Spark needs a closed schema, so every dynamic feature becomes
a nullable column (SURVEY.md §1.1). Each operator's own ``select`` lists
its output columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# input_hint shape (BASELINE.json): the interleaved text+media document.
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# Consume-once cascade output (FIXTURES.md §2 join_result). ``depth`` is
# free in exact mode (the DFS knows it) and saves the pointer-doubling
# pass downstream; rank mode emits it as null.
JOIN_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("span_idx", T.IntegerType(), False),
        T.StructField("parent_idx", T.IntegerType(), False),  # -1 = doc root
        T.StructField("join_kind", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), True),
    ]
)

# Stage priorities — the cascade order of reference har2tree.py:879-1014
# (redirect > frame > initiator > referer > resource) then the fallback
# cascade of har2tree.py:770-853.
PRIORITY = {
    "root": 0,
    "redirect": 1,
    "frame": 2,
    "initiator": 3,
    "referer": 4,
    "resource": 5,
    "fallback_host": 6,
    "fallback_pip": 7,
    "fallback_knn": 8,
    "fallback_root": 9,
}
