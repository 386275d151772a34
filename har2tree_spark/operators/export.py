"""Tree JSON export — the d3-style nested-tree sink (S5).

The reference's primary user-facing output is a nested JSON tree per capture
(reference nodes.py:50-66 ``HarTreeNode.to_dict/to_json``, har2tree.py:676-678;
golden shape pinned by tests/simple_test.py:243-257): every node serializes
its features plus a ``children`` list. Re-grounded here: the flat
``join_result`` (parent pointers) plus per-span features are assembled into
ONE nested JSON document per doc_id.

Scale shape: tree assembly is inherently per-doc sequential — exactly like
the exact cascade kernel — so it reuses the same plan: hash-repartition by
doc_id, one ``groupBy(doc_id)`` row per doc on that partitioning (no second
exchange, no sort), then ``mapInPandas`` emits each row's tree. Parallel
across docs, one pass within a doc, no driver-side collection.

Serialization uses an explicit-stack emitter: an adversarial deep chain can
exhaust neither the Python stack nor ``json.dumps``'s recursive C encoder.
Node features are emitted in a fixed order and children sorted by span_idx,
so the output is deterministic and directly comparable across engines.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from har2tree_spark.operators.cascade import live_features

EXPORT_SCHEMA = "doc_id string, n_nodes long, tree string"


def _emit_doc(
    spans: list[int],
    parents: dict[int, int],
    kinds: dict[int, str],
    join_kinds: dict[int, str],
) -> str:
    """One doc's nested JSON via explicit stack. Children attach in
    span_idx order (deterministic d3 layout)."""
    children: dict[int, list[int]] = defaultdict(list)
    roots: list[int] = []
    for s in spans:  # spans arrive sorted by span_idx
        p = parents[s]
        if p < 0:
            roots.append(s)
        else:
            children[p].append(s)
    out: list[str] = []
    visited: set[int] = set()
    trees: list[list[str]] = []

    def emit_tree(top: int) -> list[str]:
        buf: list[str] = []
        stack: list[tuple[int, int]] = [(top, 0)]
        visited.add(top)
        while stack:
            node, pos = stack.pop()
            ch = children.get(node, [])
            if pos == 0:
                buf.append(
                    f'{{"span_idx":{node},"kind":{json.dumps(kinds[node])},'
                    f'"join_kind":{json.dumps(join_kinds[node])},"children":['
                )
            # skip already-visited children: rank mode can emit parent
            # 2-cycles (each child picks its parent independently), and the
            # back-edge of a cycle must not re-enter the island
            while pos < len(ch) and ch[pos] in visited:
                pos += 1
            if pos < len(ch):
                stack.append((node, pos + 1))
                if buf[-1] not in ("[", ",") and not buf[-1].endswith("["):
                    buf.append(",")
                visited.add(ch[pos])
                stack.append((ch[pos], 0))
            else:
                buf.append("]}")
        return buf

    for root in roots:
        trees.append(emit_tree(root))
    # unreached islands (parent cycles): smallest span first, deterministic
    for s in spans:
        if s not in visited:
            trees.append(emit_tree(s))
    multi = len(trees) != 1
    if multi:
        out.append("[")
    for ti, buf in enumerate(trees):
        if ti:
            out.append(",")
        out.extend(buf)
    if multi:
        out.append("]")
    return "".join(out)


def _export_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One tree row per doc row; each row's node arrays are sorted by
    span_idx."""
    for pdf in batches:
        rows = []
        for doc_id, spans, parents, kinds, jks in zip(
            pdf["doc_id"], pdf["span_idx"], pdf["parent_idx"], pdf["kind"], pdf["join_kind"]
        ):
            spans = spans.tolist()
            tree = _emit_doc(
                spans,
                dict(zip(spans, parents.tolist())),
                dict(zip(spans, kinds)),
                dict(zip(spans, jks)),
            )
            rows.append((doc_id, len(spans), tree))
        yield pd.DataFrame(rows, columns=["doc_id", "n_nodes", "tree"])


def tree_json(join_result: DataFrame, features: DataFrame) -> DataFrame:
    """(doc_id, n_nodes, tree): the per-doc d3 JSON tree assembled from the
    cascade's parent pointers + feature attributes."""
    f = live_features(features).select("doc_id", "span_idx", "kind")
    rows = join_result.select("doc_id", "span_idx", "parent_idx", "join_kind").join(
        f, ["doc_id", "span_idx"]
    )
    # explicit partition count, as in cascade.resolve_exact: AQE would
    # coalesce by shuffle bytes, but the Python consumer costs CPU per span
    par = rows.sparkSession.sparkContext.defaultParallelism
    nodes = F.array_sort(
        F.collect_list(F.struct("span_idx", "parent_idx", "kind", "join_kind"))
    ).alias("nodes")
    return (
        rows.repartition(par, "doc_id")
        .groupBy("doc_id")
        .agg(nodes)
        .select("doc_id", "nodes.span_idx", "nodes.parent_idx", "nodes.kind", "nodes.join_kind")
        .mapInPandas(_export_docs, EXPORT_SCHEMA)
    )
