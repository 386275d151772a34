"""Forest join — the CrawledTree analogue (reference parser.py:43-72).

The reference joins multiple per-HAR trees into one forest: a subtree whose
root has a referer pointing at another tree's final-redirect (or root) URL
attaches under that tree, recursively, consume-once (`referers.pop`).

Re-grounded: a document whose ROOT span carries an unresolved ``media_ref``
attaches under the document whose *landing key* (end of its redirect chain,
else its root key) equals that ref. Cross-document — this is the one
operator where doc_id is NOT a join key, so it shuffles on the feature key;
the per-doc summary table it joins is tiny relative to the corpus (one row
per doc), so at scale both sides are doc-count-sized, not span-count-sized.

Forest roots are resolved by pointer doubling over the doc-level parent
edges (log2(forest depth) self-joins); cycles are broken by keeping each
doc's current ancestor at the iteration cap (deterministic)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from har2tree_spark.operators.cascade import live_features

# doubling rounds: resolves forest chains up to 2^10 docs deep; a cycle
# stops here with each doc on its current ancestor
_MAX_DOUBLING = 10


def doc_summaries(features: DataFrame, join_result: DataFrame) -> DataFrame:
    """One row per doc: root span's key + media_ref, and the landing key
    (deepest node of the pure redirect chain from the root, else root key)
    — the final_redirect analogue (reference har2tree.py:268-302)."""
    f = live_features(features)
    roots = (
        join_result.filter(F.col("join_kind") == "root")
        .select("doc_id", F.col("span_idx").alias("root_span"))
        .join(
            f.select(
                "doc_id",
                F.col("span_idx").alias("root_span"),
                F.col("key").alias("root_key"),
                F.col("media_ref").alias("root_ref"),
            ),
            ["doc_id", "root_span"],
        )
    )
    red = join_result.filter(F.col("join_kind") == "redirect")
    chain_end = (
        red.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("depth"), F.desc("span_idx")
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("span_idx").alias("landing_span"))
        .join(
            f.select(
                "doc_id",
                F.col("span_idx").alias("landing_span"),
                F.col("key").alias("landing_key"),
            ),
            ["doc_id", "landing_span"],
        )
    )
    return roots.join(chain_end, "doc_id", "left").select(
        "doc_id",
        "root_key",
        "root_ref",
        F.coalesce("landing_key", "root_key").alias("landing_key"),
    )


def forest_edges(features: DataFrame, join_result: DataFrame) -> DataFrame:
    """(child_doc, parent_doc): child's root media_ref == parent's landing
    key. The in-doc cascade already consumed refs resolvable locally, so a
    root that still has a ref points across documents. Deterministic pick:
    smallest parent doc_id (the reference attaches to the first matching
    tree, parser.py:52-72)."""
    s = doc_summaries(features, join_result)
    child = s.filter(
        (F.col("root_ref") != "") & F.col("root_ref").isNotNull()
    ).select(F.col("doc_id").alias("child_doc"), F.col("root_ref"))
    parent = s.select(
        F.col("doc_id").alias("parent_doc"), F.col("landing_key")
    )
    j = child.join(parent, child["root_ref"] == parent["landing_key"]).filter(
        F.col("child_doc") != F.col("parent_doc")
    )
    w = Window.partitionBy("child_doc").orderBy("parent_doc")
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("child_doc", "parent_doc")
    )


def forest_roots(edges: DataFrame, all_docs: DataFrame) -> DataFrame:
    """(doc_id, forest_root): follow doc-level parent pointers to the top
    by pointer doubling. Docs with no parent are their own root."""
    cur = (
        all_docs.select("doc_id")
        .join(edges.withColumnRenamed("child_doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("parent_doc", F.col("doc_id")).alias("anc")
        )
        .localCheckpoint()
    )
    for _ in range(_MAX_DOUBLING):
        nxt = (
            cur.alias("a")
            .join(
                cur.select(
                    F.col("doc_id").alias("anc"), F.col("anc").alias("anc2")
                ).alias("b"),
                "anc",
                "left",
            )
            .select(
                "doc_id", F.coalesce(F.col("anc2"), F.col("anc")).alias("anc")
            )
            .localCheckpoint()
        )
        # converged when nothing moved; cycles stabilize at the cap
        if (
            nxt.alias("x")
            .join(cur.alias("y"), "doc_id")
            .filter(F.col("x.anc") != F.col("y.anc"))
            .limit(1)
            .count()
            == 0
        ):
            cur = nxt
            break
        cur = nxt
    return cur.select("doc_id", F.col("anc").alias("forest_root"))


def forest_join(features: DataFrame, join_result: DataFrame) -> DataFrame:
    """Full forest assembly: cross-doc edges + root resolution.
    Returns (doc_id, parent_doc nullable, forest_root). The edges are a
    local checkpoint, not ``persist()``: the ContextCleaner frees it, so a
    long-lived driver keeps no cache entry per call."""
    edges = forest_edges(features, join_result).localCheckpoint()
    docs = features.filter(F.col("n_live") > 0).select("doc_id").distinct()
    roots = forest_roots(edges, docs)
    return (
        docs.join(edges.withColumnRenamed("child_doc", "doc_id"), "doc_id", "left")
        .join(roots, "doc_id", "left")
        .select("doc_id", "parent_doc", F.coalesce("forest_root", F.col("doc_id")).alias("forest_root"))
    )
