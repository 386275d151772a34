"""Per-document and per-cell aggregates — the capture-stats analogue.

Re-grounds the reference's ``stats`` property (reference har2tree.py:505-528;
golden values asserted at tests/simple_test.py:63-75), the HostNode rollups
(nodes.py:802-835, :735-760) and ``build_all_hashes`` (har2tree.py:550-569)
as single groupBy aggregates, plus the engine's one parent-pointer walker
(Spark has no recursion): pointer doubling over one doc's parent pointers,
bit_length(n) steps inside one groupBy(doc_id) row per doc with
higher-order array functions. Its readers give the tree-depth /
redirect-chain depths and the parent cycles that ``pages.attach_pages``'
cycle guard rejects.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from har2tree_spark.geo import grid
from har2tree_spark.operators.cascade import live_features
from har2tree_spark.session import per_jvm


def _doubled(finish: Callable[[Column], Column]) -> Column:
    """Aggregate over one doc's (span_idx, parent_idx) rows: the one
    parent-pointer walk in the engine. ``finish`` reads its result, the
    struct ``anc`` / ``hops`` of arrays indexed by span_idx.

    The parent pointers go into an array indexed by span_idx (positions of
    dropped spans filled with null parents), then pointer doubling runs
    inside the row: each of k = bit_length(n_rows) steps sets every node's
    ancestor to its ancestor's ancestor and adds up the hops, so ``anc``
    ends at each span's 2^k-th ancestor, 2^k > n_rows. ``F.get`` returns
    null out of range (-1 included), which keeps -1 and dangling pointers
    where they are: a walk that ends there stops on them, with ``hops``
    counting the steps to -1 from a rooted span."""
    nodes = F.collect_list(F.struct("span_idx", "parent_idx"))
    max_idx = F.max("span_idx")
    idx = nodes["span_idx"]
    gaps = F.transform(
        F.array_except(F.sequence(F.lit(0), max_idx), idx),
        lambda i: F.struct(i.alias("span_idx"), F.lit(None).cast("int").alias("parent_idx")),
    )
    parents = F.transform(F.array_sort(F.concat(nodes, gaps)), lambda r: r["parent_idx"])

    def double(acc, _):
        anc, hops = acc["anc"], acc["hops"]
        return F.struct(
            F.transform(anc, lambda a: F.coalesce(F.get(anc, a), a)).alias("anc"),
            F.transform(
                hops, lambda h, i: h + F.coalesce(F.get(hops, F.get(anc, i)), F.lit(0))
            ).alias("hops"),
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.length(F.bin(F.count("*")))),
        F.struct(parents.alias("anc"), F.array_repeat(F.lit(1), max_idx + 1).alias("hops")),
        double,
        finish,
    )


@per_jvm
def _rooted_depths() -> Column:
    """array<struct<span_idx, depth>> over one doc's rows, one entry per
    row. Every span, the root too, counts the hop to -1, so depth is
    hops - 1. A span that never reaches -1 (in or behind a parent cycle,
    or under a dangling pointer) gets a null depth."""

    def depths(acc):
        # gap entries keep a null ancestor for good: drop them
        return F.filter(
            F.transform(
                acc["anc"],
                lambda a, i: F.when(
                    a.isNotNull(),
                    F.struct(
                        i.alias("span_idx"),
                        F.when(a == -1, F.get(acc["hops"], i) - 1).alias("depth"),
                    ),
                ),
            ),
            lambda r: r.isNotNull(),
        )

    return _doubled(depths)


@per_jvm
def _cycle_members() -> Column:
    """array<int>: the span_idx of every span on a parent cycle in one
    doc's rows. No tail outlives 2^k > n_rows steps, so a 2^k-th ancestor
    is either where a walk stopped (-1, a dropped span, a pointer out of
    range, a span with a null parent) or a cycle member; and doubling maps
    each cycle onto itself, so every member is some span's 2^k-th
    ancestor. A stop has no ancestor of its own in ``anc`` (null), a cycle
    member has one, so the final ancestors that have one are exactly the
    cycle members."""
    return _doubled(
        lambda acc: F.array_distinct(
            F.filter(acc["anc"], lambda a: F.get(acc["anc"], a).isNotNull())
        )
    )


@per_jvm
def _depth_columns() -> tuple[Column, Column, tuple[Column, ...]]:
    """compute_depths' (group key, aggregate, output rows)."""
    doc_id = F.col("doc_id")
    return doc_id, _rooted_depths().alias("depths"), (doc_id, F.inline("depths"))


def compute_depths(join_result: DataFrame) -> DataFrame:
    """(doc_id, span_idx, depth) from parent pointers; no Spark job.

    Re-derives depth from ``parent_idx`` in one groupBy(doc_id): pointer
    doubling inside each doc's row (:func:`_doubled`), O(n log n) per doc
    of n spans, whatever the size of the other docs in the frame.

    Depth counts parent hops from the doc root (depth 0). A span that is
    not reachable from the root -- in or behind a parent cycle, which rank
    mode can produce, or under a pointer to a span not in the frame -- gets
    a null depth."""
    doc_id, depths, rows = _depth_columns()
    return join_result.groupBy(doc_id).agg(depths).select(*rows)


@per_jvm
def _doc_stats_columns(
    depth_complete: bool,
) -> tuple[tuple[Column, ...], tuple[Column, ...], tuple[Column, ...]]:
    """doc_stats' (per-doc feature aggregates, per-doc join-result
    aggregates, output columns)."""
    deepest = F.max("depth") if depth_complete else F.array_max(_rooted_depths()["depth"])
    return (
        (
            F.count("*").cast("int").alias("total_spans"),
            F.count_distinct("key").cast("int").alias("unique_keys"),
            F.count(F.col("cell")).cast("int").alias("total_cells"),
            F.count_distinct("cell").cast("int").alias("unique_cells"),
            F.sum("nbytes").cast("long").alias("total_bytes"),
        ),
        (
            F.sum(F.when(F.col("join_kind") == "redirect", 1).otherwise(0))
            .cast("int")
            .alias("total_chain"),
            (deepest + 1).cast("int").alias("tree_depth"),
        ),
        (
            *(F.col(n) for n in ("doc_id", "total_spans", "unique_keys", "total_cells", "unique_cells")),
            F.coalesce("tree_depth", F.lit(0)).alias("tree_depth"),
            F.coalesce("total_chain", F.lit(0)).alias("total_chain"),
            F.col("total_bytes"),
        ),
    )


def doc_stats(
    features: DataFrame,
    join_result: DataFrame,
    depth_complete: bool = False,
) -> DataFrame:
    """Golden per-doc stats (A4 analogue): (doc_id, total_spans,
    unique_keys, total_cells, unique_cells, tree_depth, total_chain,
    total_bytes).

    ``total_chain`` and ``tree_depth`` come from one groupBy(doc_id) over
    ``join_result``. ``tree_depth`` is the deepest depth reachable from
    the root, plus 1; spans with a null depth (unreachable, see
    :func:`compute_depths`) do not count. ``depth_complete`` is the
    producer's contract: True means every row's ``depth`` column is filled
    and current, so its max is read as is. Pass True only for exact-mode
    cascade output as the kernel emits it -- e.g. not after
    ``pages.attach_pages``, which re-parents rows and nulls only THEIR
    depths, leaving descendants' depths stale (r7 ADVICE #1)."""
    base, per_doc, out = _doc_stats_columns(depth_complete)
    return (
        live_features(features)
        .groupBy("doc_id")
        .agg(*base)
        .join(join_result.groupBy("doc_id").agg(*per_doc), "doc_id", "left")
        .select(*out)
    )


def cell_rollup(features: DataFrame, res: int = grid.COARSE_RES) -> DataFrame:
    """HostNode rollup analogue (nodes.py:802-835 + derived counts
    :735-760): per (doc, coarse cell): member keys, span count, distinct
    keys, media/text mix flags (the http/https mixed_content analogue)."""
    f = features.filter(F.col("cell").isNotNull())
    cell = grid.col_cell_parent(F.col("cell"), grid.FINE_RES, res).alias("cell")
    has_media = F.max(
        F.when(F.col("kind").isin("img", "video", "audio"), 1).otherwise(0)
    )
    has_text = F.max(F.when(F.col("kind").isin("text", "html", "css", "js"), 1).otherwise(0))
    return (
        f.groupBy("doc_id", cell)
        .agg(
            F.count("*").cast("int").alias("n_spans"),
            F.count_distinct("key").cast("int").alias("n_keys"),
            F.sort_array(F.collect_set("key")).alias("keys"),
            has_media.cast("boolean").alias("has_media"),
            has_text.cast("boolean").alias("has_text"),
            (has_media + has_text == 2).alias("mixed_content"),
            F.sum("nbytes").cast("long").alias("total_bytes"),
        )
    )


def hash_groups(features: DataFrame) -> DataFrame:
    """build_all_hashes analogue (har2tree.py:550-569): group spans by
    content digest -> member list."""
    f = features.filter(F.col("text") != "")
    return (
        f.select("doc_id", "span_idx", F.sha2(F.col("text"), 256).alias("body_hash"))
        .groupBy("body_hash")
        .agg(
            F.count("*").cast("int").alias("n_spans"),
            F.count_distinct("doc_id").cast("int").alias("n_docs"),
        )
    )


def redirect_chains(features: DataFrame, join_result: DataFrame) -> DataFrame:
    """Redirect-chain listing per doc (the ``redirects`` property analogue,
    har2tree.py:530-533): redirect-edge members ordered root-to-leaf.
    ``chain_len`` counts redirect EDGES anywhere in the tree — a whole-tree
    figure, deliberately broader than the reference's ``redirects`` list
    (which is the root->rendered-node path only; r7 ADVICE #3 documents
    the divergence). Depths are re-derived from the parent pointers
    (:func:`compute_depths`)."""
    red = join_result.filter(F.col("join_kind") == "redirect")
    d = compute_depths(join_result).withColumnRenamed("depth", "d")
    return (
        red.join(d, ["doc_id", "span_idx"])
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("d"), F.col("span_idx")))
                ),
                lambda s: s["span_idx"],
            ).alias("chain"),
            F.count("*").cast("int").alias("chain_len"),
        )
    )
