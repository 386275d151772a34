"""Multi-page orphan attach — the reference's pages ladder (J11's
real-capture path).

When the relational cascade and the spatial fallbacks leave a span on the
generic root fallback, the reference re-attaches it through the pages
ladder (reference har2tree.py:800-855), in order:

  A. the capture has >1 pages AND the span carries a pageref whose page
     root is some OTHER node -> attach to that page root;
  B. else, the rendered node differs from the tree root -> attach to the
     rendered node (redirect chains land orphans on the landing page);
  C. else, the capture has pages -> attach to the PRIOR page's root (the
     last page before the span's page that actually has a root; a span
     with no pageref anchors to the last rooted page); a missing anchor
     keeps the tree root (the reference's IndexError arm).

All the per-document state (span pagerefs after the missed-page mutation,
page roots, prior-page anchors) is precomputed at ingest into aligned
array columns on the captures row (sources/har_source._pages_layout), so
this operator is PURE JVM column logic: one doc_id-keyed join of the tree
against the (tiny) captures dimension plus element_at/array_position
lookups -- no Python.  Only ``fallback_root`` rows are touched:
redirect/frame/initiator/referer/resource wins and the hostname/spatial
fallbacks (the ladder's earlier arms) stay exactly as resolved.

A re-parent that would close a parent cycle is rejected. The cycle
members come from the pointer doubling in ``stats`` (the engine's one
parent-pointer walker, exact for any cycle length): one groupBy(doc_id)
over the post-ladder pointers, joined back on (doc_id, span_idx).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from har2tree_spark.operators.stats import _cycle_members

# ladder-arm priorities: after every relational + spatial stage, before
# the terminal root fallback (the rows they refine carried fallback_root)
PAGE_PRIORITY = {"page": 10, "page_rendered": 11, "page_before": 12}

_CAP_COLS = (
    "rendered_span_idx",
    "span_pagerefs",
    "page_ids",
    "pages_root_idx",
    "page_before_root_idx",
    "page_default_anchor_idx",
)


def attach_pages(tree: DataFrame, captures: DataFrame) -> DataFrame:
    """join_result + captures -> join_result with ``fallback_root`` rows
    re-attached through the pages ladder.

    ``tree``: JOIN_RESULT_SCHEMA rows (the exact/rank cascade output, after
    any spatial fallback stages).  ``captures``: read_har_captures output.
    Re-parented rows get join_kind 'page' / 'page_rendered' / 'page_before'
    and a NULL depth (parents changed; re-run the depth pass if depths are
    consumed downstream)."""
    caps = captures.select("doc_id", *_CAP_COLS)
    roots = (
        tree.filter(F.col("parent_idx") == -1)
        .select("doc_id", F.col("span_idx").alias("tree_root_idx"))
        .dropDuplicates(["doc_id"])
    )
    t = tree.join(caps, "doc_id", "left").join(roots, "doc_id", "left")

    pr = F.element_at("span_pagerefs", F.col("span_idx") + 1)
    # 1-based position; 0 = miss (cast: array_position yields bigint,
    # element_at wants int)
    pidx = F.array_position(F.col("page_ids"), pr).cast("int")
    proot = F.when(pidx > 0, F.element_at("pages_root_idx", pidx))
    before = F.coalesce(
        F.when(pidx > 0, F.element_at("page_before_root_idx", pidx)),
        F.col("page_default_anchor_idx"),
    )
    rendered = F.col("rendered_span_idx")

    arm_a = (
        (F.size("page_ids") > 1)
        & pr.isNotNull()
        & proot.isNotNull()
        & (proot != F.col("span_idx"))
    )
    arm_b = (
        rendered.isNotNull()
        & (rendered != F.col("tree_root_idx"))
        & (rendered != F.col("span_idx"))
    )
    arm_c = (
        (F.size("page_ids") > 0)
        & before.isNotNull()
        & (before != F.col("span_idx"))
    )

    # arm B (rendered node) applies even to pages-less captures; arms A/C
    # self-gate on page_ids through size()/array_position() null semantics
    is_orphan = F.col("join_kind") == "fallback_root"
    new_parent = F.when(arm_a, proot).when(arm_b, rendered).when(arm_c, before)
    new_kind = (
        F.when(arm_a, F.lit("page"))
        .when(arm_b, F.lit("page_rendered"))
        .when(arm_c, F.lit("page_before"))
    )
    new_prio = (
        F.when(arm_a, PAGE_PRIORITY["page"])
        .when(arm_b, PAGE_PRIORITY["page_rendered"])
        .when(arm_c, PAGE_PRIORITY["page_before"])
    )
    hit = is_orphan & new_parent.isNotNull()
    cand = t.select(
        "doc_id",
        "span_idx",
        F.col("parent_idx").alias("old_parent"),
        F.col("join_kind").alias("old_kind"),
        F.col("priority").alias("old_prio"),
        F.col("depth").alias("old_depth"),
        hit.alias("hit"),
        new_parent.cast("int").alias("new_parent"),
        new_kind.alias("new_kind"),
        new_prio.cast("int").alias("new_prio"),
    )
    # Cycle guard (r7 ADVICE #2): an orphan's anchor (page root / rendered
    # node / prior-page root) can itself sit UNDER the orphan — e.g. the
    # page root was claimed as the orphan's resource child by the cascade —
    # and re-parenting would then close a cycle the reference's sequential
    # build cannot produce, leaving cycle members unreachable to the depth
    # pass. A re-parent is rejected iff its span is on a cycle of the
    # POST-ladder parent pointers (so mutually dependent re-parents are
    # caught too): stats' pointer doubling finds the cycle members, one
    # aggregate per doc, joined back on (doc_id, span_idx). A rejected row
    # keeps its original fallback_root edge, which can never create a cycle
    # (its path ends at the tree root). A re-parent whose anchor path only
    # runs into ANOTHER orphan's cycle is not itself on it and lands: once
    # that cycle's members are rejected its path ends at the root again.
    on_cycle = (
        cand.select(
            "doc_id",
            "span_idx",
            F.when(F.col("hit"), F.col("new_parent"))
            .otherwise(F.col("old_parent"))
            .alias("parent_idx"),
        )
        .groupBy("doc_id")
        .agg(_cycle_members().alias("members"))
        .select("doc_id", F.explode("members").alias("span_idx"), F.lit(True).alias("cyc"))
    )
    cand = cand.join(on_cycle, ["doc_id", "span_idx"], "left")
    ok = F.col("hit") & F.col("cyc").isNull()
    return cand.select(
        "doc_id",
        "span_idx",
        F.when(ok, F.col("new_parent")).otherwise(F.col("old_parent")).cast(
            "int"
        ).alias("parent_idx"),
        F.when(ok, F.col("new_kind")).otherwise(F.col("old_kind")).alias(
            "join_kind"
        ),
        F.when(ok, F.col("new_prio")).otherwise(F.col("old_prio")).cast(
            "int"
        ).alias("priority"),
        F.when(ok, F.lit(None)).otherwise(F.col("old_depth")).cast("int").alias(
            "depth"
        ),
    )
