"""The consume-once join cascade (the heart of the engine).

The reference builds its tree with a priority-ordered cascade of hash joins
from parent candidates to unattached entries, where each successful join
consumes the child so weaker joins can't claim it (reference
har2tree.py:879-1014; consumption at :924, :958, :968, :987, :1011).

Two resolution modes:

  * ``resolve_rank`` — fully relational: ONE probe→target equi-join on
    (doc_id, pointer = key) generates the candidate edges of all five
    stages (r8; see candidate_edges), then one ``min_by`` aggregate per
    child (priority, parent offset, parent ordering) picks each child's
    winner with map-side partial combine. Single-pass, SQL-expressible
    (the driver's DuckDB oracle replays the same semantics as its own
    five-branch statement — the restructure is engine-side only, verified
    row/multiset-identical), and the idiomatic at-scale plan: the join is
    keyed by (doc_id, feature-key) so AQE can pick broadcast/skew
    variants. It deliberately relaxes the reference's DFS *visit order*
    to a per-child priority order — the consume-once guarantee (each
    child attached exactly once, strongest claim wins) is preserved.

  * ``resolve_exact`` — reference-parity sequential semantics: the per-doc
    DFS with true consume-once ordering and the spatial fallback cascade,
    run as a vectorized kernel behind ``mapInArrow`` (operators/kernel.py)
    — docs are independent and small, the natural unit of parallelism at
    10^12-doc scale; there is no cross-doc dataflow, so this parallelizes
    linearly. The kernel reads one row per document
    (``resolve_doc_rows``): from the flat feature table that takes one
    ``groupBy(doc_id)`` (one exchange, no sort); a streaming micro-batch
    builds the rows from parse's array stage with no doc_id exchange
    (only a round-robin spread when it has fewer input splits than
    cores).
    Matches the pure-Python oracle (oracle/pycascade.py) bit-for-bit.

Both modes build their column expressions once per JVM
(``session.per_jvm``): the ``_*_columns`` builders take no DataFrame, the
first call in a JVM pays their py4j round trips (~2,200 for the rank
cascade), and every later call only makes the filter/select/join/groupBy
calls.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from har2tree_spark.operators.parse import KERNEL_FIELDS
from har2tree_spark.schema import JOIN_RESULT_SCHEMA, PRIORITY
from har2tree_spark.session import per_jvm

_BIG = 1 << 31


@per_jvm
def _is_live() -> Column:
    return F.col("span_idx").isNotNull() & (F.col("n_live") > 0)


def live_features(features: DataFrame) -> DataFrame:
    """Surviving spans only (drops quarantined-doc placeholder rows)."""
    return features.filter(_is_live())


@per_jvm
def _target_columns() -> tuple[Column, tuple[Column, ...], Column, tuple[Column, ...]]:
    """candidate_edges' target table: (key filter, projection, t_red_ok,
    target columns). The redirect prefix rule (rn up to and including the
    first valid hit, per (doc_id, key), ordered by (offset, span_idx)) is a
    target-side window — see the candidate_edges docstring proof."""
    w_key = Window.partitionBy("doc_id", "key").orderBy("offset", "span_idx")
    rn = F.row_number().over(w_key)
    first_valid = F.min(F.when(F.col("valid"), rn)).over(
        Window.partitionBy("doc_id", "key")
    )
    names = ("doc_id", "key", "span_idx", "offset", "valid", "media_ref")
    return (
        F.col("key").isNotNull(),
        tuple(F.col(n) for n in names),
        rn <= F.coalesce(first_valid, F.lit(_BIG)),
        (
            F.col("doc_id").alias("t_doc"),
            F.col("key").alias("t_key"),
            F.col("span_idx").alias("t_idx"),
            F.col("offset").alias("t_offset"),
            (F.col("media_ref") == "").alias("t_no_media"),
            F.col("t_red_ok"),
        ),
    )


@per_jvm
def _probe_columns() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """candidate_edges' probe table: one row per pointer lookup, generated
    by a SINGLE scan — each span contributes a small array of (ptr, probe)
    structs (0-1 redirect, 0-1 initiator/referer, 0-k frame/resource
    tokens) exploded once. The token explode runs ONCE and serves both
    frame and resource stages. Returns the explode's select list and the
    flattening one."""
    def _probe(ptr, kind):
        return F.struct(ptr.alias("ptr"), kind.alias("probe"))

    empty = F.array().cast("array<struct<ptr:string,probe:string>>")
    probe_arr = F.concat(
        F.when(
            (F.col("kind") == "redirect")
            & (F.col("media_ref") != "")
            # NOT (c_key <=> p_key) with c_key == p_media joined: evaluable
            # probe-side as NOT (p_media <=> p_key)
            & ~F.col("media_ref").eqNullSafe(F.col("key")),
            F.array(_probe(F.col("media_ref"), F.lit("redirect"))),
        ).otherwise(empty),
        F.when(
            F.col("kind").isin("iframe", "html", "css", "js"),
            F.transform(
                "ref_tokens",
                lambda t: _probe(
                    t,
                    F.when(F.col("kind") == "iframe", "frame").otherwise(
                        "resource"
                    ),
                ),
            ),
        ).otherwise(empty),
        F.when(
            F.col("media_ref") != "",
            F.array(
                _probe(
                    F.col("media_ref"),
                    F.when(F.col("kind") == "js", "initiator").otherwise(
                        "referer"
                    ),
                )
            ),
        ).otherwise(empty),
    )
    doc_id, root_idx = F.col("doc_id"), F.col("root_idx")
    src_idx, src_offset = F.col("src_idx"), F.col("src_offset")
    return (
        doc_id,
        F.col("span_idx").alias("src_idx"),
        F.col("offset").alias("src_offset"),
        root_idx,
        F.explode(probe_arr).alias("pp"),
    ), (
        doc_id, src_idx, src_offset, root_idx,
        F.col("pp.ptr").alias("ptr"), F.col("pp.probe").alias("probe"),
    )


@per_jvm
def _hit_columns() -> tuple[Column, Column, tuple[Column, ...], Column]:
    """candidate_edges' probe->target join: (join condition, hit filter,
    (child, parent) edge columns, priority)."""
    is_parent_probe = F.col("probe").isin("redirect", "frame", "resource")
    prio = F.col("join_kind")
    return (
        (F.col("doc_id") == F.col("t_doc")) & (F.col("ptr") == F.col("t_key")),
        (F.col("t_idx") != F.col("src_idx"))  # not_self, all stages
        & ((F.col("probe") != "resource") | F.col("t_no_media"))
        & ((F.col("probe") != "redirect") | F.col("t_red_ok")),
        (
            F.col("doc_id"),
            F.when(is_parent_probe, F.col("t_idx"))
            .otherwise(F.col("src_idx"))
            .alias("child_idx"),
            F.when(is_parent_probe, F.col("src_idx"))
            .otherwise(F.col("t_idx"))
            .alias("parent_idx"),
            F.col("probe").alias("join_kind"),
            F.when(is_parent_probe, F.col("src_offset"))
            .otherwise(F.col("t_offset"))
            .alias("p_offset"),
            F.col("root_idx"),
        ),
        F.when(prio == "redirect", PRIORITY["redirect"])
        .when(prio == "frame", PRIORITY["frame"])
        .when(prio == "initiator", PRIORITY["initiator"])
        .when(prio == "referer", PRIORITY["referer"])
        .otherwise(PRIORITY["resource"])
        .cast("int"),
    )


def candidate_edges(features: DataFrame, dedup: bool = True) -> DataFrame:
    """Union of candidate (child, parent, stage) edges for the five cascade
    stages. Returns columns:
    doc_id, child_idx, parent_idx, join_kind, priority, p_offset, root_idx.

    ONE equi-join on (doc_id, pointer = key) produces all five stages
    (r8 restructure — guide §2.4/§3: the r7 shape ran five separate joins,
    i.e. five exchanges/broadcast builds over the same table). Every stage
    is a "pointer value resolves to a span key" lookup; they differ only in
    which side holds the pointer:

      J2 redirect   parent.media_ref -> child.key   (prefix-to-first-valid)
      J3 frame      iframe parent ref_tokens -> child.key
      J4 initiator  js child.media_ref -> parent.key
      J5 referer    non-js child.media_ref -> parent.key
      J6 resource   html/css/js parent ref_tokens -> child.key (child has
                    no referer of its own)

    So: build one probe table (doc_id, ptr, src span, probe kind) as a
    3-branch narrow union, one target table of key-addressable spans, join
    once, and map (src, hit) to (child, parent) per probe kind.

    The redirect prefix rule is PARENT-INDEPENDENT, which lets it move to
    the target side, before the join: a redirect parent's candidate list is
    all spans with key == p_media ordered by (offset, span_idx), cut at the
    first valid one. The r7 per-parent window also excluded the parent row
    itself (not_self) and parents with p_key == p_media — but a parent with
    p_key == p_media is dropped whole by the eqNullSafe guard, so the
    parent row can never appear in its own surviving candidate list, and
    the per-(doc, key) prefix equals the per-parent prefix exactly. The
    window therefore runs once over the n-row target table instead of over
    the edge fan-out."""
    f = live_features(features)
    has_key, projection, red_ok, target = _target_columns()
    tgt = f.filter(has_key).select(*projection).withColumn("t_red_ok", red_ok).select(*target)
    # Join strategy (r8, guide §3.1): SHUFFLE_HASH building the target side.
    # The target exchange ALREADY exists — the redirect-prefix window hash-
    # partitions tgt by exactly the join key (doc_id, key) — so the shuffled
    # join adds only the probe-side exchange, and the two input shuffles
    # materialize CONCURRENTLY under AQE. The default (auto-broadcast at
    # bench scale) instead serializes three waves: window exchange -> window
    # + driver collect + broadcast build -> probe stage. Measured (sf0.1,
    # interleaved best-of-4, two sessions): resolve_rank 0.95-1.35 s
    # broadcast vs 0.82-1.12 s shuffled-hash, every interleaved pairing in
    # favor; result-identical (strategy hints cannot change join semantics;
    # verified exceptAll-empty both directions). At cluster scale both
    # sides grow with the data, so a broadcast is not on the table anyway;
    # shuffled-hash keeps the window-exchange reuse and skips sort-merge's
    # per-side sorts, the build side is the narrower table, and AQE's
    # skew-join splitting applies to SHJ.
    tgt = tgt.hint("shuffle_hash")

    exploded, flat = _probe_columns()
    probes = f.select(*exploded).select(*flat)

    on, keep, edge_cols, priority = _hit_columns()
    edges = probes.join(tgt, on).filter(keep).select(*edge_cols)
    if dedup:
        # token fan-out (frame/resource) can emit the same edge once per
        # matching token; callers that consume raw edges want set semantics.
        # resolve_rank skips this shuffle: duplicate edges are bit-identical
        # in every ranked column, so a row_number()==1 winner is invariant.
        edges = edges.dropDuplicates(
            ["doc_id", "child_idx", "parent_idx", "join_kind"]
        )
    return edges.withColumn("priority", priority)


@per_jvm
def _rank_columns() -> tuple:
    """resolve_rank's expressions: the span projection, the fallback
    edges, the winner pick and the roots (see resolve_rank's comments)."""
    doc_id, span_idx, root_idx = F.col("doc_id"), F.col("span_idx"), F.col("root_idx")
    child_idx = F.col("child_idx")
    fallback = (
        span_idx != root_idx,
        (
            doc_id,
            span_idx.alias("child_idx"),
            root_idx.alias("parent_idx"),
            F.lit("fallback_root").alias("join_kind"),
            F.lit(_BIG).alias("p_offset"),
            root_idx,
            F.lit(PRIORITY["fallback_root"]).cast("int").alias("priority"),
        ),
    )
    # winner per child = min by (priority, p_offset, parent_idx) -- as ONE
    # aggregate instead of the r7 row_number window (guide §2.3 "aggregate
    # before you shuffle"): the aggregate partial-combines map-side
    # (duplicate token-fanout edges and beaten candidates collapse before
    # the exchange). It plans as a partial and a final SortAggregate, each
    # over a Sort on (doc_id, child_idx): min_by's struct buffer is not
    # HashAggregate-able, so the edge table is sorted on both sides of the
    # exchange. The packed DECIMAL(38,0) order key that would make it a
    # HashAggregate measured slower (OPTIMIZATION_r08.md, session 3, §3:
    # 1.047 s min_by vs 1.171 s packed), so the struct pick stays.
    # min_by tie ambiguity is void: within one (doc, child) group the
    # ordering struct determines the payload -- (child, priority)
    # determines join_kind (priority<->kind is a bijection) and p_offset
    # is a function of the parent -- so equal-ordering rows are bit-equal
    # duplicates (token fan-out) and the pick equals the window's rk==1.
    best = F.min_by(
        F.struct("parent_idx", "join_kind", "priority"),
        F.struct("priority", "p_offset", "parent_idx"),
    ).alias("b")
    won = (
        child_idx != root_idx,
        (doc_id, child_idx),
        best,
        (
            doc_id,
            child_idx.alias("span_idx"),
            F.col("b.parent_idx").alias("parent_idx"),
            F.col("b.join_kind").alias("join_kind"),
            F.col("b.priority").alias("priority"),
        ),
    )
    roots = (
        span_idx == root_idx,
        (
            doc_id,
            span_idx,
            F.lit(-1).alias("parent_idx"),
            F.lit("root").alias("join_kind"),
            F.lit(PRIORITY["root"]).alias("priority"),
        ),
    )
    return (
        (doc_id, span_idx, root_idx),
        fallback,
        won,
        roots,
        F.lit(None).cast("int"),
        tuple(F.col(c.name) for c in JOIN_RESULT_SCHEMA.fields),
    )


def resolve_rank(features: DataFrame) -> DataFrame:
    """Consume-once resolution (rank mode): one candidate equi-join plus
    one ``min_by`` winner aggregate. Children with no candidate edge fall
    to 'fallback_root' (the spatial fallback stages are applied by
    operators.fallback on top of this). Returns JOIN_RESULT_SCHEMA columns.

    Lazy, like ``resolve_exact``: building the frame starts no job. The
    candidate probe/target branches and the roots/unmatched branches all
    read ``features``, so hand it a materialized table (a checkpoint or a
    file scan), as ``pipeline.run_pipeline`` does; over lazy parse output
    each branch re-runs parse."""
    spans, fallback, won, roots, no_depth, out_cols = _rank_columns()
    f = live_features(features).select(*spans)
    edges = candidate_edges(features, dedup=False)
    # spans with no candidate edge fall to the doc root: modeled as a
    # synthetic lowest-priority edge per non-root span rather than a
    # left-anti join against the winners — the anti-join variant makes the
    # whole 5-join cascade subtree a 2x common subexpression (Spark does
    # not dedup it: the full edge plan executed once under the window and
    # once under the anti-join), and adds a shuffle of its own. One union +
    # one aggregate does it in a single pass.
    not_root, fallback_cols = fallback
    not_root_child, by_child, best, won_cols = won
    is_root, root_cols = roots
    winners = (
        edges.filter(not_root_child)
        .unionByName(f.filter(not_root).select(*fallback_cols))
        .groupBy(*by_child)
        .agg(best)
        .select(*won_cols)
    )
    out = f.filter(is_root).select(*root_cols).unionByName(winners)
    return out.withColumn("depth", no_depth).select(*out_cols)


@per_jvm
def _exact_columns() -> tuple[tuple[Column, ...], Column, Column]:
    """resolve_exact's (kernel projection, doc_id, doc-row aggregate)."""
    fields = tuple(F.col(n) for n in KERNEL_FIELDS)
    doc_id = F.col("doc_id")
    return (doc_id, *fields), doc_id, F.collect_list(F.struct(*fields)).alias("live")


def resolve_exact(features: DataFrame) -> DataFrame:
    """Reference-parity sequential cascade per doc (operators/kernel.py)
    over the flat feature table: the live spans are hash-repartitioned by
    doc_id and collected into one doc row each (``groupBy`` on the same
    partitioning: no second exchange, no sort), then run through
    ``resolve_doc_rows`` -- the kernel orders each doc itself."""
    projection, doc_id, live = _exact_columns()
    f = live_features(features).select(*projection)
    # EXPLICIT partition count (1 task/core): repartition("doc_id") without
    # a count lets AQE coalesce by shuffle BYTES -- but the groupBy's
    # consumer is the Python kernel, whose cost is CPU per span, not
    # bytes, so AQE under-partitions it (measured: 9 tasks on 8 cores = a
    # 2-wave schedule with a one-task second wave, ~40% idle; the whole
    # N-vs-4N scaling gap lived there). The groupBy reuses this
    # hashpartitioning(doc_id, n) as its distribution, so it is the one
    # exchange. One task per core, not more: each kernel task pays a fixed
    # Arrow-stream + Python-worker round-trip cost, so extra waves multiply
    # overhead without adding parallelism (r8 measured on 32 cores, q4
    # kernel: 32 tasks 0.85 s, 64 tasks 1.10 s, 128 tasks 1.48 s -- and the
    # gap persists at 10x rows because docs hash-spread evenly, so one
    # wave has no straggler tail).
    n_parts = f.sparkSession.sparkContext.defaultParallelism
    docs = f.repartition(n_parts, doc_id).groupBy(doc_id).agg(live)
    return resolve_doc_rows(docs)


def resolve_doc_rows(doc_rows: DataFrame) -> DataFrame:
    """The exact kernel over doc rows ``(doc_id, live:
    array<struct<KERNEL_FIELDS>>)`` (``parse.kernel_docs`` or
    ``resolve_exact``'s groupBy): one ``mapInArrow``, numpy views straight
    off the Arrow buffers, no pandas block-manager round trip. Adds no
    exchange: each input row is a whole document. Returns
    JOIN_RESULT_SCHEMA rows."""
    from har2tree_spark.operators.kernel import cascade_doc_rows  # noqa: PLC0415

    return doc_rows.mapInArrow(cascade_doc_rows, JOIN_RESULT_SCHEMA)
