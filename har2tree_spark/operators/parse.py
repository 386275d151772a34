"""Parse pass: documents(doc_id, spans) -> flat per-span feature rows.

Re-grounds the reference's per-entry URLNode feature extraction
(reference nodes.py:172-641) and its pre-filters — empty-URL drop
(har2tree.py:330-331) and status-0 duplicate dedup (har2tree.py:575-603) —
as pure Catalyst column expressions:

  * key extraction, validity, per-doc dedup and the doc root are all computed
    AT THE ARRAY LEVEL with higher-order functions (transform/exists/filter)
    BEFORE the explode, so the whole parse is a narrow, shuffle-free,
    whole-stage-codegen'd map — no window, no per-row Python, no UDF.
    (The reference's dedup is a correlated existence predicate; at array
    level it is `exists(spans, twin)` inside one document, which is exactly
    the per-doc scope the reference uses.)
  * grid-cell encode (hostname -> H3-style cell analogue, nodes.py:204-208)
    is integer multiply/floor arithmetic (geo/grid.py), also JVM-side.

At 100 TB this matters: parse touches every byte once and produces the
(doc_id-clustered) feature table every later join consumes; keeping it
narrow means the only shuffles in the whole pipeline are the ones the
joins/aggregations genuinely need.

``kernel_docs`` stops the same array stage before the explode and emits
the exact kernel's doc rows (one row per document, KERNEL_FIELDS per live
span); the flat table's kernel columns come from the same definitions.

The column expressions are built once per JVM (``session.per_jvm``): the
``_live_columns`` / ``_kernel_doc_columns`` / ``_feature_columns``
builders take no DataFrame, and the first call in a JVM pays their
~2,700 py4j round trips; every later call only makes the selects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from har2tree_spark.geo import grid
from har2tree_spark.session import per_jvm

KEY_TOKEN_RE = "^k(0|[1-9][0-9]{0,14})\\z"  # canonical: no leading zeros, <=15 digits; \z anchor (Java $ also matches before a trailing newline — RE2/pycascade alignment)
# (key<->int64 bijection that also survives a float64 round trip: < 2^53)

# integer kind codes for the Arrow hot path (object/string columns dominate
# Arrow->pandas cost; every unknown kind behaves like 'text' in the cascade)
KIND_CODES = {
    "text": 0, "html": 1, "css": 2, "js": 3, "img": 4,
    "video": 5, "audio": 6, "iframe": 7, "redirect": 8, "empty": 9,
}


def _kind_code(kind: Column) -> Column:
    expr = F.lit(0)
    for name, code in KIND_CODES.items():
        if code == 0:
            continue
        expr = F.when(kind == name, code).otherwise(expr)
    return expr.cast("tinyint")


def _span_key(s: Column) -> Column:
    """First whitespace token of text iff it looks like a feature key."""
    tok = F.split_part(F.coalesce(s["text"], F.lit("")), F.lit(" "), F.lit(1))
    return F.when(tok.rlike(KEY_TOKEN_RE), tok)


_STACK_PREFIX = "stack:"


def _resolve_media(m: Column) -> Column:
    """F21 recursive initiator stack walk, pre-flattened at parse.

    The reference resolves a script initiator by recursively walking
    ``_initiator.stack.parent`` to the first stack level that has any
    callFrames and taking that level's FIRST frame URL (reference
    nodes.py:602-616,643-649); an empty first-frame URL resolves to no
    initiator WITHOUT walking deeper levels. Re-grounded grammar:
    ``media_ref = 'stack:<lvl0>|<lvl1>|...'`` where each ``|``-separated
    level is a space-separated callFrame-URL list. The resolved pointer is
    the first token of the first non-empty level, or '' (no pointer) when
    every level is empty — so unresolvable stacks fall through to the
    spatial fallback exactly like the reference's ``url_stack is None``
    path. Non-stack media_ref passes through unchanged, and the walk is a
    pure JVM expression (no per-row Python, no recursion at runtime)."""
    body = F.substr(m, F.lit(len(_STACK_PREFIX) + 1))
    first_level = F.get(F.filter(F.split(body, "\\|"), lambda lvl: lvl != ""), 0)
    resolved = F.coalesce(F.split_part(first_level, F.lit(" "), F.lit(1)), F.lit(""))
    return F.when(m.startswith(_STACK_PREFIX), resolved).otherwise(m)


def _ref_tokens(text: Column, key: Column) -> Column:
    """Tokens of ``text`` addressing OTHER spans (frame/resource join keys)."""
    return F.filter(
        F.split(text, " "), lambda t: t.rlike(KEY_TOKEN_RE) & ~(t.eqNullSafe(key))
    )


def _ref_nums(ref_tokens: Column) -> Column:
    return F.transform(ref_tokens, grid.col_key_num)


# The exact kernel's per-span columns, in doc-row struct order. Fixed-width
# only: object/string columns dominate the Arrow conversion cost, so keys/
# kinds/refs cross as int codes and the geometry is recomputed in-kernel
# from key_num (vectorized integer hashes, geo/grid.py).
KERNEL_FIELDS = (
    "span_idx", "kind_code", "has_media", "media_num",
    "offset", "key_num", "valid", "ref_nums",
)


def _kernel_fields(p: Column, key_num: Column, ref_nums: Column) -> dict[str, Column]:
    """KERNEL_FIELDS of one parsed span struct ``p`` -- the single
    definition behind both the flat ``parse_documents`` columns and the
    ``kernel_docs`` doc rows."""
    return {
        "span_idx": p["span_idx"],
        "kind_code": _kind_code(p["kind"]),
        "has_media": p["media_ref"] != "",
        "media_num": F.when(
            p["media_ref"].rlike(KEY_TOKEN_RE), grid.col_key_num(p["media_ref"])
        ),
        "offset": p["offset"],
        "key_num": key_num,
        "valid": p["valid"],
        "ref_nums": ref_nums,
    }


@per_jvm
def _live_columns() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """The two select lists of the array stage: documents -> (doc_id,
    _parsed), then -> (doc_id, _parsed, _live), every span parsed and the
    surviving ones, as per-document arrays (no explode yet)."""
    spans = F.coalesce(F.col("spans"), F.array())

    parsed = F.transform(
        spans,
        lambda s, i: F.struct(
            i.cast("int").alias("span_idx"),
            F.coalesce(s["kind"], F.lit("")).alias("kind"),
            F.coalesce(s["text"], F.lit("")).alias("text"),
            _resolve_media(F.coalesce(s["media_ref"], F.lit(""))).alias("media_ref"),
            F.coalesce(s["offset"], i.cast("int")).alias("offset"),
            _span_key(s).alias("key"),
            (F.coalesce(s["kind"], F.lit("")) != "empty").alias("valid"),
        ),
    )
    # status-0 dedup (P2): invalid span whose key also has a valid twin.
    # eqNullSafe, not ==: with a plain equality a key-less sibling span makes
    # the exists() predicate NULL, and exists(no-true, some-null) is NULL —
    # which then leaks through `suppressed`/`dropped` and silently drops a
    # lone invalid span in the live filter (SQL EXISTS — the DuckDB oracle —
    # treats those rows as non-matching, so null-safe IS the oracle
    # semantics; found by the real-HAR corpus, tests/test_har_source.py).
    parsed = F.transform(
        parsed,
        lambda p: p.withField(
            "suppressed",
            ~p["valid"]
            & p["key"].isNotNull()
            & F.exists(parsed, lambda q: q["valid"] & q["key"].eqNullSafe(p["key"])),
        ),
    )
    # P1: featureless spans never participate in joins
    parsed = F.transform(
        parsed,
        lambda p: p.withField(
            "dropped",
            p["suppressed"]
            | (p["key"].isNull() & (p["media_ref"] == "") & (p["text"] == "")),
        ),
    )
    # Staged selects, NOT one big select: each stage's expensive array
    # expression is referenced more than once downstream, which stops
    # CollapseProject from inlining it — so the parse chain, the live
    # filter and the doc-root scan each evaluate ONCE PER DOCUMENT.
    # (A single select here made Catalyst re-embed the whole parse tree
    # into root_idx/n_live and re-evaluate it per EXPLODED ROW — O(n^2)
    # array scans per doc, observed as the dominant pipeline cost.)
    doc_id, parsed_col = F.col("doc_id"), F.col("_parsed")
    return (doc_id, parsed.alias("_parsed")), (
        doc_id,
        parsed_col,
        F.filter(parsed_col, lambda p: ~p["dropped"]).alias("_live"),
    )


def _live_spans(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, _parsed, _live) (see ``_live_columns``)."""
    parsed, live = _live_columns()
    return docs.select(*parsed).select(*live)


@per_jvm
def _kernel_doc_columns() -> tuple[Column, ...]:
    """``kernel_docs``' select list over the array stage."""
    def fields(p: Column) -> Column:
        key_num = grid.col_key_num(p["key"])
        ref_nums = _ref_nums(_ref_tokens(p["text"], p["key"]))
        return F.struct(
            *(c.alias(n) for n, c in _kernel_fields(p, key_num, ref_nums).items())
        )

    return F.col("doc_id"), F.transform(F.col("_live"), fields).alias("live")


def kernel_docs(docs: DataFrame) -> DataFrame:
    """documents -> exact-kernel doc rows ``(doc_id, live:
    array<struct<KERNEL_FIELDS>>)``: one row per input document, its live
    spans in span order (empty for a quarantined doc). A narrow map -- the
    same array stage as ``parse_documents``, stopped before the explode."""
    return _live_spans(docs).select(*_kernel_doc_columns())


@per_jvm
def _feature_columns(
    keep_dropped: bool,
) -> tuple[tuple[Column, ...], tuple[Column, ...], tuple[Column, ...], Column]:
    """``parse_documents``' select lists after the array stage: the doc
    root and live count, the explode, and the flat feature columns; then
    the ``ref_nums`` column added over the flat ones."""
    doc_id, root_idx, n_live = F.col("doc_id"), F.col("root_idx"), F.col("n_live")
    parsed, live = F.col("_parsed"), F.col("_live")
    # doc root = first live span by (offset, span_idx) — har2tree.py:428
    root = F.array_min(
        F.transform(live, lambda p: F.struct(p["offset"], p["span_idx"]))
    )["span_idx"]
    per_doc = (
        doc_id,
        F.coalesce(root, F.lit(-1)).alias("root_idx"),
        F.size(live).alias("n_live"),
        parsed,
        live,
    )
    exploded = (
        doc_id,
        root_idx,
        n_live,
        F.posexplode_outer(parsed if keep_dropped else live).alias("pos", "p"),
    )

    key = F.col("p.key")
    key_num = grid.col_key_num(key)
    lon, lat = grid.col_point(key_num)
    text = F.col("p.text")
    # ref_nums derives from the ref_tokens column (referenced twice ->
    # CollapseProject keeps the token filter evaluated once)
    kc = _kernel_fields(F.col("p"), key_num, _ref_nums(F.col("ref_tokens")))
    flat = (
        doc_id,
        root_idx,
        n_live,
        kc["span_idx"].alias("span_idx"),
        F.col("p.kind").alias("kind"),
        text.alias("text"),
        F.col("p.media_ref").alias("media_ref"),
        kc["offset"].alias("offset"),
        key.alias("key"),
        kc["key_num"].alias("key_num"),
        lon.alias("lon"),
        lat.alias("lat"),
        grid.col_cell(key_num, grid.FINE_RES).alias("cell"),
        grid.col_cell(key_num, grid.COARSE_RES).alias("coarse_cell"),
        kc["valid"].alias("valid"),
        F.coalesce(F.col("p.suppressed"), F.lit(False)).alias("suppressed"),
        F.coalesce(F.col("p.dropped"), F.lit(False)).alias("dropped"),
        F.octet_length(text).cast("long").alias("nbytes"),
        _ref_tokens(text, key).alias("ref_tokens"),
        # fixed-width kernel columns (no object dtype across Arrow):
        kc["kind_code"].alias("kind_code"),
        kc["has_media"].alias("has_media"),
        kc["media_num"].alias("media_num"),
    )
    return per_doc, exploded, flat, kc["ref_nums"]


def parse_documents(docs: DataFrame, keep_dropped: bool = False) -> DataFrame:
    """documents -> features: (doc_id, root_idx, n_live, span_idx, kind,
    text, media_ref, offset, key, key_num, lon, lat, cell, coarse_cell,
    valid, suppressed, dropped, nbytes, ref_tokens, kind_code, has_media,
    media_num, ref_nums). One output row per surviving span (every span,
    dropped ones too, with ``keep_dropped``). Without ``keep_dropped`` a
    quarantined doc (``n_live`` 0) keeps one placeholder row with a null
    ``span_idx``."""
    per_doc, exploded, flat, ref_nums = _feature_columns(keep_dropped)
    return (
        _live_spans(docs)
        .select(*per_doc)
        .select(*exploded)
        .select(*flat)
        .withColumn("ref_nums", ref_nums)
    )
