"""Per-span attribute operators — the URLNode feature-family analogues the
round-1 survey left uncovered.

  * ``pages_root_fill``  — W5 (reference har2tree.py:634-645): every span is
    assigned a page; pageref-less spans are filled with the document's first
    page via a first-value-over-window fill, and each page's root is its
    first span by (offset, span_idx). Re-grounded: the coarse grid cell is
    the page-id analogue.
  * ``resources_hashes`` — A7 (reference nodes.py:651-659): per-span digest
    set = body hash ∪ embedded-resource hashes. Re-grounded: sha256 of the
    span text plus sha256 of each referenced key token.
  * ``marker_extract`` / ``marker_rollup`` — F23/F24 + A2 cookie analogues
    (reference nodes.py:520-560, 802-835): a span RECEIVES markers (its
    embedded key tokens); a marker is cross-zone ("third-party") when the
    marker key's coarse cell differs from the receiving span's coarse cell.
    The rollup set-unions markers per zone, mirroring the HostNode
    cookie rollup.
  * ``identifiers_extract`` — F25 (reference nodes.py:560-590): distinct
    sorted identifier tokens per span via one regexp scan.
  * ``key_class`` — F6/F7 (reference helper.py IP-literal detection + IDNA
    decode): classify a ref's grammar and normalize it to the canonical key
    form; 'numeric' (IP-literal analogue) gains the 'k' prefix, 'encoded'
    (IDNA analogue) strips the 'xn--' marker and reverses the payload — a
    deterministic, SQL-replayable stand-in for punycode.

Everything is pure ``F.*`` column expressions over the feature table —
narrow except the two windows/aggregations that genuinely need a shuffle,
both keyed by doc_id (co-partitioned with every other per-doc stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from har2tree_spark.geo import grid
from har2tree_spark.operators.cascade import live_features
from har2tree_spark.operators.parse import KEY_TOKEN_RE


def pages_root_fill(features: DataFrame) -> DataFrame:
    """(doc_id, span_idx, page_cell, page_root_idx): W5 first-over-window
    fill. page_cell = own coarse cell, else the doc's first non-null coarse
    cell by (offset, span_idx); page_root_idx = the page's first span."""
    f = live_features(features).select("doc_id", "span_idx", "offset", "coarse_cell")
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("offset", "span_idx")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    filled = f.withColumn(
        "page_cell",
        F.coalesce(
            F.col("coarse_cell"),
            F.first("coarse_cell", ignorenulls=True).over(w_doc),
        ),
    )
    w_page = Window.partitionBy("doc_id", "page_cell").orderBy("offset", "span_idx")
    return (
        filled.withColumn("page_root_idx", F.first("span_idx").over(w_page))
        .select("doc_id", "span_idx", "page_cell", "page_root_idx")
    )


def resources_hashes(features: DataFrame) -> DataFrame:
    """(doc_id, span_idx, n_hashes, resources_hashes): per-span digest set,
    serialized sorted+comma-joined so the set is hash-comparable."""
    f = live_features(features)
    body = F.when(F.col("text") != "", F.sha2(F.col("text"), 256))
    embedded = F.transform(F.col("ref_tokens"), lambda t: F.sha2(t, 256))
    arr = F.array_sort(
        F.array_distinct(
            F.concat(
                F.filter(F.array(body), lambda h: h.isNotNull()), embedded
            )
        )
    )
    return f.select(
        "doc_id",
        "span_idx",
        F.size(arr).cast("long").alias("n_hashes"),
        F.concat_ws(",", arr).alias("resources_hashes"),
    )


def marker_extract(features: DataFrame) -> DataFrame:
    """(doc_id, span_idx, marker, marker_cell, cross_zone): one row per
    received marker (embedded key token); cross_zone when the marker's
    coarse cell differs from the receiving span's."""
    f = live_features(features).select("doc_id", "span_idx", "coarse_cell", "ref_tokens")
    ex = f.select(
        "doc_id",
        "span_idx",
        "coarse_cell",
        F.explode("ref_tokens").alias("marker"),
    )
    mcell = grid.col_cell(grid.col_key_num(F.col("marker")), grid.COARSE_RES)
    return ex.select(
        "doc_id",
        "span_idx",
        "marker",
        mcell.alias("marker_cell"),
        (mcell != F.col("coarse_cell")).alias("cross_zone"),
    )


def marker_rollup(markers: DataFrame) -> DataFrame:
    """Per (doc, zone) marker set union — the HostNode cookie rollup
    analogue: distinct markers, distinct cross-zone markers, receiving
    span count."""
    return (
        markers.groupBy("doc_id", F.col("marker_cell").alias("zone_cell"))
        .agg(
            F.count_distinct("marker").cast("long").alias("n_markers"),
            F.count_distinct(F.when(F.col("cross_zone"), F.col("marker")))
            .cast("long")
            .alias("n_cross_zone"),
            F.count_distinct("span_idx").cast("long").alias("n_receivers"),
        )
    )


def identifiers_extract(features: DataFrame) -> DataFrame:
    """(doc_id, span_idx, n_ids, identifiers): distinct sorted identifier
    tokens in the span text (one regexp scan, serialized for comparison)."""
    f = live_features(features)
    ids = F.array_sort(
        F.array_distinct(F.regexp_extract_all(F.col("text"), F.lit("k[0-9]+"), 0))
    )
    return f.select(
        "doc_id",
        "span_idx",
        F.size(ids).cast("long").alias("n_ids"),
        F.concat_ws(",", ids).alias("identifiers"),
    )


# the epoch a span at offset 0 starts at
_BASE_EPOCH = 1_600_000_000


def span_timings(features: DataFrame) -> DataFrame:
    """F4/F5 timestamp parse + duration math (reference URLNode start/stop
    time fields, nodes.py:172-210): each span's start = base epoch +
    offset seconds; duration = gap to the next span in the document (the
    last span gets 0 — the reference's open-ended final entry). Epoch is
    emitted alongside the formatted UTC timestamp so both engines compare
    exactly."""
    f = live_features(features).select("doc_id", "span_idx", "offset")
    w = Window.partitionBy("doc_id").orderBy("offset", "span_idx")
    epoch = (F.lit(_BASE_EPOCH) + F.col("offset")).cast("long")
    dur = F.coalesce(
        F.lead("offset").over(w) - F.col("offset"), F.lit(0)
    ).cast("long")
    return f.select(
        "doc_id",
        "span_idx",
        F.date_format(F.timestamp_seconds(epoch), "yyyy-MM-dd HH:mm:ss").alias(
            "start_ts"
        ),
        epoch.alias("start_epoch"),
        dur.alias("duration_s"),
    )


def key_class(features: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """(doc_id, span_idx, ref, ref_class, decoded_ref): grammar
    classification + canonical normalization of a ref column."""
    f = live_features(features)
    ref = F.col(ref_col)
    cls = (
        F.when(ref == "", "none")
        .when(ref.rlike(KEY_TOKEN_RE), "canonical")
        .when(ref.rlike("^[0-9]+\\z"), "numeric")
        .when(ref.rlike("^xn--"), "encoded")
        .otherwise("other")
    )
    decoded = (
        F.when(ref == "", "")
        .when(ref.rlike(KEY_TOKEN_RE), ref)
        .when(ref.rlike("^[0-9]+\\z"), F.concat(F.lit("k"), ref))
        .when(ref.rlike("^xn--"), F.reverse(F.substring(ref, 5, 1 << 20)))
        .otherwise(F.lower(ref))
    )
    return f.select(
        "doc_id",
        "span_idx",
        ref.alias("ref"),
        cls.alias("ref_class"),
        decoded.alias("decoded_ref"),
    )
