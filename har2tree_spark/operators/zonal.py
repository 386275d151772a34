"""Raster -> vector zonal join.

Re-grounds the reference's embedded/external-resource extraction + tagging
(helper.py:356-466 + the J7 resource-type tagging join, har2tree.py:389-426):
a document's span *content* (text tokens = "pixels") is rasterized into
point features and aggregated per zone — explode -> groupBy(zone). The
zones are coarse grid cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from har2tree_spark.geo import grid
from har2tree_spark.operators.parse import KEY_TOKEN_RE


def rasterize_spans(features: DataFrame) -> DataFrame:
    """Every key-like token in every span's text becomes one 'pixel' point
    (doc_id, span_idx, pix_idx, key_num, cell) — the raster side.
    Narrow (explode only), all JVM."""
    f = features.filter(F.col("span_idx").isNotNull())
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t.rlike(KEY_TOKEN_RE))
    out = f.select(
        "doc_id",
        "span_idx",
        F.posexplode(toks).alias("pix_idx", "tok"),
    )
    key_num = grid.col_key_num(F.col("tok"))
    return out.select(
        "doc_id",
        "span_idx",
        "pix_idx",
        key_num.alias("key_num"),
        grid.col_cell(key_num, grid.FINE_RES).alias("cell"),
    )


def zonal_stats_by_cell(pixels: DataFrame) -> DataFrame:
    """Zones are coarse cells: fully relational, one shuffle."""
    zone = grid.col_cell_parent(F.col("cell"), grid.FINE_RES, grid.COARSE_RES)
    return pixels.groupBy(zone.alias("zone_cell")).agg(
        F.count("*").cast("long").alias("n_pixels"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.count_distinct("cell").cast("long").alias("n_cells"),
    )
