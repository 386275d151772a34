"""Multi-resolution tiling — the hostname-tree analogue.

The reference re-groups the URL tree by hostname level-by-level
(make_hostname_tree, reference har2tree.py:680-708); here each feature is
assigned to its grid cell at every tile level, with the parent-level cell
alongside (FIXTURES.md tile_assignment). The assignment itself is a narrow
projection (cell res change is integer arithmetic — geo/grid.py), so it adds
ZERO shuffle; only the per-tile rollups aggregate.

``compact_cells`` is the H3 ``compactCells`` analogue: bottom-up replacement
of complete 4-child quartets by their parent cell, as a bounded driver loop
of groupBy passes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from har2tree_spark.geo import grid
from har2tree_spark.session import per_jvm


@per_jvm
def _tile_columns() -> tuple[Column, tuple[Column, ...], tuple[Column, ...]]:
    """tile_assignment's (cell filter, inline select, output columns)."""
    structs = []
    prev = None
    for lvl in grid.TILE_LEVELS:
        cur = grid.col_cell_parent(F.col("cell"), grid.FINE_RES, lvl) if lvl != grid.FINE_RES else F.col("cell")
        structs.append(
            F.struct(
                cur.alias("cell"),
                F.lit(lvl).alias("level"),
                (prev if prev is not None else F.lit(None).cast("long")).alias("parent_cell"),
            )
        )
        prev = cur
    doc_id, span_idx = F.col("doc_id"), F.col("span_idx")
    return (
        F.col("cell").isNotNull(),
        (doc_id, span_idx, F.inline(F.array(*structs))),
        tuple(F.col(n) for n in ("doc_id", "span_idx", "cell", "level", "parent_cell")),
    )


def tile_assignment(features: DataFrame) -> DataFrame:
    """One row per (span, level in ``grid.TILE_LEVELS``): (doc_id, span_idx,
    cell, level, parent_cell).
    parent_cell = the span's cell at the previous (coarser) level; null at
    the first level — mirroring hostname-tree parent hosts."""
    has_cell, inlined, out = _tile_columns()
    return features.filter(has_cell).select(*inlined).select(*out)


@per_jvm
def _rollup_columns() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """tile_rollup's (group keys, aggregates)."""
    return (F.col("level"), F.col("cell")), (
        F.count("*").alias("n_spans"),
        F.approx_count_distinct("doc_id").alias("n_docs"),
        F.first("parent_cell").alias("parent_cell"),
    )


def tile_rollup(tiles: DataFrame) -> DataFrame:
    """Per-tile aggregate (HostNode rollup analogue, reference
    nodes.py:802-835): span count, doc count, child-tile fanout."""
    keys, aggs = _rollup_columns()
    return tiles.groupBy(*keys).agg(*aggs)


def compact_cells(cells: DataFrame, res: int = grid.FINE_RES, min_res: int = 0) -> DataFrame:
    """H3 compactCells analogue over a distinct (doc_id, cell) set at a single
    resolution: any parent whose 4 children are ALL present replaces them;
    repeat up the hierarchy. Returns (doc_id, cell) of the compacted cover.
    Bounded loop of (res - min_res) aggregate passes."""
    out = cells.select("doc_id", "cell").distinct()
    result_parts = []
    cur = out
    for r in range(res, min_res, -1):
        parent = grid.col_cell_parent(F.col("cell"), r, r - 1)
        grouped = (
            cur.groupBy("doc_id", parent.alias("pcell"))
            .agg(F.count_distinct("cell").alias("nchild"))
        )
        promoted = grouped.filter(F.col("nchild") == 4).select(
            "doc_id", F.col("pcell").alias("cell")
        )
        # children of a promoted parent drop out at this level
        kept = (
            cur.withColumn("pcell", parent)
            .join(promoted.withColumnRenamed("cell", "pcell"), ["doc_id", "pcell"], "left_anti")
            .drop("pcell")
        )
        result_parts.append(kept)
        cur = promoted
    result_parts.append(cur)
    out = result_parts[0]
    for part in result_parts[1:]:
        out = out.unionByName(part)
    return out
