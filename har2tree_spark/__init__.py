"""har2tree_spark — a PySpark-native spatial-join + tiling engine.

A brand-new engine (not a port) that re-grounds the capabilities of
Lookyloo/har2tree (HAR -> tree: a priority-ordered cascade of consume-once
joins, hierarchical hostname grouping, per-capture aggregates; see
/root/reference/har2tree/har2tree.py) as a batched geospatial pipeline over
tables of interleaved text+media documents::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Spans are parsed into point features, encoded into hierarchical grid cells
(H3-style integer quadtree), resolved into a parent tree via a
priority-ordered consume-once join cascade with spatial fallbacks
(page-region point-in-polygon, cell-ring-expansion kNN), tiled at
multiple resolutions, and aggregated into per-document stats — all with
DataFrame/Catalyst-first plans and vectorized (Arrow) UDFs only where
built-ins cannot express the semantics.
"""

__version__ = "0.1.0"
