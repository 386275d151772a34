"""Spatial fallback chain over rank-mode resolution.

Re-grounds the reference's fallback attachment cascade
(_make_subtree_fallback, reference har2tree.py:770-853) relationally:

  * ``fallback_host``  — coarse-cell equi-join + preference window (J10);
  * ``knn_join``       — cell-ring-expansion kNN (J13) as ONE equi-join:
                         explode the (2R+1)^2 neighbor-cell disk of each
                         probe (pure integer column arithmetic, JVM-side),
                         equi-join on the neighbor cell, rank by (ring,
                         squared grid distance). No iteration, no UDF.

``resolve_with_fallbacks`` chains them on top of rank-mode resolution:
unmatched spans try host-cell, then kNN, then root — the relational
counterpart of the sequential fallback loop (exact mode implements the
reference-faithful sequential semantics in operators/kernel.py; the two
contracts differ only in visit order, documented there). The page-region
containment step (J11/J12, ``fallback_pip``) runs only in the exact
kernel, whose attached set grows while it walks a document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from har2tree_spark.geo import grid
from har2tree_spark.operators.cascade import live_features
from har2tree_spark.operators.kernel import MAX_RING
from har2tree_spark.schema import PRIORITY


def neighbor_cells(df: DataFrame, cell_col: str, radius: int) -> DataFrame:
    """Explode each row into its (2r+1)^2 neighbor cells on the
    ``grid.FINE_RES`` grid (toroidal wrap), adding ``nbr_cell`` and
    ``ring`` (Chebyshev distance) and ``d2`` columns — all integer column
    arithmetic, whole-stage-codegen'd."""
    offs = [
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
    ]
    out = df.withColumn("_o", F.explode(F.array(*offs)))
    dx = F.col("_o.dx")
    dy = F.col("_o.dy")
    nbr = grid.col_cell_offset(F.col(cell_col), dx, dy, grid.FINE_RES)
    return (
        out.withColumn("nbr_cell", nbr)
        .withColumn("ring", F.greatest(F.abs(dx), F.abs(dy)))
        .withColumn("d2", (dx * dx + dy * dy).cast("long"))
        .drop("_o")
    )


def _disk_knn(
    probes: DataFrame,
    candidates: DataFrame,
    k: int,
    radius: int,
    keys: list[str],
    exclude_self: bool,
) -> DataFrame:
    """Single-pass disk kNN: explode the (2r+1)^2 neighbor disk of each
    probe, equi-join on the neighbor cell, rank by (ring, d2)."""
    p = neighbor_cells(
        probes.select(*keys, "probe_id", F.col("cell").alias("_pc")),
        "_pc",
        radius,
    )
    c = candidates.select(*keys, "cand_id", F.col("cell").alias("nbr_cell"), "cand_offset")
    j = p.join(c, [*keys, "nbr_cell"])
    if exclude_self:
        # when probes and candidates are the same id space, a probe's own
        # row is always its rank-1 neighbor — drop it BEFORE ranking
        j = j.filter(F.col("probe_id") != F.col("cand_id"))
    w = Window.partitionBy(*keys, "probe_id").orderBy(
        "ring", "d2", "cand_offset", "cand_id"
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*keys, "probe_id", "cand_id", "ring", "d2", "rk")
    )


def knn_join(
    probes: DataFrame,
    candidates: DataFrame,
    k: int = 1,
    max_ring: int = 4,
    exclude_self: bool = False,
    two_phase: bool = False,
) -> DataFrame:
    """k nearest candidate rows per probe by grid distance, searching the
    ring expansion up to ``max_ring``, within the probe's document.
    probes needs (doc_id, probe_id, cell); candidates needs (doc_id,
    cand_id, cell). Returns one row per (probe, rank<=k) that found a
    neighbor.

    two_phase=False (default): one shuffle total — the disk explode is
    narrow; the equi-join on (doc_id, cell) hashes both sides once. The
    (2R+1)^2 replication lands on the probe side only, which wins when
    probes << candidates (the fallback-cascade case).

    two_phase=True: for self-kNN (probes ≈ candidates) the full-disk
    explode would amplify the WHOLE table (81x at R=4). Phase 1 searches
    only radius 1 (9 cells, where grid locality puts almost every nearest
    neighbor); probes with >= k matches there are globally correct (any
    farther candidate has a larger ring). Only the unmatched remainder
    re-runs at the full radius, so the expected shuffle amplification is
    ~9x + 81x * (unmatched fraction). Result-identical to single-pass."""
    keys = ["doc_id"]
    if not two_phase or max_ring <= 1:
        return _disk_knn(probes, candidates, k, max_ring, keys, exclude_self)
    r1 = _disk_knn(probes, candidates, k, 1, keys, exclude_self)
    done = (
        r1.groupBy(*keys, "probe_id")
        .agg(F.count("*").alias("_nm"))
        .filter(F.col("_nm") >= k)
        .select(*keys, "probe_id")
    )
    r1_done = r1.join(done, [*keys, "probe_id"], "left_semi")
    rest = probes.join(done, [*keys, "probe_id"], "left_anti")
    r2 = _disk_knn(rest, candidates, k, max_ring, keys, exclude_self)
    return r1_done.unionByName(r2)


def resolve_with_fallbacks(features: DataFrame, base: DataFrame) -> DataFrame:
    """Upgrade rank-mode 'fallback_root' assignments with the spatial
    fallback cascade: coarse-cell host match first, then ring-kNN over
    attached spans out to the exact kernel's ``MAX_RING``, then root (the
    relational J10->J13 chain)."""
    f = live_features(features)
    unmatched = base.filter(F.col("join_kind") == "fallback_root").select(
        "doc_id", "span_idx"
    )
    attached = base.filter(F.col("join_kind") != "fallback_root").select(
        "doc_id", F.col("span_idx").alias("a_idx")
    )
    fa = attached.join(
        f.select(
            "doc_id",
            F.col("span_idx").alias("a_idx"),
            F.col("coarse_cell").alias("a_coarse"),
            F.col("cell").alias("a_cell"),
            F.col("kind").alias("a_kind"),
            F.col("offset").alias("a_offset"),
        ),
        ["doc_id", "a_idx"],
    )
    un = unmatched.join(
        f.select("doc_id", "span_idx", "coarse_cell", "cell", "offset", "root_idx"),
        ["doc_id", "span_idx"],
    )

    # stage 1: fallback_host — same coarse cell, prefer html then earliest
    host = (
        un.join(fa, (un["doc_id"] == fa["doc_id"]) & (un["coarse_cell"] == fa["a_coarse"]))
        .drop(fa["doc_id"])
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id", "span_idx").orderBy(
                    F.expr("a_kind != 'html'"), "a_offset", "a_idx"
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "span_idx",
            F.col("a_idx").alias("parent_idx"),
            F.lit("fallback_host").alias("join_kind"),
            F.lit(PRIORITY["fallback_host"]).alias("priority"),
        )
    )

    # stage 2: fallback_knn over remaining
    rem = un.join(host.select("doc_id", "span_idx"), ["doc_id", "span_idx"], "left_anti")
    knn = knn_join(
        rem.select("doc_id", F.col("span_idx").alias("probe_id"), "cell"),
        fa.select(
            "doc_id",
            F.col("a_idx").alias("cand_id"),
            F.col("a_cell").alias("cell"),
            F.col("a_offset").alias("cand_offset"),
        ),
        k=1,
        max_ring=MAX_RING,
    ).select(
        "doc_id",
        F.col("probe_id").alias("span_idx"),
        F.col("cand_id").alias("parent_idx"),
        F.lit("fallback_knn").alias("join_kind"),
        F.lit(PRIORITY["fallback_knn"]).alias("priority"),
    )

    # stage 3: root for whatever remains
    rem2 = rem.join(knn.select("doc_id", "span_idx"), ["doc_id", "span_idx"], "left_anti")
    root = rem2.select(
        "doc_id",
        "span_idx",
        F.col("root_idx").alias("parent_idx"),
        F.lit("fallback_root").alias("join_kind"),
        F.lit(PRIORITY["fallback_root"]).alias("priority"),
    )

    kept = base.filter(F.col("join_kind") != "fallback_root")
    return (
        kept.unionByName(host, allowMissingColumns=True)
        .unionByName(knn, allowMissingColumns=True)
        .unionByName(root, allowMissingColumns=True)
        .select("doc_id", "span_idx", "parent_idx", "join_kind", "priority")
    )
