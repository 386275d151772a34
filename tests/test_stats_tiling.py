"""doc_stats vs oracle golden stats; depths vs independent answers; tile
assignment & compaction laws."""

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from har2tree_spark.datagen import GenConfig, gen_docs, scenario_docs
from har2tree_spark.geo import grid
from har2tree_spark.operators import stats, tiling
from har2tree_spark.operators.cascade import resolve_exact, resolve_rank
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.oracle import pycascade
from har2tree_spark.schema import DOCUMENTS_SCHEMA

from grid_ref import make_cell, np_cell_parent


def test_doc_stats_vs_oracle(spark):
    docs = scenario_docs() + gen_docs(21, 80)
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    jr = resolve_exact(feats)
    got = (
        stats.doc_stats(feats, jr)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        pd.DataFrame(pycascade.doc_stats(docs))
        .query("total_spans > 0")
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(got.doc_id) == list(want.doc_id)
    for col in [
        "total_spans",
        "unique_keys",
        "total_cells",
        "unique_cells",
        "tree_depth",
        "total_chain",
        "total_bytes",
    ]:
        mism = got[col].to_numpy() != want[col].to_numpy()
        assert not mism.any(), (
            f"{col} mismatch: {got[mism.argmax():mism.argmax()+1].to_dict()} vs "
            f"{want[mism.argmax():mism.argmax()+1].to_dict()}"
        )


def test_depths_match_oracle_chain(spark):
    docs = [scenario_docs()[0]]  # scn-redirect: depths 0,1,2,3
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    jr = resolve_exact(parse_documents(df))
    d = stats.compute_depths(jr).toPandas().sort_values("span_idx")
    assert list(d.depth) == [0, 1, 2, 3]


def test_depths_mixed_frame_recomputed(spark):
    # a caller-made union of exact rows (depth filled) and rank rows
    # (depth null): compute_depths re-derives every depth from the pointers
    import pyspark.sql.functions as F

    docs = [scenario_docs()[0]]
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    jr = resolve_exact(parse_documents(df))
    mixed = jr.withColumn(
        "depth",
        F.when(F.col("span_idx") % 2 == 0, F.col("depth")).otherwise(F.lit(None)),
    )
    d = stats.compute_depths(mixed).toPandas().sort_values("span_idx")
    assert list(d.depth) == [0, 1, 2, 3]


def _walk_depths(rows) -> dict[tuple[str, int], int | None]:
    """Parent walk per span: hops to the root, None when the walk meets a
    cycle or a pointer to a span that is not there."""
    parent = {(r.doc_id, r.span_idx): r.parent_idx for r in rows}
    out = {}
    for (doc, i) in parent:
        seen, cur, hops = set(), i, 0
        while cur != -1 and cur not in seen and (doc, cur) in parent:
            seen.add(cur)
            cur = parent[(doc, cur)]
            hops += 1
        out[(doc, i)] = hops - 1 if cur == -1 else None
    return out


def test_rank_depths_match_parent_walk(spark):
    # the hot-key corpus gives rank mode parent cycles: spans in or behind
    # one are unreachable from the root and get a null depth
    docs = gen_docs(5, 200, GenConfig(max_spans=32, p_hot=0.9, zipf_s=2.0, n_hot_keys=8))
    jr = resolve_rank(parse_documents(spark.createDataFrame(docs, DOCUMENTS_SCHEMA))).cache()
    want = _walk_depths(jr.select("doc_id", "span_idx", "parent_idx").collect())
    got = {(r.doc_id, r.span_idx): r.depth for r in stats.compute_depths(jr).collect()}
    assert got == want
    assert any(d is None for d in want.values()), "corpus has no unrooted span"
    jr.unpersist()


def test_depths_recomputed_equal_exact_kernel(spark):
    docs = scenario_docs() + gen_docs(23, 120)
    jr = resolve_exact(parse_documents(spark.createDataFrame(docs, DOCUMENTS_SCHEMA))).cache()
    kernel = jr.select("doc_id", "span_idx", "depth")
    recomputed = stats.compute_depths(jr)
    assert kernel.exceptAll(recomputed).count() == 0
    assert recomputed.exceptAll(kernel).count() == 0
    jr.unpersist()


def test_cyclic_doc_tree_depth_independent_of_batch(spark):
    # root 0 <- 1 <- 2; 3 <-> 4 a cycle with 5 behind it; span 6 dropped;
    # 7 points at the dropped 6
    cyc = [("cyc", 0, -1), ("cyc", 1, 0), ("cyc", 2, 1), ("cyc", 3, 4),
           ("cyc", 4, 3), ("cyc", 5, 4), ("cyc", 7, 6)]
    big = [("big", i, i - 1) for i in range(200)]

    def join_rows(rows):
        return spark.createDataFrame(
            [(d, i, p, "redirect" if p >= 0 else "root", None) for d, i, p in rows],
            "doc_id string, span_idx int, parent_idx int, join_kind string, depth int",
        )

    def tree_depth(rows):
        jr = join_rows(rows)
        feats = jr.select(
            "doc_id",
            "span_idx",
            F.lit(1).alias("n_live"),
            F.concat(F.lit("k"), F.col("span_idx")).alias("key"),
            F.lit(None).cast("long").alias("cell"),
            F.lit(1).cast("long").alias("nbytes"),
        )
        got = stats.doc_stats(feats, jr).filter(F.col("doc_id") == "cyc")
        return got.select("tree_depth").first()[0]

    assert tree_depth(cyc) == 3
    assert tree_depth(cyc + big) == 3
    depths = {
        r.span_idx: r.depth
        for r in stats.compute_depths(join_rows(cyc + big)).collect()
        if r.doc_id == "cyc"
    }
    assert depths == {0: 0, 1: 1, 2: 2, 3: None, 4: None, 5: None, 7: None}


def test_depths_long_redirect_chain(spark):
    n = 10_000
    jr = spark.range(n).select(
        F.lit("chain").alias("doc_id"),
        F.col("id").cast("int").alias("span_idx"),
        (F.col("id") - 1).cast("int").alias("parent_idx"),
    )
    t0 = time.perf_counter()
    got = stats.compute_depths(jr).agg(
        F.max("depth"), F.count("depth"), F.max(F.when(F.col("span_idx") == n - 1, F.col("depth")))
    ).first()
    wall = time.perf_counter() - t0
    assert tuple(got) == (n - 1, n, n - 1)
    assert wall < 30, f"10^4-span chain took {wall:.1f}s"


def test_tile_assignment_levels(spark):
    docs = gen_docs(3, 40)
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    tiles = tiling.tile_assignment(feats).toPandas()
    assert set(tiles.level.unique()) <= set(grid.TILE_LEVELS)
    # parity: each span with a key appears once per level
    n_keyed = feats.filter("cell is not null").count()
    assert len(tiles) == n_keyed * len(grid.TILE_LEVELS)
    # cell/parent consistency: parent_cell == coarsened cell
    for _, row in tiles.dropna(subset=["parent_cell"]).head(200).iterrows():
        lvl = int(row.level)
        prev = grid.TILE_LEVELS[grid.TILE_LEVELS.index(lvl) - 1]
        assert int(
            np_cell_parent(np.asarray([int(row.cell)]), prev)[0]
        ) == int(row.parent_cell)
    # first level has null parent
    first = tiles[tiles.level == grid.TILE_LEVELS[0]]
    assert first.parent_cell.isna().all()


def test_compact_cells_law(spark):
    # a complete quartet at FINE_RES compacts into one parent; a lone cell stays
    ix, iy = 100, 200
    quartet = [
        int(make_cell(grid.FINE_RES, np.int64(ix * 2 + a), np.int64(iy * 2 + b)))
        for a in (0, 1)
        for b in (0, 1)
    ]
    lone = int(make_cell(grid.FINE_RES, np.int64(5), np.int64(7)))
    rows = [("d1", c) for c in quartet] + [("d1", lone)]
    df = spark.createDataFrame(rows, "doc_id string, cell long")
    got = sorted(
        r.cell for r in tiling.compact_cells(df, grid.FINE_RES, grid.FINE_RES - 1).collect()
    )
    parent = int(np_cell_parent(np.asarray([quartet[0]]), grid.FINE_RES - 1)[0])
    assert got == sorted([parent, lone])


def test_cell_rollup_mixed_content(spark):
    docs = [
        {
            "doc_id": "d",
            "spans": [
                {"kind": "html", "text": "k1", "media_ref": "", "offset": 0},
                {"kind": "img", "text": "k1 x", "media_ref": "", "offset": 10},
            ],
        }
    ]
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    r = stats.cell_rollup(parse_documents(df)).toPandas()
    assert len(r) == 1 and bool(r.mixed_content.iloc[0])
    assert r.n_spans.iloc[0] == 2 and r.n_keys.iloc[0] == 1
