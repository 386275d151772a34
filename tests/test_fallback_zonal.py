"""Spatial fallback chain, ring-kNN, zonal join."""

import numpy as np
from pyspark.sql import functions as F

from har2tree_spark.datagen import GenConfig, gen_docs
from har2tree_spark.geo import grid
from har2tree_spark.operators import zonal
from har2tree_spark.operators.cascade import resolve_rank
from har2tree_spark.operators.fallback import knn_join, resolve_with_fallbacks
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.schema import DOCUMENTS_SCHEMA

from grid_ref import make_cell


def test_knn_join_prefers_closer_ring(spark):
    res = grid.FINE_RES
    c0 = int(make_cell(res, np.int64(100), np.int64(100)))
    near = int(make_cell(res, np.int64(101), np.int64(100)))  # ring 1
    far = int(make_cell(res, np.int64(103), np.int64(100)))  # ring 3
    probes = spark.createDataFrame(
        [("d", 0, c0)], "doc_id string, probe_id int, cell long"
    )
    cands = spark.createDataFrame(
        [("d", 10, near, 5), ("d", 11, far, 1)],
        "doc_id string, cand_id int, cell long, cand_offset int",
    )
    got = knn_join(probes, cands, k=2).toPandas().sort_values("rk")
    assert list(got.cand_id) == [10, 11]
    assert list(got.ring) == [1, 3]


def test_knn_join_torus_wrap(spark):
    res = grid.FINE_RES
    n = 1 << res
    c0 = int(make_cell(res, np.int64(0), np.int64(0)))
    wrap = int(make_cell(res, np.int64(n - 1), np.int64(0)))  # ring 1 via wrap
    probes = spark.createDataFrame([("d", 0, c0)], "doc_id string, probe_id int, cell long")
    cands = spark.createDataFrame(
        [("d", 7, wrap, 0)], "doc_id string, cand_id int, cell long, cand_offset int"
    )
    got = knn_join(probes, cands).toPandas()
    assert len(got) == 1 and got.ring.iloc[0] == 1


def test_resolve_with_fallbacks_chain(spark):
    docs = gen_docs(31, 80, GenConfig(p_orphan=0.3))
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    base = resolve_rank(feats)
    full = resolve_with_fallbacks(feats, base).toPandas()
    # row parity with base
    assert len(full) == base.count()
    assert (full.groupby(["doc_id", "span_idx"]).size() == 1).all()
    # fallback upgrades happened (host or knn claimed some former roots)
    n_root_before = base.filter("join_kind = 'fallback_root'").count()
    n_root_after = (full.join_kind == "fallback_root").sum()
    assert n_root_after <= n_root_before
    assert set(full.join_kind) <= {
        "root", "redirect", "frame", "initiator", "referer", "resource",
        "fallback_host", "fallback_knn", "fallback_root",
    }


def test_zonal_stats_by_cell(spark):
    docs = gen_docs(7, 50)
    feats = parse_documents(spark.createDataFrame(docs, DOCUMENTS_SCHEMA))
    pix = zonal.rasterize_spans(feats)
    zs = zonal.zonal_stats_by_cell(pix).toPandas()
    assert (zs.n_pixels > 0).all()
    assert zs.n_pixels.sum() == pix.count()


def test_knn_two_phase_identical(spark):
    """Self-kNN: two_phase must be result-identical to the single-pass
    81-offset disk join on real parsed features."""
    docs = spark.createDataFrame(gen_docs(7, 300), DOCUMENTS_SCHEMA)
    f = parse_documents(docs).filter(F.col("cell").isNotNull())
    probes = f.select("doc_id", F.col("span_idx").alias("probe_id"), "cell")
    cands = f.select(
        "doc_id",
        F.col("span_idx").alias("cand_id"),
        "cell",
        F.col("offset").alias("cand_offset"),
    )
    kw = dict(k=1, max_ring=4, exclude_self=True)
    single = knn_join(probes, cands, **kw).toPandas()
    two = knn_join(probes, cands, two_phase=True, **kw).toPandas()
    key = ["doc_id", "probe_id", "cand_id", "ring", "d2", "rk"]
    a = single[key].sort_values(key).reset_index(drop=True)
    b = two[key].sort_values(key).reset_index(drop=True)
    assert a.equals(b)
    assert len(a) > 0
