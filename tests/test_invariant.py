"""Span-sequence equality — the per-row invariant of BASELINE.json
input_hint: every output row preserves (kind, text, media_ref, order)
against the input (the analogue of the reference's tree-structure pytest
assertions, tests/simple_test.py:63-75)."""

import pytest
from pyspark.sql import functions as F

from har2tree_spark.datagen import GenConfig, gen_docs, scenario_docs
from har2tree_spark.operators import stats, tiling
from har2tree_spark.operators.cascade import resolve_exact, resolve_rank
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.pipeline import run_pipeline
from har2tree_spark.schema import DOCUMENTS_SCHEMA


def test_span_sequence_equality(spark):
    docs = scenario_docs() + gen_docs(11, 60)
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    out = run_pipeline(df, mode="exact")
    enriched = out["enriched_documents"]
    # compare the full (kind, text, media_ref, order) sequence per doc
    orig = df.select(
        "doc_id",
        F.transform(
            "spans", lambda s: F.struct(s["kind"], s["text"], s["media_ref"], s["offset"])
        ).alias("seq"),
    )
    got = enriched.select(
        "doc_id",
        F.transform(
            "spans", lambda s: F.struct(s["kind"], s["text"], s["media_ref"], s["offset"])
        ).alias("seq"),
    )
    joined = orig.alias("a").join(got.alias("b"), "doc_id", "full")
    bad = joined.filter(~F.col("a.seq").eqNullSafe(F.col("b.seq"))).count()
    assert bad == 0
    assert got.count() == len(docs)


def test_pipeline_outputs(spark):
    docs = scenario_docs() + gen_docs(13, 40)
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    out = run_pipeline(df, mode="exact")
    q = out["quarantine"].toPandas()
    assert "scn-empty" in set(q.doc_id)
    js = out["join_result"].groupBy().count().collect()[0][0]
    assert js > 0
    st = out["doc_stats"].toPandas()
    assert (st.total_spans > 0).all()
    assert "scn-empty" not in set(st.doc_id)


def test_rank_mode_pipeline(spark):
    docs = gen_docs(17, 40)
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    out = run_pipeline(df, mode="rank")
    jr = out["join_result"].toPandas()
    live = out["features"].filter("span_idx is not null and n_live > 0").count()
    assert len(jr) == live


@pytest.mark.parametrize("mode", ["exact", "rank"])
def test_pipeline_equals_lazy_composition(spark, mode):
    """run_pipeline's checkpointed outputs equal the lazy composition of
    the operators, on scenario, random and hot-key docs (the hot keys give
    rank mode parent cycles)."""
    hot = GenConfig(max_spans=32, p_hot=0.9, zipf_s=2.0, n_hot_keys=8)
    docs = scenario_docs() + gen_docs(19, 40) + gen_docs(5, 80, hot, start=1000)
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    out = run_pipeline(df, mode=mode)

    feats = parse_documents(df)
    jr = resolve_exact(feats) if mode == "exact" else resolve_rank(feats)
    want = {
        "join_result": jr,
        # n_docs is an HLL sketch, deterministic on the same input
        "tile_rollup": tiling.tile_rollup(tiling.tile_assignment(feats)),
        "doc_stats": stats.doc_stats(feats, jr, depth_complete=mode == "exact"),
        "quarantine": feats.filter(F.col("n_live") == 0).select("doc_id").distinct(),
        "enriched_documents": df.join(
            feats.select("doc_id", "root_idx").distinct(), "doc_id", "left"
        ),
    }
    for name, direct in want.items():
        got = out[name]
        assert got.count() > 0, name
        assert got.exceptAll(direct).count() == 0, name
        assert direct.exceptAll(got).count() == 0, name
    if mode == "rank":
        unrooted = stats.compute_depths(out["join_result"]).filter(F.col("depth").isNull())
        assert unrooted.count() > 0, "corpus has no rank-mode cycle"
