"""Checkpoint/resume + per-partition lineage."""

import tempfile

from har2tree_spark.datagen import gen_docs, scenario_docs
from har2tree_spark.operators.cascade import resolve_exact
from har2tree_spark.operators.lineage import CheckpointedRun, partition_lineage
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.pipeline import run_pipeline
from har2tree_spark.schema import DOCUMENTS_SCHEMA


def test_partition_lineage_counts(spark):
    docs = gen_docs(51, 40)
    feats = parse_documents(spark.createDataFrame(docs, DOCUMENTS_SCHEMA)).filter(
        "span_idx is not null"
    )
    lin = partition_lineage(feats, "run1", "parse").toPandas()
    assert lin.span_count.sum() == feats.count()
    assert (lin.run_id == "run1").all() and (lin.stage == "parse").all()


def test_partition_lineage_quarantined(spark):
    df = spark.createDataFrame(scenario_docs() + gen_docs(53, 40), DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    lin = partition_lineage(feats, "run1", "parse").toPandas()
    q = run_pipeline(df, mode="rank")["quarantine"].toPandas()
    assert "scn-empty" in set(q.doc_id)
    assert lin.quarantined.sum() == len(q)
    # a frame without n_live quarantines nothing
    assert (partition_lineage(df, "run1", "docs").toPandas().quarantined == 0).all()


def test_checkpoint_resume(spark):
    docs = gen_docs(61, 30)
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return resolve_exact(parse_documents(df))

    with tempfile.TemporaryDirectory() as tmp:
        run = CheckpointedRun(spark, tmp, "runA")
        out1 = run.run_stage("cascade", build)
        n1 = out1.count()
        assert calls["n"] == 1
        # resume: second invocation must NOT rebuild
        run2 = CheckpointedRun(spark, tmp, "runA")
        out2 = run2.run_stage("cascade", build)
        assert calls["n"] == 1
        assert out2.count() == n1
        # pending_docs: everything processed -> empty (quarantined docs are
        # processed too, tracked by their own stage)
        run2.run_stage(
            "quarantine",
            lambda: parse_documents(df).filter("n_live = 0").select("doc_id").distinct(),
        )
        assert run2.pending_docs(df, "cascade", "quarantine").count() == 0
        assert run2.pending_docs(df, "cascade").count() >= 0  # without quarantine stage
        # lineage rows exist and sum to the output rows
        lin = run2.lineage().toPandas()
        assert lin[lin.stage == "cascade"].span_count.sum() == n1
