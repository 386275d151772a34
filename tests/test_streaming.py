"""Structured Streaming: the incremental cascade and its restart law."""

import tempfile

from pyspark.sql import functions as F

from har2tree_spark.datagen import gen_documents_df
from har2tree_spark.operators.cascade import resolve_exact
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.schema import JOIN_RESULT_SCHEMA
from har2tree_spark.streaming import ingest


def test_incremental_pipeline_matches_batch(spark):
    """The streaming doc-row path equals the batch ``resolve_exact`` on
    every join_result column, quarantined scenario docs included."""
    with tempfile.TemporaryDirectory() as tmp:
        docs = gen_documents_df(spark, 200, seed=9, include_scenarios=True)
        docs.repartition(4).write.parquet(f"{tmp}/in")
        stream = ingest.stream_documents(spark, f"{tmp}/in", max_files=2)
        q = ingest.incremental_pipeline(stream, f"{tmp}/out", f"{tmp}/ckpt").start()
        q.awaitTermination(120)
        got = spark.read.parquet(f"{tmp}/out/join_result")
        want = resolve_exact(parse_documents(spark.read.parquet(f"{tmp}/in")))
        assert got.count() == want.count()
        # multiple micro-batches actually happened
        assert got.select("epoch").distinct().count() >= 2
        # per-row parity in both directions, depth and priority included
        cols = JOIN_RESULT_SCHEMA.fieldNames()
        got, want = got.select(*cols), want.select(*cols)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        assert got.filter(F.col("doc_id").startswith("scn-")).count() > 0


def test_incremental_pipeline_restart_exactly_once(spark):
    """Checkpoint restart law: stop after draining the first files, add
    more input, restart with the SAME checkpoint — the already-processed
    files must not reprocess (no duplicate rows) and the final output must
    equal the batch result over everything. This is the streaming
    counterpart of the batch kill/resume demo (tools/resume_demo.py)."""
    with tempfile.TemporaryDirectory() as tmp:
        a = gen_documents_df(spark, 60, seed=21)
        a.repartition(2).write.parquet(f"{tmp}/in")
        stream = ingest.stream_documents(spark, f"{tmp}/in", max_files=1)
        q = ingest.incremental_pipeline(stream, f"{tmp}/out", f"{tmp}/ckpt").start()
        q.awaitTermination(120)
        first = spark.read.parquet(f"{tmp}/out/join_result").count()
        assert first > 0

        # late-arriving input, then restart from the same checkpoint
        b = gen_documents_df(spark, 40, seed=22).withColumn(
            "doc_id", F.concat(F.lit("late-"), F.col("doc_id"))
        )
        b.repartition(2).write.parquet(f"{tmp}/in2")
        import os
        import shutil

        for name in os.listdir(f"{tmp}/in2"):
            if name.endswith(".parquet"):
                shutil.copy(f"{tmp}/in2/{name}", f"{tmp}/in/{name}")
        stream2 = ingest.stream_documents(spark, f"{tmp}/in", max_files=1)
        q2 = ingest.incremental_pipeline(stream2, f"{tmp}/out", f"{tmp}/ckpt").start()
        q2.awaitTermination(120)

        got = spark.read.parquet(f"{tmp}/out/join_result")
        want = resolve_exact(parse_documents(spark.read.parquet(f"{tmp}/in")))
        assert got.count() == want.count()  # no reprocessing duplicates
        key = ["doc_id", "span_idx", "parent_idx", "join_kind"]
        assert got.select(*key).exceptAll(want.select(*key)).count() == 0
        assert got.groupBy("doc_id", "span_idx").count().filter("count > 1").count() == 0


def test_streaming_har_ingestion_two_waves(spark):
    # streaming HAR arrivals (sources/har_source.stream_har_documents):
    # wave 1 lands three real capture files, wave 2 two more; the file
    # source's checkpoint processes each file exactly once, and the union
    # equals the batch reader + pipeline over all five
    import os
    import shutil

    from har2tree_spark.sources import har_source

    ref = "/root/reference/tests/data/lalibre"
    if not os.path.isdir(ref):
        import pytest

        pytest.skip("reference HAR corpora not present")
    with tempfile.TemporaryDirectory() as tmp:
        indir, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(indir)
        for f in ("001.har", "002.har", "003.har"):
            shutil.copy(f"{ref}/{f}", f"{indir}/{f}")
        stream = har_source.stream_har_documents(spark, indir, max_files=2)
        q = ingest.incremental_pipeline(stream, out, ckpt).start()
        q.awaitTermination(120)
        first = spark.read.parquet(f"{out}/join_result")
        first_docs = {r.doc_id for r in first.select("doc_id").distinct().collect()}
        assert first_docs == {"001", "002", "003"}
        n_epochs_1 = first.select("epoch").distinct().count()
        assert n_epochs_1 >= 2  # maxFilesPerTrigger=2 over 3 files

        for f in ("004.har", "005.har"):
            shutil.copy(f"{ref}/{f}", f"{indir}/{f}")
        stream2 = har_source.stream_har_documents(spark, indir, max_files=2)
        q2 = ingest.incremental_pipeline(stream2, out, ckpt).start()
        q2.awaitTermination(120)
        got = spark.read.parquet(f"{out}/join_result")
        # wave 2 processed ONLY the new files (file-source exactly-once)
        assert {r.doc_id for r in got.select("doc_id").distinct().collect()} == {
            "001", "002", "003", "004", "005"
        }
        assert got.count() == got.dropDuplicates(["doc_id", "span_idx"]).count()

        want = resolve_exact(
            parse_documents(har_source.read_har_dir(spark, indir))
        )
        assert got.count() == want.count()
        key = ["doc_id", "span_idx", "parent_idx", "join_kind"]
        assert got.select(*key).exceptAll(want.select(*key)).count() == 0
