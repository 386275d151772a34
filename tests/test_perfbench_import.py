"""The benchmark imports kernel names at module load (``perfbench/layers.py``):
a rename there must fail here, not only when the benchmark runs."""

from har2tree_spark.datagen import GenConfig, gen_documents_df
from har2tree_spark.operators import cascade, parse


def test_perfbench_layers_run_on_the_kernel(spark, tmp_path):
    import perfbench.harness  # noqa: F401 - the benchmark's import chain
    from perfbench import layers, tracing

    docs_path = str(tmp_path / "docs")
    gen_documents_df(spark, 50, seed=5, cfg=GenConfig(max_spans=32)).write.parquet(docs_path)
    run = layers.LayeredRun(spark, tracing.Spans(), "exact")
    try:
        run.run(docs_path, str(tmp_path / "out"))
        kernel = run.kernel(10_000)
    finally:
        spark.sparkContext._jsc.sc().clearJobGroup()
    live = cascade.live_features(parse.parse_documents(spark.read.parquet(docs_path))).count()
    assert live > 0
    assert kernel["kernel.rows"] == live
    assert run.rows["cascade"] == live
