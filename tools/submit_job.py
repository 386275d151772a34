"""spark-submit entry point: the full pipeline via the shipped package.

Run with the REAL deployment model the north rule names — the package
resolves from --py-files on the driver and every executor, no repo
checkout anywhere:

    spark-submit --master local[8] \
        --py-files dist/har2tree_spark.zip \
        tools/submit_job.py [corpus_dir] [n_docs]

Unlike tools/scaling_job.py (the in-repo benchmarking harness), this file
deliberately does NOT sys.path-insert the repo: `import har2tree_spark`
must succeed from the zip alone, or the submit fails — that failure is
exactly what this script exists to detect. With no corpus_dir it
generates a small seeded corpus (datagen runs distributed, so executors
must import the package too — the mapInPandas stages exercise the
executor-side import path that forgetting --py-files breaks).

Runs the shipped ``pipeline.run_pipeline(docs, "exact")`` and prints one
JSON line {docs, join_rows, tile_rollups, pkg_from} for the caller to
assert on: the document count and the row counts of the pipeline's
``join_result`` and ``tile_rollup`` outputs.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession

import har2tree_spark  # noqa: F401 — must come from --py-files
from har2tree_spark.datagen import GenConfig, gen_documents_df
from har2tree_spark.pipeline import run_pipeline


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else None
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 300
    # spark-submit owns master/conf; only the app name is set here
    spark = SparkSession.builder.appName("har2tree_spark_submit").getOrCreate()
    if corpus:
        docs = spark.read.parquet(corpus)
    else:
        docs = gen_documents_df(
            spark, n_docs, seed=42, cfg=GenConfig(max_spans=16)
        )
    tables = run_pipeline(docs, "exact")
    out = {
        "docs": docs.count(),
        "join_rows": tables["join_result"].count(),
        "tile_rollups": tables["tile_rollup"].count(),
        "pkg_from": har2tree_spark.__file__,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
