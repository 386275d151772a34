"""One scaling-bench run: the shipped pipeline over a pre-generated corpus
at a given parallelism. Invoked as a separate process per parallelism level
so each run gets its own JVM (the spark-submit analogue):

    SPARK_GRAFT_CPUS=8 python tools/scaling_job.py /path/corpus

The timed job is ``pipeline.run_pipeline(docs, "exact")`` plus the three
parquet writes of perfbench's batch iteration (join_result, tile_rollup,
doc_stats), with the session's default shuffle partitions (= cores).
``build_s`` is the serial driver share inside it: ``run_pipeline``'s wall
time minus the time spent in its two ``localCheckpoint`` calls (the
features and join-result jobs), i.e. building the frames.
Prints one JSON line {parallelism, docs, join_rows, tile_rollups, wall_s,
build_s, docs_per_sec}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from har2tree_spark import pipeline  # noqa: E402
from har2tree_spark.session import get_spark, host_heap  # noqa: E402

OUTPUTS = ("join_result", "tile_rollup", "doc_stats")


def main() -> None:
    corpus = sys.argv[1]
    spark = get_spark("scaling_job", driver_memory=host_heap())
    cpus = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(corpus)
    # warm-up (excluded from timing): JVM task-thread + python-worker spawn
    # and codegen compilation are cold-start costs a long-lived cluster
    # amortizes away; without this they dominate the small-N run's wall
    spark.range(0, cpus * 1000, numPartitions=cpus).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()
    frame_class = type(docs)
    checkpoint = frame_class.localCheckpoint
    checkpoint_s = []

    def timed_checkpoint(df, *args, **kwargs):
        t = time.perf_counter()
        try:
            return checkpoint(df, *args, **kwargs)
        finally:
            checkpoint_s.append(time.perf_counter() - t)

    with tempfile.TemporaryDirectory(prefix="scaling_job_") as out_dir:
        t0 = time.time()
        frame_class.localCheckpoint = timed_checkpoint
        try:
            t_build = time.perf_counter()
            out = pipeline.run_pipeline(docs, "exact")
            build = time.perf_counter() - t_build - sum(checkpoint_s)
        finally:
            frame_class.localCheckpoint = checkpoint
        for name in OUTPUTS:
            out[name].write.mode("overwrite").parquet(os.path.join(out_dir, name))
        wall = time.time() - t0
        n = {name: spark.read.parquet(os.path.join(out_dir, name)).count() for name in OUTPUTS}
    print(
        json.dumps(
            {
                "parallelism": cpus,
                "docs": n["doc_stats"],
                "join_rows": n["join_result"],
                "tile_rollups": n["tile_rollup"],
                "wall_s": round(wall, 2),
                "build_s": round(build, 3),
                "docs_per_sec": round(n["doc_stats"] / wall, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
