"""Kill/resume demonstration for the checkpointed pipeline (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Runs the full pipeline (parse -> exact cascade -> tile rollup -> doc stats)
through ``lineage.CheckpointedRun``: every completed stage writes parquet +
lineage rows and registers in manifest.json. Re-invoking with the same
checkpoint base resumes — completed stages load from their snapshot instead
of recomputing.

Crash simulation: ``SPARK_GRAFT_KILL_AFTER=<stage>`` hard-kills the process
(os._exit, no cleanup — like an OOM-killed driver) immediately after that
stage commits. The follow-up run must skip the committed stages and finish.

    # run 1: dies after the cascade stage commits
    SPARK_GRAFT_KILL_AFTER=cascade python tools/resume_demo.py \
        data/bench_corpus_1200000 /tmp/ckpt_demo
    # run 2: resumes — parse+cascade load from snapshot, tiles+stats run
    python tools/resume_demo.py data/bench_corpus_1200000 /tmp/ckpt_demo

Prints one JSON line per run: stages already done at startup, stages
executed now, row counts, wall seconds, and the lineage record count.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from har2tree_spark.operators import cascade, lineage, parse, stats, tiling  # noqa: E402
from har2tree_spark.session import get_spark, host_heap  # noqa: E402


def main() -> None:
    corpus = sys.argv[1]
    base = sys.argv[2]
    kill_after = os.environ.get("SPARK_GRAFT_KILL_AFTER")
    spark = get_spark("resume_demo", driver_memory=host_heap())
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(4 * spark.sparkContext.defaultParallelism)
    )
    run = lineage.CheckpointedRun(spark, base, run_id="resume-demo")
    pre_done = sorted(run.manifest["stages"])
    executed: list[str] = []
    t0 = time.time()

    def stage(name: str, build) -> object:
        already = run.is_done(name)
        df = run.run_stage(name, build)
        if not already:
            executed.append(name)
            if kill_after == name:
                # simulate a crash AFTER the stage committed: no Spark
                # shutdown, no manifest flush beyond what run_stage did
                print(f"KILLED after stage '{name}' (simulated crash)", flush=True)
                os._exit(137)
        return df

    docs = spark.read.parquet(corpus)
    feats = stage(
        "parse", lambda: parse.parse_documents(docs).drop("text", "ref_tokens")
    )
    jr = stage("cascade", lambda: cascade.resolve_exact(feats))
    tiles = stage(
        "tiles", lambda: tiling.tile_rollup(tiling.tile_assignment(feats))
    )
    st = stage("stats", lambda: stats.doc_stats(feats, jr, depth_complete=True))
    print(
        json.dumps(
            {
                "resumed_stages": pre_done,
                "executed_stages": executed,
                "join_rows": jr.count(),
                "tile_rollups": tiles.count(),
                "docs": st.count(),
                "wall_s": round(time.time() - t0, 2),
                "lineage_rows": run.lineage().count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
