"""Stage-isolated profiling for the optimization round (guide §1.4).

NOT the driver bench — bench.py stays frozen. This file times individual
pipeline stages with the noop sink so the computation is measured without
the sink, and optionally dumps .explain("formatted") per stage.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$(nproc)" \
        python bench_extra.py [--explain-dir plans/r08] [--repeats 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from har2tree_spark.datagen import GenConfig, gen_documents_df  # noqa: E402
from har2tree_spark.operators import cascade, parse, tiling  # noqa: E402
from har2tree_spark.session import get_spark, host_heap  # noqa: E402
from har2tree_spark.sources import events_spans  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--only", default=None, help="comma-separated stage prefixes")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_extra", driver_memory=host_heap())
    sc = spark.sparkContext
    cpus = sc.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(4 * cpus))

    # same warmup as bench.py
    spark.range(0, 1 << 14, numPartitions=cpus).mapInPandas(
        lambda it: it, "id long"
    ).count()
    wgen = gen_documents_df(spark, 200, seed=1, cfg=GenConfig(max_spans=16))
    cascade.resolve_exact(parse.parse_documents(wgen)).count()
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(1).count()

    docs = events_spans.documents_from_events(spark, sf_dir)
    gen = gen_documents_df(spark, 20000, seed=42, cfg=GenConfig(max_spans=32))

    stages: dict[str, object] = {}

    def reg(name, fn):
        stages[name] = fn

    # --- q1 decomposition -------------------------------------------------
    reg("q1a_events_to_docs", lambda: docs)
    reg("q1b_parse", lambda: parse.parse_documents(docs))
    feats_holder = {}

    def _feats():
        if "f" not in feats_holder:
            feats_holder["f"] = parse.parse_documents(docs).localCheckpoint()
        return feats_holder["f"]

    reg("q1c_exact_from_ckpt", lambda: cascade.resolve_exact(_feats()))
    reg("q1_full", lambda: cascade.resolve_exact(parse.parse_documents(docs)))
    # --- q2/q3 from checkpointed feats -----------------------------------
    reg("q2_rank", lambda: cascade.resolve_rank(_feats()))
    reg("q3_tiles", lambda: tiling.tile_rollup(tiling.tile_assignment(_feats())))
    # --- q4 decomposition -------------------------------------------------
    reg("q4a_gen_only", lambda: gen)
    reg("q4b_gen_parse", lambda: parse.parse_documents(gen))
    reg("q4_full", lambda: cascade.resolve_exact(parse.parse_documents(gen)))
    # --- q5..q8 -----------------------------------------------------------
    reg("q5_tpch_q1", lambda: entrymod.q_tpch_q1(spark, sf_dir))
    reg("q6_hhhash", lambda: entrymod.q_hhhash(spark, sf_dir))
    reg("q7_minhash", lambda: entrymod.q_dedup_minhash(spark, sf_dir))
    reg("q8_ann_lsh", lambda: entrymod.q_ann_lsh(spark, sf_dir))

    only = args.only.split(",") if args.only else None
    out: dict[str, list[float]] = {}
    for r in range(args.repeats):
        for name, fn in stages.items():
            if only and not any(name.startswith(p) for p in only):
                continue
            sc.setJobDescription(name)
            t0 = time.time()
            noop(fn())
            out.setdefault(name, []).append(round(time.time() - t0, 3))
            sc.setJobDescription(None)
    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name, fn in stages.items():
            if only and not any(name.startswith(p) for p in only):
                continue
            txt = fn()._sc is not None and fn()._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(txt)
    print(json.dumps({"stages": {k: [min(v), v] for k, v in out.items()}}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
