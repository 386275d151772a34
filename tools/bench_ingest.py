"""Ingest-boundary benchmark: read_har_dir throughput on the real capture
corpus, replicated to amortize fixed cost (BENCH/BASELINE.md 'ingest'
section).

Measures three legs at local[$SPARK_GRAFT_CPUS] (default: the CPUs this
process may run on):

  1. listing+bytes floor — binaryFile scan + byte count, no parsing
     (the Spark-side cost with a no-op parse closure);
  2. full ingest — read_har_dir: gzip sniff + stdlib json decode +
     har_to_doc span construction inside mapInPandas;
  3. single-process python floor — json.loads + har_to_doc over the same
     files in one local loop (the reference's execution model: one
     CPython thread).

docs/sec = replicated HAR files per second of leg 2; the bottleneck note
in BASELINE.md compares leg 2 against legs 1 and 3 (parallel speedup and
the decode share).

Usage: PYTHONPATH=/root/repo python tools/bench_ingest.py [replicas]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from har2tree_spark.session import get_spark  # noqa: E402
from har2tree_spark.sources import har_source  # noqa: E402

LALIBRE = "/root/reference/tests/data/lalibre"


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    src = sorted(os.listdir(LALIBRE))
    work = tempfile.mkdtemp(prefix="ingest_bench_")
    n_files = 0
    for r in range(replicas):
        d = os.path.join(work, f"r{r}")
        os.makedirs(d)
        for f in src:
            if f.endswith(".har"):
                shutil.copy(os.path.join(LALIBRE, f), os.path.join(d, f))
                n_files += 1

    spark = get_spark("bench_ingest", driver_memory="8g")
    cpus = spark.sparkContext.defaultParallelism
    # warmup: python workers + codegen
    spark.range(0, 1 << 12, numPartitions=cpus).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # leg 1: listing + bytes, no parse
    t0 = time.time()
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.har")
        .option("recursiveFileLookup", "true")
        .load(work)
        .select("path", "content")
    )
    total_bytes = raw.selectExpr("sum(length(content))").collect()[0][0]
    floor_s = time.time() - t0

    # leg 2: full ingest (best of 2 — second run amortizes plan compile)
    ingest_s = float("inf")
    for _ in range(2):
        t0 = time.time()
        n_docs = har_source.read_har_dir(spark, work).count()
        ingest_s = min(ingest_s, time.time() - t0)

    # leg 4 (r7 VERDICT #8): the same corpus packed into plain-tar
    # bundles (tools/pack_captures.py), read by read_har_packed — same
    # parse, one file boundary per bundle instead of per capture
    from tools.pack_captures import pack_dir  # noqa: PLC0415

    packed = tempfile.mkdtemp(prefix="ingest_bench_packed_")
    per_bundle = int(os.environ.get("SPARK_GRAFT_PACK_SIZE", "256"))
    n_bundles = pack_dir(work, packed, per_bundle)
    packed_s = float("inf")
    for _ in range(2):
        t0 = time.time()
        n_packed = har_source.read_har_packed(spark, packed).count()
        packed_s = min(packed_s, time.time() - t0)
    assert n_packed == n_docs, (n_packed, n_docs)
    shutil.rmtree(packed, ignore_errors=True)
    spark.stop()

    # leg 3: single-process python floor, one replica scaled up
    t0 = time.time()
    for f in src:
        if f.endswith(".har"):
            with open(os.path.join(LALIBRE, f), "rb") as fh:
                har_source.har_to_doc(f, har_source._load_har_bytes_safe(fh.read()))
    single_s = (time.time() - t0) * replicas

    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "har_ingest_docs_per_sec",
                "value": round(n_docs / ingest_s, 1),
                "unit": "docs/sec",
                "n_files": n_files,
                "mb": round((total_bytes or 0) / 1e6, 1),
                "mb_per_sec": round((total_bytes or 0) / 1e6 / ingest_s, 1),
                "scan_floor_sec": round(floor_s, 2),
                "ingest_sec": round(ingest_s, 2),
                "packed_ingest_sec": round(packed_s, 2),
                "packed_files_per_sec": round(n_files / packed_s, 1),
                "n_bundles": n_bundles,
                "files_per_bundle": per_bundle,
                "single_python_sec_est": round(single_s, 2),
                "parallel_speedup_vs_single": round(single_s / ingest_s, 1),
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
