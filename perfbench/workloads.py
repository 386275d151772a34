"""Workload definitions, seeded input preparation and the timed loops.

Inputs are generated from the seed with ``datagen.gen_documents_df`` and
written as parquet into a cache before anything is timed; the timed code
only ever reads parquet.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import traceback
from dataclasses import dataclass

from har2tree_spark import pipeline
from har2tree_spark.datagen import GenConfig, gen_documents_df
from har2tree_spark.streaming import ingest

# The three tables a batch run writes; each write is one operation.
OUTPUTS = ("join_result", "tile_rollup", "doc_stats")


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str  # cascade mode: "exact" or "rank"
    n_docs: int  # documents per input (per file for a streaming workload)
    cfg: GenConfig
    files: int = 0  # > 0: streaming workload drained one file per micro-batch
    oracle_docs: int = 40  # exact mode: docs compared with pycascade per run

    @property
    def streaming(self) -> bool:
        return self.files > 0

    @property
    def total_docs(self) -> int:
        return self.n_docs * max(1, self.files)


# BENCHMARK.json lists the workloads the regression runs use; the others
# run by name (see README.md).
WORKLOADS = {
    w.name: w
    for w in (
        # ~35% of spans on one hot key; relational rank cascade, no kernel.
        # Sized so a run holds two timed passes (README.md, "Sizing").
        Workload(
            "rank_skew", "rank", 2000,
            GenConfig(max_spans=32, p_hot=0.9, zipf_s=2.0, n_hot_keys=8),
        ),
        # small parquet files drained by the streaming ingest, one per batch
        Workload("incremental_small", "exact", 250, GenConfig(max_spans=32), files=12),
        # reference-shape corpus through the reference-parity exact cascade
        Workload("exact_uniform", "exact", 1500, GenConfig(max_spans=32)),
        # long documents: parse's per-doc dedup, kernel batch carry-over
        Workload("megadoc_exact", "exact", 200, GenConfig(max_spans=2048), oracle_docs=4),
    )
}

# bump when the generated inputs change shape, so stale caches are ignored
INPUT_VERSION = 2
# files a streaming workload drains untimed first: its micro-batches keep
# getting faster over the first few while the JIT warms up
WARM_FILES = 4
# docs of the small corpus a batch workload runs once untimed first: the
# first pass in a JVM mostly compiles plans, whatever the corpus size
WARM_DOCS = 200
# timed passes a batch run makes at least: the first pass after the
# warm-up is still slower by a different amount in every run
MIN_PASSES = 2


def prepare_input(spark, wl: Workload, seed: int, cache_dir: str) -> str:
    """(workload, seed) -> directory holding ``docs`` and the warm-up
    input ``warm`` as parquet. Generated once, then reused."""
    path = os.path.join(
        cache_dir, f"{wl.name}-{wl.n_docs}x{max(1, wl.files)}-seed{seed}-v{INPUT_VERSION}"
    )
    done = os.path.join(path, "_READY")
    if os.path.exists(done):
        return path
    shutil.rmtree(path, ignore_errors=True)
    if wl.streaming:
        # one partition per file: each micro-batch file holds n_docs docs
        gen_documents_df(
            spark, wl.total_docs, seed=seed, cfg=wl.cfg, partitions=wl.files
        ).write.parquet(os.path.join(path, "docs"))
        gen_documents_df(
            spark, wl.n_docs * WARM_FILES, seed=seed + 1_000_003, cfg=wl.cfg,
            partitions=WARM_FILES,
        ).write.parquet(os.path.join(path, "warm"))
    else:
        gen_documents_df(spark, wl.n_docs, seed=seed, cfg=wl.cfg).write.parquet(
            os.path.join(path, "docs")
        )
        gen_documents_df(spark, WARM_DOCS, seed=seed + 1_000_003, cfg=wl.cfg).write.parquet(
            os.path.join(path, "warm")
        )
    open(done, "w").close()
    return path


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Timed:
    """What one timed part measured."""

    docs_per_s: float
    batch_s: list[float]  # one sample per batch (pipeline run or micro-batch)
    attempted: int
    failed: int
    progress: list[dict] | None = None  # streaming progress of the timed drain


def _batch_iteration(docs, mode: str, out_dir: str) -> int:
    """One pipeline run plus its three writes; returns failed operations."""
    try:
        out = pipeline.run_pipeline(docs, mode)
    except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
        traceback.print_exc()
        return len(OUTPUTS)
    failed = 0
    for name in OUTPUTS:
        try:
            out[name].write.mode("overwrite").parquet(os.path.join(out_dir, name))
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            failed += 1
    return failed


def _repeat(fn, seconds: float) -> tuple[list[float], list]:
    """Call ``fn`` until ``seconds`` have passed, at least ``MIN_PASSES``
    times; returns each call's duration and result."""
    samples, results = [], []
    start = time.perf_counter()
    while len(samples) < MIN_PASSES or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        results.append(fn())
        samples.append(time.perf_counter() - t0)
    return samples, results


def warm_up(spark, wl: Workload, input_dir: str, out_dir: str) -> tuple[int, int]:
    """The untimed first pass over the small ``warm`` input: it compiles
    the plans and warms the JIT. Returns (attempted, failed) operations."""
    src = os.path.join(input_dir, "warm")
    if wl.streaming:
        _, _, failed = drain(spark, src, os.path.join(out_dir, "warm"))
        return WARM_FILES, failed
    return len(OUTPUTS), _batch_iteration(spark.read.parquet(src), wl.mode, out_dir)


def run_batch(spark, wl: Workload, input_dir: str, out_dir: str, seconds: float) -> Timed:
    """``run_pipeline`` + the three writes, repeated timed for ``seconds``
    (at least ``MIN_PASSES`` times). Each timed repeat is one batch sample."""
    docs = spark.read.parquet(os.path.join(input_dir, "docs"))
    samples, failed = _repeat(lambda: _batch_iteration(docs, wl.mode, out_dir), seconds)
    return Timed(
        wl.n_docs * len(samples) / sum(samples), samples,
        len(OUTPUTS) * len(samples), sum(failed),
    )


def drain(spark, src: str, out_dir: str) -> tuple[float, list[dict], int]:
    """Drain every file under ``src`` through ``incremental_pipeline`` (one
    file per micro-batch). Returns (wall, progress of non-empty batches,
    failed batches)."""
    for sub in ("out", "checkpoint"):
        shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
    writer = ingest.incremental_pipeline(
        ingest.stream_documents(spark, src, max_files=1),
        os.path.join(out_dir, "out"),
        os.path.join(out_dir, "checkpoint"),
    )
    t0 = time.perf_counter()
    query = writer.start()
    failed = 0
    try:
        query.awaitTermination()
    except Exception:  # noqa: BLE001 - a failed drain is counted, not fatal
        traceback.print_exc()
        failed = 1
    wall = time.perf_counter() - t0
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    if failed:
        failed = len(parquet_files(src)) - len(progress)
    return wall, progress, failed


def run_stream(spark, wl: Workload, input_dir: str, out_dir: str) -> Timed:
    """The timed drain of the input, one micro-batch per file."""
    src = os.path.join(input_dir, "docs")
    wall, progress, failed = drain(spark, src, os.path.join(out_dir, "timed"))
    samples = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    return Timed(
        wl.total_docs / wall, samples or [wall],
        len(parquet_files(src)), failed, progress,
    )
