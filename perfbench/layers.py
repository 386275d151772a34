"""The traced run: each layer materialised on its own, plus layer counts.

scan -> parse -> cascade -> tiling -> stats -> sink. Each layer reads the
previous layer's ``localCheckpoint``, is timed writing to the ``noop``
sink under ``setJobGroup(<layer>)``, and is then checkpointed (untimed,
under its own group) for the next layer. The sink layer writes the three
output tables to parquet from the checkpoints.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from har2tree_spark.operators import cascade, parse, stats, tiling
from har2tree_spark.operators.kernel import KERNEL_COLS, cascade_batch_arrow
from har2tree_spark.schema import PRIORITY

from perfbench.tracing import Spans

LAYERS = ("scan", "parse", "cascade", "tiling", "stats", "sink")
UNTIMED = "untimed"  # job group of checkpoints and counting jobs


class LayeredRun:
    """Runs the layers of one workload input and keeps their checkpoints."""

    def __init__(self, spark, spans: Spans, mode: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans = spans
        self.mode = mode
        self.rows: dict[str, int] = {}

    def _layer(self, name: str, build):
        self.sc.setJobGroup(name, name)
        with self.spans.span(name):
            df = build()
            df.write.format("noop").mode("overwrite").save()
        self.sc.setJobGroup(UNTIMED, f"checkpoint {name}")
        ckpt = df.localCheckpoint()
        self.rows[name] = ckpt.count()
        return ckpt

    def run(self, docs_path: str, out_dir: str) -> None:
        with self.spans.span("layered"):
            self.docs = self._layer("scan", lambda: self.spark.read.parquet(docs_path))
            self.feats = self._layer("parse", lambda: parse.parse_documents(self.docs))
            resolve = cascade.resolve_exact if self.mode == "exact" else cascade.resolve_rank
            self.jr = self._layer("cascade", lambda: resolve(self.feats))
            self.rollup = self._layer(
                "tiling", lambda: tiling.tile_rollup(tiling.tile_assignment(self.feats))
            )
            self.ds = self._layer("stats", lambda: stats.doc_stats(self.feats, self.jr))
            self.sc.setJobGroup("sink", "sink")
            with self.spans.span("sink"):
                for name, df in (
                    ("join_result", self.jr), ("tile_rollup", self.rollup), ("doc_stats", self.ds)
                ):
                    df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
            self.rows["sink"] = self.rows["cascade"] + self.rows["tiling"] + self.rows["stats"]
        self.sc.setJobGroup(UNTIMED, "counts")

    def wall_s(self) -> float:
        return sum(self.spans.duration(name) for name in LAYERS)

    def counts(self) -> dict[str, float]:
        """Parse, cascade and tiling counts from the checkpoints."""
        out: dict[str, float] = {}
        every = parse.parse_documents(self.docs, keep_dropped=True).agg(
            F.countDistinct("doc_id").alias("docs_in"),
            F.countDistinct(F.when(F.col("n_live") == 0, F.col("doc_id"))).alias("quarantined"),
            F.count("span_idx").alias("spans_in"),
            F.sum(F.col("dropped").cast("int")).alias("dropped"),
            F.sum(F.col("suppressed").cast("int")).alias("suppressed"),
        ).first()
        out["parse.docs_in"] = every["docs_in"]
        out["parse.docs_quarantined"] = every["quarantined"]
        out["parse.spans_in"] = every["spans_in"]
        out["parse.spans_dropped"] = every["dropped"] or 0
        out["parse.spans_suppressed"] = every["suppressed"] or 0
        live = cascade.live_features(self.feats).count()
        out["parse.spans_live"] = live

        winners = {r["join_kind"]: r["count"] for r in self.jr.groupBy("join_kind").count().collect()}
        for kind in PRIORITY:
            out[f"cascade.winners.{kind}"] = winners.get(kind, 0)
        edges = cascade.candidate_edges(self.feats, dedup=False).count()
        children = live - winners.get("root", 0)
        out["cascade.edges_per_child"] = edges / children if children else 0.0

        finest = self.rollup.agg(F.max("level")).first()[0]
        hot = (
            self.rollup.filter(F.col("level") == finest)
            .agg(F.max("n_spans").alias("top"), F.sum("n_spans").alias("all"))
            .first()
        )
        out["tiling.tiles_out"] = self.rows["tiling"]
        out["tiling.hot_tile_share"] = hot["top"] / hot["all"] if hot["all"] else 0.0
        return out

    def kernel(self, max_batch_rows: int, repeats: int = 3) -> dict[str, float]:
        """In-process ``cascade_batch_arrow`` over the sorted live features,
        cut into Arrow batches of the session's ``maxRecordsPerBatch``."""
        import pyarrow.compute as pc  # noqa: PLC0415

        table = (
            cascade.live_features(self.feats)
            .select(*KERNEL_COLS)
            .orderBy("doc_id", "offset", "span_idx")
            .toArrow()
            .combine_chunks()
        )
        batches = table.to_batches(max_chunksize=max_batch_rows)
        ids = [b.column("doc_id") for b in batches]
        straddling = sum(
            1 for a, b in zip(ids, ids[1:]) if a[-1].as_py() == b[0].as_py()
        )
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            rows_out = sum(b.num_rows for b in cascade_batch_arrow(iter(batches)))
            times.append(time.perf_counter() - t0)
        if rows_out != table.num_rows:
            raise RuntimeError(f"kernel emitted {rows_out} rows for {table.num_rows}")
        return {
            "kernel.us_per_row": statistics.median(times) / max(1, table.num_rows) * 1e6,
            "kernel.rows": table.num_rows,
            "kernel.docs": pc.count_distinct(table.column("doc_id")).as_py(),
            "kernel.batches": len(batches),
            "kernel.straddling_docs": straddling,
        }
