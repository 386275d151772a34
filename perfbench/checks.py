"""Output checks run by every benchmark run, after the timed part.

Each check returns a list of failure messages; an empty list means the
outputs are correct. Structural invariants hold for every workload; exact
workloads are also compared row for row with the pure-Python oracle on a
seeded sample of documents.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from har2tree_spark.operators import parse
from har2tree_spark.oracle import pycascade

JOIN_COLS = ["doc_id", "span_idx", "parent_idx", "join_kind", "priority", "depth"]


def _live_counts(docs) -> dict[str, int]:
    """Live spans, live spans with a cell, and non-quarantined docs."""
    feats = parse.parse_documents(docs).filter(
        F.col("span_idx").isNotNull() & (F.col("n_live") > 0)
    )
    row = feats.agg(
        F.count("*").alias("live"),
        F.count("cell").alias("with_cell"),
        F.countDistinct("doc_id").alias("docs"),
    ).first()
    return row.asDict()


def _check_join(jr, live: dict[str, int]) -> list[str]:
    errors = []
    row = jr.agg(
        F.count("*").alias("rows"),
        F.countDistinct("doc_id", "span_idx").alias("distinct"),
        F.sum((F.col("join_kind") == "root").cast("int")).alias("roots"),
        F.countDistinct(F.when(F.col("join_kind") == "root", F.col("doc_id"))).alias("root_docs"),
    ).first()
    if row["rows"] != live["live"] or row["distinct"] != live["live"]:
        errors.append(
            f"join rows {row['rows']} ({row['distinct']} distinct) != live spans {live['live']}"
        )
    if row["roots"] != live["docs"] or row["root_docs"] != live["docs"]:
        errors.append(
            f"roots {row['roots']} over {row['root_docs']} docs != {live['docs']} live docs"
        )
    spans = jr.select("doc_id", F.col("span_idx").alias("parent_idx"))
    stray = (
        jr.filter(F.col("parent_idx") != -1)
        .join(spans, ["doc_id", "parent_idx"], "left_anti")
        .count()
    )
    if stray:
        errors.append(f"{stray} join rows point at a parent outside their doc")
    return errors


def _check_oracle(docs, jr, wl, seed: int) -> list[str]:
    rng = random.Random(seed)
    n_docs = wl.total_docs
    ids = [f"doc-{i:08d}" for i in rng.sample(range(n_docs), min(wl.oracle_docs, n_docs))]
    raw = [r.asDict(recursive=True) for r in docs.filter(F.col("doc_id").isin(ids)).collect()]
    for doc in raw:
        doc["spans"] = doc["spans"] or []
    want = sorted(tuple(r[c] for c in JOIN_COLS) for r in pycascade.cascade_docs(raw))
    got = sorted(
        tuple(r) for r in jr.filter(F.col("doc_id").isin(ids)).select(*JOIN_COLS).collect()
    )
    if got != want:
        diff = sorted(set(got) ^ set(want))[:3]
        return [f"exact join rows differ from pycascade on sampled docs, e.g. {diff}"]
    return []


def check_batch(spark, wl, input_dir: str, out_dir: str, seed: int) -> list[str]:
    docs = spark.read.parquet(os.path.join(input_dir, "docs"))
    live = _live_counts(docs)
    jr = spark.read.parquet(os.path.join(out_dir, "join_result"))
    errors = _check_join(jr, live)
    levels = (
        spark.read.parquet(os.path.join(out_dir, "tile_rollup"))
        .groupBy("level")
        .agg(F.sum("n_spans").alias("n"))
        .collect()
    )
    bad = {r["level"]: r["n"] for r in levels if r["n"] != live["with_cell"]}
    if not levels or bad:
        errors.append(f"tile_rollup n_spans per level {bad} != {live['with_cell']} spans with a cell")
    total = spark.read.parquet(os.path.join(out_dir, "doc_stats")).agg(
        F.sum("total_spans")
    ).first()[0]
    if total != live["live"]:
        errors.append(f"doc_stats total_spans sums to {total}, join rows {live['live']}")
    if wl.mode == "exact":
        errors += _check_oracle(docs, jr, wl, seed)
    return errors


def check_stream(spark, wl, input_dir: str, out_dir: str, seed: int) -> list[str]:
    """Rows across all epochs of the timed drain against the whole input."""
    docs = spark.read.parquet(os.path.join(input_dir, "docs"))
    live = _live_counts(docs)
    jr = spark.read.parquet(os.path.join(out_dir, "timed", "out", "join_result"))
    return _check_join(jr, live) + _check_oracle(docs, jr, wl, seed)
