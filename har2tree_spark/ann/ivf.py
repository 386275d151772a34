"""IVF (inverted-file) approximate nearest neighbour — the second ANN
scale path next to hyperplane LSH (ann/knn.py).

Classic IVF: a small coarse quantizer partitions the corpus into K
inverted lists; a query probes only its ``nprobe`` nearest lists and
re-ranks those candidates exactly. At cluster scale the corpus is
partitioned (bucketed) BY list id, so a probe is a partition-pruned read
+ broadcast join — no all-pairs shuffle.

The quantizer here is deterministic sampling (the K lowest-id vectors),
not trained k-means: at 10^12 rows a trained quantizer is refreshed
offline anyway, sampling keeps the operator reproducible bit-for-bit and
— deliberately — lets the driver's DuckDB oracle replay the whole path
(centroids are a SELECT, assignment is an argmax window, probing is a
top-nprobe window). Swapping in trained centroids changes one DataFrame.

Every operator reads ``(vec_id, embedding)``. Scores are exact cosine
computed JVM-side (zip_with/aggregate fold, same operand order as the
oracle's list_dot_product)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from har2tree_spark.ann.knn import _as_double, _dot, _norm


def sampled_centroids(corpus: DataFrame, k: int = 32) -> DataFrame:
    """Deterministic coarse quantizer: the K lowest-id vectors.
    Returns (centroid_id, cv) — small, always broadcast. orderBy+limit,
    not a global window: TakeOrderedAndProject does a per-partition
    partial top-K, no single-partition funnel."""
    return corpus.select(
        F.col("vec_id").alias("centroid_id"), _as_double(F.col("embedding")).alias("cv")
    ).orderBy("centroid_id").limit(k)


def _assign(
    df: DataFrame,
    centroids: DataFrame,
    n_lists: int,
    id_alias: str,
    vec_alias: str,
) -> DataFrame:
    """Top-``n_lists`` centroid assignments per vector (cosine argmax,
    ties broken by centroid_id). Broadcast join, then:

      * ``n_lists == 1`` (the corpus->inverted-list path, K x corpus
        rows): a ``max_by`` aggregation — map-side partial combine, no
        per-partition sort, no full sort-shuffle of K x the corpus. At
        10^12 corpus rows this is the difference between one partial-agg
        shuffle of the corpus and a window sort over K x the corpus.
      * ``n_lists > 1`` (the query nprobe path, small by construction):
        the row_number window, which is the natural top-n shape.

    The max_by ordering struct (cscore, -centroid_id) reproduces the
    window's (cscore DESC, centroid_id ASC) tie-break exactly —
    plan-asserted and gate-checked identical (`ann_ivf`)."""
    v = df.select(
        F.col("vec_id").alias(id_alias), _as_double(F.col("embedding")).alias(vec_alias)
    )
    score = _dot(F.col(vec_alias), F.col("cv")) / (
        _norm(F.col(vec_alias)) * _norm(F.col("cv"))
    )
    scored = v.crossJoin(F.broadcast(centroids)).withColumn("cscore", score)
    if n_lists == 1:
        best = scored.groupBy(id_alias).agg(
            F.max_by(
                F.struct(F.col("centroid_id"), F.col(vec_alias)),
                F.struct(F.col("cscore"), (-F.col("centroid_id")).alias("tb")),
            ).alias("best")
        )
        return best.select(
            id_alias,
            F.col(f"best.{vec_alias}").alias(vec_alias),
            F.col("best.centroid_id").alias("centroid_id"),
        )
    w = Window.partitionBy(id_alias).orderBy(F.desc("cscore"), F.asc("centroid_id"))
    return (
        scored.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= n_lists)
        .drop("cv", "cscore", "crk")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k: corpus vectors live in ONE inverted list each
    (their nearest centroid); queries probe their ``nprobe`` nearest
    lists; exact cosine re-rank over the union of probed lists.
    Returns (query_id, neighbor_id, rk, score); self-matches excluded."""
    cents = sampled_centroids(corpus, n_centroids)
    lists = _assign(corpus, cents, 1, "neighbor_id", "nv")
    probes = _assign(queries, cents, nprobe, "query_id", "qv")
    # score BEFORE the pair-dedup exchange and aggregate instead of
    # dropDuplicates (guide §2.3): a pair reached via several probed
    # lists computes the identical score from the identical vectors, so
    # max() is value-exact while the dedup shuffle moves (id, id, double)
    # rows instead of two dim-length arrays per row.
    score = _dot(F.col("qv"), F.col("nv")) / (_norm(F.col("qv")) * _norm(F.col("nv")))
    cands = (
        lists.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("score"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cands
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("query_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            F.col("rk").cast("long"),
            F.round("score", 6).alias("score"),
        )
    )
