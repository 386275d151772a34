"""Similarity search over embedding columns (array<float>).

Two paths:
  * ``cosine_topk``      — exact brute force: broadcast the (small) query
    side, dot products via ``F.zip_with``/``F.aggregate`` (JVM-side), rank
    per query. The correctness baseline.
  * ``lsh_cosine_topk``  — scale path: random-hyperplane signatures bucket
    the corpus (signature computed in one Arrow-vectorized matrix multiply),
    candidates = same-bucket rows across ``LSH_TABLES`` independent hash tables,
    exact cosine re-rank on candidates only.
  * ``embedding_neardup_pairs`` — near-duplicate pairs by cosine >= tau
    over LSH buckets.

Every operator reads ``(vec_id, embedding)``. The LSH paths hash with
``LSH_TABLES`` tables of ``LSH_BITS`` hyperplanes each, seeded with
``LSH_SEED`` (no RNG state on executors); the driver's DuckDB oracle
replays the same planes."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

LSH_BITS = 10
LSH_TABLES = 4
LSH_SEED = 42


def _as_double(a: Column) -> Column:
    # cast BEFORE multiplying: float*float then widen loses parity with a
    # double-precision oracle (products must be computed in double)
    return F.transform(a, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by cosine: queries broadcast against the corpus.
    Returns (query_id, neighbor_id, rk, score). Self-matches excluded."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("cv")
    )
    j = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    score = _dot(F.col("qv"), F.col("cv")) / (
        _norm(F.col("qv")) * _norm(F.col("cv"))
    )
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        j.withColumn("score", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("query_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            F.col("rk").cast("long"),
            F.round("score", 6).alias("score"),
        )
    )


def _planes(dim: int, bits: int, table: int) -> np.ndarray:
    rng = np.random.default_rng(np.random.SeedSequence([LSH_SEED, table]))
    return rng.standard_normal((dim, bits)).astype(np.float64)


def hyperplane_signatures(dim: int):
    """Pandas UDF: embedding -> array of per-table LSH buckets. All
    ``LSH_TABLES`` signatures in ONE matmul over the horizontally stacked
    planes — one corpus scan and one Python stage instead of one per
    table. Bucket values are identical to one matmul per table's (same
    planes, column-independent dot products)."""
    planes = np.concatenate(
        [_planes(dim, LSH_BITS, t) for t in range(LSH_TABLES)], axis=1
    )
    weights = (1 << np.arange(LSH_BITS)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())
        b = (m @ planes > 0).astype(np.int64).reshape(len(m), LSH_TABLES, LSH_BITS) @ weights
        return pd.Series(list(b))

    return sig


def lsh_cosine_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5) -> DataFrame:
    """Approximate top-k: same-bucket candidates across ``LSH_TABLES``
    hyperplane tables, exact cosine re-rank. All table signatures come
    from one Arrow-batched matmul per side (one corpus scan, one Python
    stage), posexploded to (table, bucket) and matched with a single
    broadcast equi-join on the pair — same candidate set as the
    per-table union, one join instead of one per table."""
    from pyspark.sql import Window  # noqa: PLC0415

    sig = hyperplane_signatures(dim)
    vec = F.col("embedding")
    cq = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(vec).alias("qv"),
        F.posexplode(sig(vec)).alias("t", "bucket"),
    )
    cc = corpus.select(
        F.col("vec_id").alias("neighbor_id"), _as_double(vec).alias("cv"),
        F.posexplode(sig(vec)).alias("t", "bucket"),
    )
    # score BEFORE the pair-dedup exchange and aggregate instead of
    # dropDuplicates (guide §2.3: project before the exchange): the qv/cv
    # vectors (~1 KB/row at dim 64) otherwise ride the dedup shuffle and
    # force a SortAggregate over array columns. A pair found in several
    # tables computes the identical score from the identical vectors, so
    # max() is a value-exact stand-in for "keep any one".
    score = _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    cands = (
        cc.join(F.broadcast(cq), ["t", "bucket"])
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


def embedding_neardup_pairs(df: DataFrame, dim: int, tau: float = 0.95) -> DataFrame:
    """Near-duplicate pairs (cosine >= tau) via LSH buckets + exact verify.

    No bucket is capped: dropping a bucket silently loses recall (a corpus
    of exact-duplicate embeddings would report zero pairs for those
    groups), so a degenerate bucket of identical embeddings emits all
    O(bucket^2) of its pairs."""
    sig = hyperplane_signatures(dim)
    vec = F.col("embedding")
    s = df.select(
        F.col("vec_id").alias("id"), _as_double(vec).alias("v"),
        F.posexplode(sig(vec)).alias("t", "bucket"),
    )
    a = s.select("t", "bucket", F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = s.select("t", "bucket", F.col("id").alias("id_b"), F.col("v").alias("vb"))
    # cosine BEFORE the pair-dedup exchange (guide §2.3): duplicate pairs
    # from different tables carry identical vectors, hence identical
    # cosines — max() keeps the value exact while the dedup shuffle moves
    # (id, id, double) rows instead of two dim-length arrays per row.
    score = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        a.join(b, ["t", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score.alias("cosine"))
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
        .filter(F.col("cosine") >= tau)
        .select(
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            F.round("cosine", 6).alias("cosine"),
        )
    )
