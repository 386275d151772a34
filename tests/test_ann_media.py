"""ANN similarity search + multimodal plumbing."""

import numpy as np

from har2tree_spark.ann import knn
from har2tree_spark.media import multimodal


def _emb(spark, n=60, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((6, dim))
    rows = []
    for i in range(n):
        v = base[i % 6] + 0.05 * rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), rows


def test_cosine_topk_bruteforce(spark):
    df, rows = _emb(spark)
    qs = df.filter("vec_id < 3")
    got = knn.cosine_topk(df, qs, k=3).toPandas()
    assert set(got.query_id) == {0, 1, 2}
    assert (got.groupby("query_id").size() == 3).all()
    # verify against numpy for query 0
    v = np.asarray([r[1] for r in rows])
    sims = (v @ v[0]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    sims[0] = -np.inf
    want_top = int(np.argmax(sims))
    got0 = got[(got.query_id == 0) & (got.rk == 1)]
    assert int(got0.neighbor_id.iloc[0]) == want_top


def test_lsh_topk_recall(spark):
    df, _ = _emb(spark, n=120)
    qs = df.filter("vec_id < 5")
    exact = knn.cosine_topk(df, qs, k=1).toPandas()
    approx = knn.lsh_cosine_topk(df, qs, dim=8, k=1).toPandas()
    e = exact.set_index("query_id").neighbor_id
    a = approx.set_index("query_id").neighbor_id
    # clustered data: LSH must recover the exact nearest for most queries
    hits = sum(int(e.get(q, -1) == a.get(q, -2)) for q in e.index)
    assert hits >= 4


def test_ivf_topk_recall_and_laws(spark):
    from har2tree_spark.ann import ivf

    df, _ = _emb(spark, n=120)
    qs = df.filter("vec_id < 5")
    exact = knn.cosine_topk(df, qs, k=1).toPandas()
    approx = ivf.ivf_topk(df, qs, k=1, n_centroids=12, nprobe=4).toPandas()
    e = exact.set_index("query_id").neighbor_id
    a = approx.set_index("query_id").neighbor_id
    # clustered data: probing 4 of 12 lists must recover most exact-1NN
    hits = sum(int(e.get(q, -1) == a.get(q, -2)) for q in e.index)
    assert hits >= 4
    full = ivf.ivf_topk(df, qs, k=3, n_centroids=12, nprobe=4).toPandas()
    # per-query ranks are 1..n without gaps, no self matches
    for q, g in full.groupby("query_id"):
        assert list(g.sort_values("rk").rk) == list(range(1, len(g) + 1))
        assert (g.neighbor_id != q).all()
    # deterministic
    again = ivf.ivf_topk(df, qs, k=3, n_centroids=12, nprobe=4).toPandas()
    assert full.sort_values(["query_id", "rk"]).values.tolist() == \
        again.sort_values(["query_id", "rk"]).values.tolist()


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = knn.embedding_neardup_pairs(df, dim=4, tau=0.99).toPandas()
    assert {(0, 1)} == set(map(tuple, got[["id_a", "id_b"]].to_numpy()))


def test_embedding_neardup_exact_duplicates_kept_by_default(spark):
    # the degenerate all-identical corpus: no bucket is capped, so every
    # pair must be reported, not silently dropped
    n = 12
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = knn.embedding_neardup_pairs(df, dim=4, tau=0.99)
    assert got.count() == n * (n - 1) // 2


def test_ann_on_driver_embeddings(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = df.limit(3)
    got = knn.cosine_topk(df, qs, k=5)
    assert got.count() == 15


def test_media_plumbing(spark):
    m = multimodal.synthesize_media(spark, 48)
    assert m.count() == 48
    f = multimodal.extract_features(m).toPandas()
    assert len(f) == 48
    assert all(len(v) == multimodal.FEATURE_DIM for v in f.feature)
    # deterministic: same id -> same feature
    f2 = multimodal.extract_features(multimodal.synthesize_media(spark, 48)).toPandas()
    a = [list(v) for v in f.sort_values("media_id").feature]
    b = [list(v) for v in f2.sort_values("media_id").feature]
    assert a == b
    # the features are the 16-bin histogram of the raw payload bytes,
    # L2-normalised
    payloads = {r.media_id: bytes(r.payload) for r in m.collect()}
    for r in f.itertuples():
        want, _ = np.histogram(
            np.frombuffer(payloads[r.media_id], dtype=np.uint8),
            bins=multimodal.FEATURE_DIM, range=(0, 256),
        )
        assert list(r.hist) == want.tolist()
        assert abs(float(np.linalg.norm(np.array(r.feature))) - 1.0) < 1e-6
    frames = multimodal.sample_frames(m).toPandas()
    assert (frames.frame_ms % 5000 == 0).all()
    dd = multimodal.media_dedup(m)
    assert dd.count() == 48  # all payloads distinct
