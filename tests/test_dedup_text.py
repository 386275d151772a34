"""Dedup families, text quality, fingerprinting."""

from har2tree_spark.text import dedup, quality


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (4, "completely different content about spark engines and data"),
        (5, "el rapido zorro marron salta sobre el perro perezoso y la casa"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    got = dedup.exact_dedup(_docs(spark)).toPandas()
    dup_groups = got[got.n_docs > 1]
    assert len(dup_groups) == 1
    assert dup_groups.keeper.iloc[0] == 1
    assert list(dup_groups.members.iloc[0]) == [1, 2]


def test_minhash_lsh_finds_near_dups(spark):
    pairs = dedup.minhash_lsh_pairs(_docs(spark), threshold=0.3).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (1, 2) in got  # exact dup always survives
    assert all(a < b for a, b in got)
    # the unrelated doc never pairs with anything
    assert not any(4 in p or 5 in p for p in got)


def test_ngram_jaccard_exact_values(spark):
    pairs = dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.2).toPandas()
    exact = pairs[(pairs.id_a == 1) & (pairs.id_b == 2)]
    assert len(exact) == 1 and exact.jaccard.iloc[0] == 1.0
    near = pairs[(pairs.id_a == 1) & (pairs.id_b == 3)]
    assert len(near) == 1 and 0.2 <= near.jaccard.iloc[0] < 1.0


def test_simhash_pairs(spark):
    pairs = dedup.simhash_pairs(_docs(spark), max_hamming=3).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (1, 2) in got
    d = pairs[(pairs.id_a == 1) & (pairs.id_b == 2)]
    assert d.hamming.iloc[0] == 0


def test_quality_features(spark):
    q = quality.quality_features(_docs(spark)).toPandas().set_index("id")
    assert (q.n_tokens >= q.n_words).all()
    assert q.loc[1, "stopword_ratio"] > 0.2  # 'the' x2 + 'over' ... en text
    assert 0.0 <= q.quality_score.min() and q.quality_score.max() <= 1.0
    assert q.loc[1, "pred_lang"] == "en"
    assert q.loc[5, "pred_lang"] == "es"


def test_fingerprint_normalization(spark):
    rows = [
        (1, "Hello,   World!"),
        (2, "hello world"),
        (3, "different"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = quality.fingerprint(df).toPandas().set_index("id")
    assert fp.loc[1, "fingerprint"] == fp.loc[2, "fingerprint"]
    assert fp.loc[1, "fingerprint"] != fp.loc[3, "fingerprint"]


def test_dedup_on_driver_documents(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = dedup.minhash_lsh_pairs(d, threshold=0.9)
    assert got.count() >= 0  # runs over the real table without error
    q = quality.quality_features(d)
    assert q.count() == d.count()


def test_degenerate_corpus_bounded(spark):
    """Identical docs: every pair generator must stay bounded (bucket /
    document-frequency caps drop the degenerate groups instead of emitting
    ~500k quadratic pairs). A bucket of exactly ``MAX_BUCKET`` docs is kept
    whole; one more doc drops it, and ``MAX_DF + 1`` docs drop every
    shared shingle."""
    text = "same boilerplate text repeated in every single document"

    def same(n):
        return spark.createDataFrame([(i, text) for i in range(n)], "doc_id long, text string")

    n = dedup.MAX_BUCKET
    assert dedup.minhash_lsh_pairs(same(n)).count() == n * (n - 1) // 2
    assert dedup.simhash_pairs(same(n)).count() == n * (n - 1) // 2
    assert dedup.minhash_lsh_pairs(same(n + 1)).count() == 0
    assert dedup.simhash_pairs(same(n + 1)).count() == 0
    d = same(dedup.MAX_DF + 1)
    assert dedup.minhash_lsh_pairs(d).count() == 0
    assert dedup.simhash_pairs(d, max_hamming=3).count() == 0
    assert dedup.ngram_jaccard_pairs(d).count() == 0


def test_simhash_bands_guard(spark):
    # simhash_pairs bands max_hamming + 1 chunks, so a pair within
    # max_hamming bits shares one whole band: the near dup (1, 3) is found
    pairs = dedup.simhash_pairs(_docs(spark), max_hamming=8).toPandas()
    got = dict(zip(zip(pairs.id_a, pairs.id_b), pairs.hamming))
    want = {r.id: r.simhash for r in dedup.simhash(_docs(spark)).collect()}
    d13 = bin((want[1] ^ want[3]) & (2**64 - 1)).count("1")
    assert (d13 <= 8) == ((1, 3) in got)
    # band layout partitions all 64 bits
    layout = dedup.simhash_band_layout(9)
    assert sum(w for _, w in layout) == 64
    assert layout[0] == (0, 8)


def _py_simhash64(text: str) -> int:
    """Independent oracle for the JVM simhash: the module's original
    Arrow-UDF algorithm (first-8-bytes-of-md5 token hashes, strict
    bit-majority vote), kept as the parity contract."""
    import hashlib
    import re as _re

    toks = _re.split(r"\s+", text.strip()) if text is not None else None
    if toks is None or len(toks) == 0:
        return 0
    votes = [0] * 64
    for t in toks:
        h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(64):
        if votes[b] > 0:
            out |= 1 << b
    # reinterpret as signed 64-bit (the engine column is a Spark long)
    return out - (1 << 64) if out >= (1 << 63) else out


def test_simhash_jvm_matches_python_oracle(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a b c d e f g h i j k l m n o p"),
        (3, ""),  # empty text -> single '' token, NOT fingerprint 0
        (4, "one"),
        (5, "   padded   whitespace   everywhere   "),
        (6, "repeated repeated repeated token token mix"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    for i, text in rows:
        assert got[i] == _py_simhash64(text), f"doc {i}"


def test_simhash_null_text_is_zero(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "real text here")], "doc_id long, text string"
    )
    got = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    assert got[1] == 0
    assert got[2] == _py_simhash64("real text here")


def test_exact_dedup_members_bounded(spark):
    """Law test (VERDICT r3 #1 + r4 #6): a 10^5-identical-doc corpus must
    produce a bounded members row — n_docs exact, members = the 100
    smallest ids — WITHOUT the caller opting in, and the default plan must
    be the O(cap)-state shape (row_number pre-cap before the collect_list,
    not an O(group) aggregation buffer)."""
    from pyspark.sql import functions as F

    d = spark.range(100_000).select(
        F.col("id").alias("doc_id"), F.lit("identical boilerplate").alias("text")
    )
    out = dedup.exact_dedup(d, members_cap=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan, plan
    row = out.collect()[0]
    assert row.n_docs == 100_000
    assert row.keeper == 0
    assert list(row.members) == list(range(100))


def test_exact_dedup_bounded_plan_matches_python(spark):
    """The row_number pre-cap plan gives, per content group, the exact
    n_docs, the min keeper and the 10 smallest ids in sorted order —
    checked against the same grouping computed in Python."""
    import hashlib

    rows = [(i, f"text {i % 7}") for i in range(300)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.content_hash: (r.n_docs, r.keeper, list(r.members))
        for r in dedup.exact_dedup(d, members_cap=10).collect()
    }
    groups: dict[str, list[int]] = {}
    for i, text in rows:
        groups.setdefault(hashlib.md5(text.encode()).hexdigest(), []).append(i)
    want = {h: (len(ids), min(ids), sorted(ids)[:10]) for h, ids in groups.items()}
    assert got == want
    assert len(got) == 7
