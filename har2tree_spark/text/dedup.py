"""Deduplication operators for large-scale training-data pipelines.

All four families over a text table (default: the driver's ``documents``):

  * exact           — hash groupBy (content digest);
  * MinHash + LSH   — shingle -> per-seed min-hash -> band buckets ->
                      bucket join -> verified Jaccard;
  * SimHash         — bit-majority fingerprint + banded Hamming buckets;
  * n-gram Jaccard  — explode shingles -> equi-join -> pair counts.

Everything — including the SimHash bit-majority fold — is pure ``F.*``
column expressions (JVM, codegen; no Python stage anywhere in this
module). MinHash uses md5 as the hash family (same function exists
in DuckDB, so the driver's oracle can replay signatures bit-identically);
min over the hex string is a valid uniform min-hash.

Scale notes: shingle explode is narrow; the only shuffles are the band/
shingle groupBys. Band buckets are capped (``MAX_BUCKET``) before the
pair self-join so one degenerate bucket (all-identical boilerplate docs —
the hot-cell analogue) cannot produce a quadratic pair blowup.

Every operator reads ``(doc_id, text)`` and has one fixed shape: 3-word
shingles, a 16-hash MinHash signature in 4 bands, buckets capped at 64
members, shingles shared by more than 1000 documents dropped. The
driver's DuckDB oracle replays these values as literals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SHINGLE_N = 3
MINHASH_HASHES = 16
MINHASH_BANDS = 4
MAX_BUCKET = 64
MAX_DF = 1000


def exact_dedup(df: DataFrame, members_cap: int = 100) -> DataFrame:
    """Groups by content digest; keeper = min id per group.

    ``members`` holds only the ``members_cap`` smallest ids per group
    (sorted); ``n_docs`` stays exact. At 100 TB a degenerate group (10^7
    identical boilerplate docs) must not materialize one row holding every
    member id — the cap bounds the emitted row width (and the shuffled
    bytes) to O(members_cap).

    Plan: a row_number-window pre-cap whose per-operator state is
    O(members_cap) everywhere — row_number streams over the sorted
    partition, the filter drops everything past the cap before the
    collect_list, and the exact ``n_docs``/``keeper`` come from a
    constant-state count/min aggregate. Cost: the 2-column (hash, id)
    projection is scanned by two branches (prunable-cheap from parquet)
    plus one extra sort-shuffle."""
    h = df.select(F.md5("text").alias("content_hash"), F.col("doc_id").alias("_mid"))
    counts = h.groupBy("content_hash").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("_mid").alias("keeper"),
    )
    w = Window.partitionBy("content_hash").orderBy("_mid")
    capped = (
        h.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= members_cap)
        .groupBy("content_hash")
        .agg(F.sort_array(F.collect_list("_mid")).alias("members"))
    )
    return counts.join(capped, "content_hash")


def word_shingles(text_col: Column) -> Column:
    """``SHINGLE_N``-word shingles of a text column (array<string>),
    JVM-side."""
    n = SHINGLE_N
    words = F.split(F.trim(text_col), "\\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.when(F.size(words) >= n,
                  F.array_distinct(
                      F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
                  )).otherwise(F.array(F.concat_ws(" ", words)))


MINHASH_MOD = 1 << 48


def _mh_params(num_hashes: int) -> list[tuple[int, int]]:
    """Universal-hash constants: odd ~2^12 multipliers (products stay
    < 2^61, BIGINT-exact in Spark AND DuckDB) + golden-ratio-spread
    offsets."""
    return [
        (4097 + 2 * i, (i * 0x9E3779B1) % MINHASH_MOD) for i in range(num_hashes)
    ]


def minhash_base(shingles: Column) -> Column:
    """48-bit base hash per shingle: first 12 hex chars of md5 as an
    integer. ONE md5 per shingle; the per-seed family is pure arithmetic
    on this (16x less md5 work than hashing per seed, same LSH family).
    48 bits also survives an Arrow float64 round trip (< 2^53)."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"),
    )


def minhash_signature(base: Column) -> Column:
    """array<long> signature over ``minhash_base`` values: per seed i,
    min((a_i*h + b_i) mod 2^48). SQL-replayable: the driver oracle inlines
    the same (a_i, b_i) literals.

    NOTE (plan shape): project the base-hash array in its OWN select
    before calling this — it is referenced once per seed, and
    CollapseProject only preserves named intermediate projections. Also
    the per-element lambdas must stay single-argument (a two-argument
    lambda binds (element, index)), hence the closure helper."""

    def uh(a: int, b: int):
        return lambda v: (v * a + b) % MINHASH_MOD

    return F.array(
        *[
            F.array_min(F.transform(base, uh(a, b)))
            for a, b in _mh_params(MINHASH_HASHES)
        ]
    )


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Candidate pairs via LSH banding, verified by signature-estimated
    Jaccard >= threshold. Returns (id_a, id_b, est_jaccard).

    Plan shape (r6 rewrite): ONE hash exchange on (band, bucket-hash) does
    all the pair generation — a window row_number pre-cap bounds per-bucket
    state at MAX_BUCKET+1 rows (the bounded-buffer pattern from exact
    dedup), the groupBy reuses the window's partitioning (no second
    exchange), and the in-bucket pairwise expansion is a JVM higher-order
    transform over the collected members. This replaces the r4/r5 shape
    (eager localCheckpoint job + bucket-size agg + semi-join + a-b
    self-join: 3 extra shuffles plus a checkpoint write) which bench.py
    showed was overhead-bound at sf0.1, not md5-bound. Semantics are
    bit-identical: buckets with >MAX_BUCKET members are dropped whole
    (they hit the cap+1 sentinel and fail the size filter), smaller
    buckets are complete, and the est filter runs BEFORE the pair-dedup
    shuffle so rejected candidates never cross the wire."""
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    # Two measured perf guards (16.6x together at sf0.1):
    #  * repartition: a single small parquet file reads as ONE partition, so
    #    the md5 sweep — the dominant cost — would run on one core;
    #  * staged select: projecting the shingles column first keeps
    #    CollapseProject from re-inlining the shingle construction into each
    #    of the MINHASH_HASHES seed lambdas (it preserves intermediates that are
    #    referenced more than once).
    # (An explode -> md5 -> 16-min-aggregates formulation was A/B-measured
    # in round 4 and is ~2x SLOWER at sf0.1 — the extra groupBy shuffle of
    # the exploded shingles costs more than the per-element HOF evaluation
    # saves. Keep the shuffle-free array form.)
    par = df.sparkSession.sparkContext.defaultParallelism
    sig = (
        df.repartition(par)
        .select(
            F.col("doc_id").alias("id"), word_shingles(F.col("text")).alias("sh")
        )
        .select("id", minhash_base(F.col("sh")).alias("hv"))
        .select("id", minhash_signature(F.col("hv")).alias("sig"))
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col("sig")[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bh"),
        )
        for b in range(MINHASH_BANDS)
    ]
    banded = sig.select("id", "sig", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    # Skew/degenerate-bucket guard with BOUNDED state: row_number over the
    # bucket key caps what the collect_list can buffer at MAX_BUCKET+1
    # rows, so a pathological bucket holds cap+1 structs, never the whole
    # key's population. A bucket whose true size exceeds MAX_BUCKET
    # surfaces as exactly MAX_BUCKET+1 members and is dropped whole by the
    # size filter — identical semantics to the old count-and-semi-join
    # guard, minus two shuffles. The groupBy immediately after the window
    # shares its HashPartitioning(band, bh), so the whole guard+collect is
    # one exchange (asserted in tests/test_plans.py).
    w = Window.partitionBy("band", "bh").orderBy("id")
    buckets = (
        banded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MAX_BUCKET + 1)
        .groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list(F.struct("id", "sig"))).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= MAX_BUCKET))
    )
    # In-bucket pairwise expansion, JVM-side: for member i, pair it with
    # every later member (slice is 1-based; the two-arg lambda binds
    # (element, 0-based index)). sort_array above makes id_a < id_b by
    # construction and the output independent of collect_list order.
    pair_arr = F.flatten(
        F.transform(
            "ms",
            lambda m, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size("ms")),
                lambda m2: F.struct(
                    m["id"].alias("id_a"),
                    m2["id"].alias("id_b"),
                    m["sig"].alias("sig_a"),
                    m2["sig"].alias("sig_b"),
                ),
            ),
        )
    )
    pairs = buckets.select(F.explode(pair_arr).alias("p")).select("p.*")
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.size("sig_a")
    )
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        # project the signatures away BEFORE the pair-dedup exchange
        # (guide §2.3): duplicate pairs from different bands carry the
        # same signatures, hence the same est_jaccard, so the dedup only
        # needs the 3 output columns — not 2x16 signature longs per row.
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """n-gram Jaccard near-dup pairs over discriminative shingles: explode
    distinct shingles, drop shingles shared by more than ``MAX_DF`` docs
    (skew guard — one stopword-like shingle in 10^6 docs would alone emit
    ~10^12 pairs), equi-join on shingle, |A∩B|/(|A|+|B|-|A∩B|) >= threshold.
    Set sizes are counted AFTER the frequency cap, so the Jaccard is exact
    over the capped shingle space (boilerplate shingles carry no signal)."""
    sh = df.select(
        F.col("doc_id").alias("id"), F.explode(word_shingles(F.col("text"))).alias("sh")
    ).distinct()
    freq = sh.groupBy("sh").agg(F.count("*").alias("df_n"))
    sh = sh.join(freq.filter(F.col("df_n") <= MAX_DF).select("sh"), "sh")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(df: DataFrame) -> DataFrame:
    """64-bit SimHash per document, fully JVM-side (no Python stage).

    Token hash = first 8 bytes (16 hex chars) of md5(token) — the same
    md5-derived family as the rest of this module, so the fingerprint is
    bit-replayable by a SQL oracle. The bit-majority fold is expressed
    relationally: explode tokens (narrow) -> md5 -> split the 64-bit hash
    into two 32-bit halves (BIGINT-safe in Spark AND DuckDB) -> ONE
    groupBy(id) with 64 `sum(bit)` aggregates (map-side partial combine,
    single shuffle) -> majority vote (2*sum > count) reassembled into a
    signed long (bit 63 contributes -2^63, keeping every intermediate in
    BIGINT range under ANSI). A left join back to the id universe restores
    docs whose text is NULL (no token rows) as simhash 0 — the same
    contract as the previous Arrow-UDF implementation, now ~100% codegen.

    Plan shape note: hi/lo are projected in their OWN select before the
    aggregate — each is referenced 32 times, and CollapseProject only
    preserves intermediates that are materialized as named columns."""
    toks = F.split(F.trim(F.col("text")), "\\s+")
    tok_rows = (
        df.select(F.col("doc_id").alias("id"), F.explode(toks).alias("tok"))
        .select("id", F.md5("tok").alias("h"))
        .select(
            "id",
            F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("lo"),
        )
    )

    def bit(b: int) -> Column:
        src, off = ("hi", b - 32) if b >= 32 else ("lo", b)
        return F.shiftright(F.col(src), off) % 2

    agg = tok_rows.groupBy("id").agg(
        F.count("*").alias("n_tok"),
        *[F.sum(bit(b)).alias(f"s{b}") for b in range(64)],
    )
    majority = [(2 * F.col(f"s{b}") > F.col("n_tok")) for b in range(64)]
    low = sum(
        (F.when(majority[b], F.lit(1 << b)).otherwise(F.lit(0)) for b in range(63)),
        F.lit(0),
    )
    sh = low + F.when(majority[63], F.lit(-(1 << 63))).otherwise(F.lit(0))
    fp = agg.select("id", sh.alias("simhash"))
    ids = df.select(F.col("doc_id").alias("id"))
    return ids.join(fp, "id", "left").select(
        "id", F.coalesce("simhash", F.lit(0)).cast("long").alias("simhash")
    )


def simhash_band_layout(bands: int) -> list[tuple[int, int]]:
    """(start_bit, width) per band: widths differ by at most one and the
    bands partition all 64 bits — required for the pigeonhole recall
    guarantee (a pair within Hamming distance <= bands-1 shares at least
    one bit-identical band)."""
    base, extra = divmod(64, bands)
    out, start = [], 0
    for b in range(bands):
        w = base + (1 if b < extra else 0)
        out.append((start, w))
        start += w
    return out


def simhash_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into ``max_hamming + 1``
    chunks, bucket-join, verify exact Hamming distance. That band count
    makes recall exact (pigeonhole over a full partition of the 64 bits).
    Buckets larger than ``MAX_BUCKET`` are dropped before the pair join
    (skew guard, same contract as minhash_lsh_pairs)."""
    sh = simhash(df)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.pmod(F.shiftrightunsigned("simhash", start), F.lit(1 << width)).alias("bh"),
        )
        for b, (start, width) in enumerate(simhash_band_layout(max_hamming + 1))
    ]
    banded = sh.select("id", "simhash", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    bucket_sizes = banded.groupBy("band", "bh").agg(F.count("*").alias("bn"))
    banded = banded.join(
        bucket_sizes.filter(F.col("bn") <= MAX_BUCKET).select("band", "bh"),
        ["band", "bh"],
    )
    a = banded.select("band", "bh", F.col("id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = banded.select("band", "bh", F.col("id").alias("id_b"), F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            "id_a",
            "id_b",
            F.col("hamming").cast("long").alias("hamming"),
            F.col("h_a").cast("long").alias("simhash_a"),
            F.col("h_b").cast("long").alias("simhash_b"),
        )
    )
