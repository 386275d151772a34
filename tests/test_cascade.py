"""Exact-match of the distributed cascade against the pure-Python oracle —
the join-row parity gate (BASELINE.md: exact-match rate must be 100%)."""

import pandas as pd
import pytest

from har2tree_spark.datagen import GenConfig, gen_docs, scenario_docs
from har2tree_spark.operators.cascade import resolve_exact, resolve_rank
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.oracle import pycascade
from har2tree_spark.schema import DOCUMENTS_SCHEMA, PRIORITY


def _oracle(docs):
    rows = pycascade.cascade_docs(docs)
    out = pd.DataFrame(
        rows,
        columns=["doc_id", "span_idx", "parent_idx", "join_kind", "priority", "depth"],
    )
    return out.sort_values(["doc_id", "span_idx"]).reset_index(drop=True)


def _assert_match(spark, docs):
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    _assert_frames_equal(resolve_exact(parse_documents(df)).toPandas(), _oracle(docs))


def _assert_frames_equal(got, want):
    """``got`` in any row order against the sorted oracle frame."""
    got = got.sort_values(["doc_id", "span_idx"]).reset_index(drop=True)
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    for col in ["doc_id", "span_idx", "parent_idx", "join_kind", "priority", "depth"]:
        mism = (got[col].to_numpy() != want[col].to_numpy())
        if mism.any():
            i = mism.argmax()
            raise AssertionError(
                f"col {col} first mismatch at row {i}:\n"
                f"got  {got.iloc[i].to_dict()}\nwant {want.iloc[i].to_dict()}"
            )


def test_scenarios_exact(spark):
    _assert_match(spark, scenario_docs())


def test_scenario_expectations():
    """Hand-computed expectations (capture_samples golden analogue)."""
    by_doc = {}
    for r in pycascade.cascade_docs(scenario_docs()):
        by_doc.setdefault(r["doc_id"], {})[r["span_idx"]] = r

    red = by_doc["scn-redirect"]
    assert red[0]["join_kind"] == "root"
    assert [red[i]["parent_idx"] for i in (1, 2, 3)] == [0, 1, 2]
    assert all(red[i]["join_kind"] == "redirect" for i in (1, 2, 3))

    ref = by_doc["scn-referer"]
    assert ref[1]["join_kind"] == "referer" and ref[1]["parent_idx"] == 0
    assert ref[2]["join_kind"] == "referer" and ref[2]["parent_idx"] == 0

    nref = by_doc["scn-no-referer"]
    assert nref[1]["join_kind"] != "referer" and nref[2]["join_kind"] != "referer"

    ifr = by_doc["scn-iframe"]
    assert ifr[1]["join_kind"] == "frame" and ifr[1]["parent_idx"] == 0
    assert ifr[2]["join_kind"] == "frame" and ifr[2]["parent_idx"] == 0

    ini = by_doc["scn-initiator"]
    assert ini[1]["join_kind"] == "initiator" and ini[1]["parent_idx"] == 0

    # F21 stack walk: k36 resolves via the empty-top-level walk, k37 at
    # level 0; k38's all-empty stack resolves to no pointer -> fallback
    stk = by_doc["scn-initiator-stack"]
    assert stk[1]["join_kind"] == "initiator" and stk[1]["parent_idx"] == 0
    assert stk[2]["join_kind"] == "initiator" and stk[2]["parent_idx"] == 0
    assert stk[3]["join_kind"].startswith("fallback")

    res = by_doc["scn-resource"]
    assert res[1]["join_kind"] == "resource" and res[1]["parent_idx"] == 0

    orp = by_doc["scn-orphan"]
    assert orp[1]["join_kind"].startswith("fallback")

    # duplicate+invalid: span 2 (empty twin of k61) suppressed -> no row
    dup = by_doc["scn-dup-invalid"]
    assert sorted(dup.keys()) == [0, 1]
    assert dup[1]["join_kind"] == "resource"

    assert "scn-empty" not in by_doc  # quarantined, no rows, no failure


@pytest.mark.parametrize("seed,n", [(42, 120), (7, 120), (1234, 80)])
def test_random_docs_exact(spark, seed, n):
    docs = gen_docs(seed, n)
    _assert_match(spark, docs)


def test_random_docs_exact_stress(spark):
    docs = gen_docs(99, 60, GenConfig(max_spans=64, p_orphan=0.15, p_dup_invalid=0.15))
    _assert_match(spark, docs)


def test_random_docs_exact_very_long_docs(spark):
    # 256-span docs: deep DFS stacks, large per-doc candidate indexes,
    # multi-batch Arrow slices within one doc
    docs = gen_docs(1007, 30, GenConfig(max_spans=256))
    _assert_match(spark, docs)


def test_random_docs_exact_large_skewed(spark):
    # flagship-scale parity: 2000 docs with the scaling bench's zipf-hot
    # key config (hot cells = the mega-hostname analogue), enough rows
    # that docs straddle many Arrow batches across many partitions
    docs = gen_docs(4242, 2000, GenConfig(max_spans=32, p_hot=0.2, zipf_s=1.2))
    _assert_match(spark, docs)


def test_rank_mode_contract(spark):
    """Rank mode: every live non-root span gets exactly one parent; priority
    respected (a child with a redirect candidate is never claimed by a
    weaker stage)."""
    docs = gen_docs(5, 100)
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    out = resolve_rank(feats).toPandas()
    live = feats.filter("span_idx is not null").count()
    assert len(out) == live
    assert (out.groupby(["doc_id", "span_idx"]).size() == 1).all()
    roots = out[out.join_kind == "root"]
    assert (roots.parent_idx == -1).all()
    assert set(out.join_kind.unique()) <= set(PRIORITY.keys())


def test_stack_walk_cross_engine_fuzz(spark):
    """F21 grammar law: the JVM expression `parse._resolve_media` and the
    Python oracle `pycascade._resolve_media` must agree on ARBITRARY
    media_ref strings — empty levels, spaces-only levels, pipes at every
    position, no 'stack:' prefix, unicode, and 'stack:' alone (reference
    nodes.py:602-616,643-649: first frame of the first non-empty level,
    empty first frame = no pointer)."""
    import random
    import string

    from pyspark.sql import functions as F

    from har2tree_spark.operators import parse as parse_mod

    rng = random.Random(7)
    alphabet = string.ascii_lowercase + "0123456789|: é"
    vals = []
    for _ in range(300):
        if rng.random() < 0.7:
            levels = [
                " ".join(
                    "".join(rng.choices(alphabet.replace("|", ""), k=rng.randrange(0, 6)))
                    for _ in range(rng.randrange(0, 4))
                )
                for _ in range(rng.randrange(0, 5))
            ]
            vals.append("stack:" + "|".join(levels))
        else:
            vals.append("".join(rng.choices(alphabet, k=rng.randrange(0, 20))))
    vals += ["stack:", "stack:|", "stack:||", "stack: ", "stack:| |x", "k1",
             "", "stack:stack:a|b", "stack: x y|z"]

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, m string")
    got = {
        r.i: r.out
        for r in df.select(
            "i", parse_mod._resolve_media(F.col("m")).alias("out")
        ).collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == pycascade._resolve_media(v), (v, got[i])


def test_arrow_kernel_straddling_docs_match_oracle(spark):
    """The mapInArrow kernel's carry-over path (a doc held back across
    Arrow batch boundaries: Table concat, sliced ListArray offsets) is the
    riskiest code in the kernel, so it runs against the oracle with a tiny
    batch size instead of everything fitting in one 10k-row batch. Eight
    long docs make some doc span three or more batches, which the
    in-process run asserts rather than assumes."""
    cfg = GenConfig(max_spans=24, p_hot=0.5, p_orphan=0.2, p_dup_invalid=0.2)
    docs = (
        gen_docs(11, 400, cfg)
        + gen_docs(11, 8, GenConfig(max_spans=160, p_hot=0.5, p_orphan=0.2), start=400)
        + scenario_docs()
    )
    want = _oracle(docs)
    feats = parse_documents(spark.createDataFrame(docs, DOCUMENTS_SCHEMA)).localCheckpoint()
    batch_rows = 37

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(batch_rows))
    try:
        got = resolve_exact(feats).toPandas()
    finally:
        spark.conf.set(key, prev)
    _assert_frames_equal(got, want)

    batches = _kernel_table(feats).to_batches(max_chunksize=batch_rows)
    spanned = pd.Series(
        [d for b in batches for d in set(b.column("doc_id").to_pylist())]
    ).value_counts()
    assert spanned.max() >= 3, f"no doc spans 3+ batches: {spanned.max()}"
    _assert_frames_equal(_run_kernel(batches), want)


def _kernel_table(feats):
    """Live kernel rows as one Arrow table in the (doc_id, offset, span_idx)
    order ``resolve_exact`` feeds ``cascade_batch_arrow``."""
    from har2tree_spark.operators.cascade import live_features
    from har2tree_spark.operators.kernel import KERNEL_COLS

    return (
        live_features(feats)
        .select(*KERNEL_COLS)
        .orderBy("doc_id", "offset", "span_idx")
        .toArrow()
        .combine_chunks()
    )


def _run_kernel(batches):
    """``cascade_batch_arrow`` in-process over ``batches``, as pandas."""
    import pyarrow as pa

    from har2tree_spark.operators.kernel import cascade_batch_arrow

    return pa.Table.from_batches(list(cascade_batch_arrow(iter(batches)))).to_pandas()


def test_batch_and_group_methods_agree(spark):
    """The kernel's rows do not depend on where batch boundaries fall:
    fixed 37-row batches (docs split across batches) and one batch per
    doc group (no doc split) give the same rows, and both match the
    oracle."""
    docs = gen_docs(77, 100)
    table = _kernel_table(parse_documents(spark.createDataFrame(docs, DOCUMENTS_SCHEMA)))
    batched = _run_kernel(table.to_batches(max_chunksize=37))

    ids = table.column("doc_id").to_pylist()
    starts = [0, *(i for i in range(1, len(ids)) if ids[i] != ids[i - 1]), len(ids)]
    groups = [
        table.slice(lo, hi - lo).combine_chunks().to_batches()[0]
        for lo, hi in zip(starts, starts[1:])
    ]
    assert len(groups) == len(set(ids))
    grouped = _run_kernel(groups)

    want = _oracle(docs)
    _assert_frames_equal(batched, want)
    _assert_frames_equal(grouped, want)


def test_ring_cache_keeps_newly_hot_cell():
    """The fallback_knn ring memo is an LRU: once it is full, a cell that
    turns hot later still gets cache hits."""
    import numpy as np

    from har2tree_spark.geo import grid
    from har2tree_spark.operators.kernel import _ring_cells

    cap = _ring_cells.cache_info().maxsize
    cells = grid.np_cell(np.arange(cap + 1, dtype=np.int64), grid.FINE_RES).tolist()
    _ring_cells.cache_clear()
    try:
        for c in cells[:cap]:
            _ring_cells(c, 1)
        assert _ring_cells.cache_info().currsize == cap
        hot = cells[cap]
        want = grid.np_ring(hot, 1).tolist()
        assert _ring_cells(hot, 1) == want
        hits = _ring_cells.cache_info().hits
        for _ in range(5):
            assert _ring_cells(hot, 1) == want
        assert _ring_cells.cache_info().hits == hits + 5
    finally:
        _ring_cells.cache_clear()
