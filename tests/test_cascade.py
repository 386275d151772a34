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
    """Tiny Arrow batches against the oracle, instead of everything
    fitting in one 10k-row batch: through Spark, ``resolve_exact`` cuts
    its doc rows into 37-doc batches (sliced list offsets); in process,
    ``cascade_batch_arrow``'s carry-over path (a doc held back across flat
    batch boundaries: Table concat, sliced ListArray offsets) gets 37-span
    batches. Eight long docs make some doc span three or more batches,
    which the in-process run asserts rather than assumes."""
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


def _doc_rows(spark, docs):
    """``parse.kernel_docs`` doc rows of ``docs`` as one Arrow table."""
    from har2tree_spark.operators.parse import kernel_docs

    return kernel_docs(spark.createDataFrame(docs, DOCUMENTS_SCHEMA)).toArrow()


def _run_doc_rows(table, max_rows=None):
    """``cascade_doc_rows`` in-process over ``table``'s doc rows, cut into
    batches of ``max_rows`` docs (sliced list offsets), as pandas."""
    import pyarrow as pa

    from har2tree_spark.operators.kernel import cascade_doc_rows

    out = list(cascade_doc_rows(iter(table.to_batches(max_chunksize=max_rows))))
    return pa.Table.from_batches(out).to_pandas()


_HOT = GenConfig(max_spans=32, p_hot=0.9, zipf_s=2.0, n_hot_keys=8)
_ORPHANS = GenConfig(max_spans=48, p_orphan=0.5, p_dup_invalid=0.2)


@pytest.mark.parametrize(
    "corpus",
    [
        pytest.param(lambda: scenario_docs(), id="scenarios"),
        pytest.param(lambda: gen_docs(31, 300, _HOT), id="hot-key"),
        pytest.param(lambda: gen_docs(32, 200, _ORPHANS), id="orphans"),
    ],
)
def test_doc_row_kernel_matches_oracle(spark, corpus):
    """The doc-row entry every Spark route uses, in process: whole
    batches and 7-doc batches (sliced list offsets) both equal the
    oracle."""
    docs = corpus()
    table = _doc_rows(spark, docs)
    want = _oracle(docs)
    _assert_frames_equal(_run_doc_rows(table), want)
    _assert_frames_equal(_run_doc_rows(table, 7), want)


def test_doc_row_kernel_mega_doc(spark):
    """One document of 4,574 spans, 4,118 of them on one hot key: the
    doc row holds it whole, and the kernel equals the (recursive) oracle."""
    import sys

    cfg = GenConfig(max_spans=4600, p_hot=0.9, zipf_s=2.0, n_hot_keys=1, p_empty_doc=0.0)
    docs = gen_docs(3, 1, cfg, start=6)
    keys = pd.Series([s["text"].split(" ")[0] for s in docs[0]["spans"]])
    assert len(keys) >= 4096 and keys.value_counts().iloc[0] >= 4000
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(max(limit, 20_000))
    try:
        want = _oracle(docs)
    finally:
        sys.setrecursionlimit(limit)
    _assert_frames_equal(_run_doc_rows(_doc_rows(spark, docs)), want)


def test_doc_row_kernel_cuts_batches_by_spans(spark, monkeypatch):
    """Spark cuts Arrow batches by doc rows; the kernel cuts each back to
    MAX_BATCH_SPANS spans plus at most one doc (contiguous slices that
    cover the batch), and the cut changes no output row."""
    import pyarrow.compute as pc

    from har2tree_spark.operators import kernel

    docs = gen_docs(34, 150, _HOT)
    table = _doc_rows(spark, docs)
    live = table.column("live").combine_chunks()
    lens = pc.fill_null(pc.list_value_length(live), 0).to_numpy()
    slices = list(kernel._span_slices(live, 100))
    assert len(slices) >= lens.sum() // 200
    assert slices[0][0] == 0 and slices[-1][1] == len(lens)
    assert all(a[1] == b[0] for a, b in zip(slices, slices[1:]))
    assert all(lo < hi and lens[lo:hi - 1].sum() < 100 for lo, hi in slices)
    monkeypatch.setattr(kernel, "MAX_BATCH_SPANS", 100)
    _assert_frames_equal(_run_doc_rows(table), _oracle(docs))


def test_doc_row_kernel_ignores_list_order(spark):
    """``collect_list`` order is undefined, so the kernel orders each doc
    itself: shuffling every doc's ``live`` list changes no output row."""
    import random

    import pyarrow as pa

    docs = gen_docs(33, 120, _HOT) + scenario_docs()
    table = _doc_rows(spark, docs)
    rows = table.to_pylist()
    rng = random.Random(5)
    for r in rows:
        rng.shuffle(r["live"])
    shuffled = pa.Table.from_pylist(rows, schema=table.schema)
    assert shuffled.column("live").to_pylist() != table.column("live").to_pylist()
    want = _oracle(docs)
    _assert_frames_equal(_run_doc_rows(shuffled), want)
    _assert_frames_equal(_run_doc_rows(shuffled, 7), want)


def test_doc_row_kernel_skips_empty_docs(spark):
    """Quarantined docs (``scn-empty``) and null ``spans`` arrive as doc
    rows with an empty ``live`` list and emit nothing, also when a whole
    batch is empty."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from har2tree_spark.operators.kernel import cascade_doc_rows

    docs = scenario_docs() + [{"doc_id": "scn-null-spans", "spans": None}]
    table = _doc_rows(spark, docs)
    n_live = dict(zip(
        table.column("doc_id").to_pylist(),
        (len(v) for v in table.column("live").to_pylist()),
    ))
    assert n_live["scn-empty"] == 0 and n_live["scn-null-spans"] == 0
    got = _run_doc_rows(table, 1)
    assert not set(got.doc_id) & {"scn-empty", "scn-null-spans"}
    _assert_frames_equal(got, _oracle(docs))
    empty = table.filter(
        pc.is_in(table.column("doc_id"), value_set=pa.array(["scn-empty", "scn-null-spans"]))
    )
    assert empty.num_rows == 2
    assert list(cascade_doc_rows(iter(empty.to_batches()))) == []
