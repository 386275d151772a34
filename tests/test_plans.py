"""Physical-plan assertions — the plans we WANT, not just plans that pass.

Checks pushdown, pruning, shuffle counts and codegen on the engine's key
operators (SURVEY.md §4: filters/projections must reach the parquet scan;
doc-local work must not shuffle; the tile rollup gets exactly its one
aggregation exchange)."""

import re

import pytest
from pyspark.sql import functions as F

from har2tree_spark.datagen import gen_documents_df
from har2tree_spark.operators import tiling, zonal
from har2tree_spark.operators.cascade import resolve_exact
from har2tree_spark.operators.parse import parse_documents


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _n_exchanges(plan: str) -> int:
    # formatted plans list each node in the tree AND as a "(n) Exchange"
    # detail block — count the detail headers only
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_parse_is_narrow(spark, tmp_path):
    p = str(tmp_path / "docs")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    feats = parse_documents(spark.read.parquet(p))
    plan = _plan(feats)
    assert _n_exchanges(plan) == 0, "parse must not shuffle"
    assert "codegen id" in plan  # whole-stage codegen active
    # the parse expression chain must appear ~once, not once per output
    # column (the regression this guards: CollapseProject re-embedding the
    # chain into root_idx/n_live and evaluating it per exploded row)
    assert plan.count("RLIKE") <= 4, f"parse chain duplicated: {plan.count('RLIKE')}"


def test_tile_assignment_is_narrow(spark, tmp_path):
    p = str(tmp_path / "docs2")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    tiles = tiling.tile_assignment(parse_documents(spark.read.parquet(p)))
    assert _n_exchanges(_plan(tiles)) == 0, "tile assignment is a projection"


def test_tile_rollup_single_shuffle(spark, tmp_path):
    p = str(tmp_path / "docs3")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    roll = tiling.tile_rollup(
        tiling.tile_assignment(parse_documents(spark.read.parquet(p)))
    )
    plan = _plan(roll)
    assert _n_exchanges(plan) == 1, f"rollup = exactly one agg exchange:\n{plan}"
    assert "partial" in plan.lower() or "HashAggregate" in plan  # map-side combine


def test_cascade_exact_single_shuffle(spark, tmp_path):
    p = str(tmp_path / "docs4")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    jr = resolve_exact(parse_documents(spark.read.parquet(p)))
    plan = _plan(jr)
    # one Exchange (hash by doc_id, one task per core) that the doc-row
    # groupBy reuses, then ONE Arrow map -- no sort (the kernel orders
    # each doc itself), no pandas entry anywhere
    assert _n_exchanges(plan) == 1, plan
    n_parts = spark.sparkContext.defaultParallelism
    assert re.search(rf"hashpartitioning\(doc_id#\d+, {n_parts}\)", plan), plan
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1, plan
    assert not re.search(r"\(\d+\) Sort\b", plan), plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan, plan


def test_micro_batch_is_one_narrow_stage(spark, tmp_path):
    """A streaming micro-batch feeds parse's doc rows straight to the
    kernel: with one input split per core, no exchange at all and one
    Arrow map. A single-split batch is only dealt round-robin over the
    cores (one exchange, no doc_id hash, no sort)."""
    from har2tree_spark.streaming import ingest

    n = spark.sparkContext.defaultParallelism
    wide, one = str(tmp_path / "docs_micro"), str(tmp_path / "docs_one")
    gen_documents_df(spark, 50, seed=3, partitions=n).write.parquet(wide)
    gen_documents_df(spark, 50, seed=3, partitions=1).write.parquet(one)
    batch = spark.read.parquet(wide)
    assert batch.rdd.getNumPartitions() >= n
    plan = _plan(ingest.micro_batch_join_result(batch, 0))
    assert _n_exchanges(plan) == 0, plan
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1, plan

    batch = spark.read.parquet(one)
    assert batch.rdd.getNumPartitions() == 1
    plan = _plan(ingest.micro_batch_join_result(batch, 0))
    assert _n_exchanges(plan) == 1, plan
    assert f"RoundRobinPartitioning({n})" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert not re.search(r"\(\d+\) Sort\b", plan), plan
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1, plan


def test_filter_pushdown_to_scan(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: ReadSchema carries only the needed columns
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_extendedprice" not in read_schema


def test_broadcast_join_for_small_dim(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    nation = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    q = li.join(nation, li["l_suppkey"] == nation["s_suppkey"])
    assert "BroadcastHashJoin" in _plan(q)


def test_zonal_by_cell_single_shuffle(spark, tmp_path):
    p = str(tmp_path / "docs5")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    pix = zonal.rasterize_spans(parse_documents(spark.read.parquet(p)))
    zs = zonal.zonal_stats_by_cell(pix)
    assert _n_exchanges(_plan(zs)) <= 2  # distinct-agg needs its expand exchange


def test_attr_family_narrow(spark, tmp_path):
    """resources_hashes / identifiers / key_class / decode_dispatch are pure
    projections: zero shuffles, whole-stage codegen."""
    from har2tree_spark.operators import attrs, decode

    p = str(tmp_path / "docs6")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    feats = parse_documents(spark.read.parquet(p))
    for df in (
        attrs.resources_hashes(feats),
        attrs.identifiers_extract(feats),
        attrs.key_class(feats),
        decode.decode_dispatch(feats.withColumn("payload", F.col("text"))),
    ):
        plan = _plan(df)
        assert _n_exchanges(plan) == 0, plan
        assert "codegen id" in plan


def test_marker_rollup_single_shuffle(spark, tmp_path):
    from har2tree_spark.operators import attrs

    p = str(tmp_path / "docs7")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    feats = parse_documents(spark.read.parquet(p))
    roll = attrs.marker_rollup(attrs.marker_extract(feats))
    # distinct-aggregates expand once; no other exchange beyond the agg pair
    assert _n_exchanges(_plan(roll)) <= 2


def test_rank_cascade_plan_shape(spark, tmp_path):
    from har2tree_spark.operators.cascade import resolve_rank

    p = str(tmp_path / "docs9")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    feats = parse_documents(spark.read.parquet(p))
    plan = _plan(resolve_rank(feats))
    # formatted plans list each node in the tree AND as a "(n) <Node>"
    # detail block — count the detail headers only
    joins = len(
        re.findall(
            r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan
        )
    )
    # ONE probe->target join produces all five candidate stages (r8: the
    # five per-stage joins were restructured into a single equi-join on
    # (doc_id, pointer)); the root-fallback must be a union edge resolved
    # in the winners' aggregate, NOT an anti-join that duplicates the
    # whole candidate subtree as a common subexpression
    assert joins == 1, f"rank cascade must plan exactly 1 join, got {joins}"
    assert "LeftAnti" not in plan
    # the join must be SHUFFLED-HASH reusing the window's (doc_id, key)
    # partitioning on the target side: no driver broadcast build, and the
    # probe/window input exchanges materialize concurrently
    assert re.search(r"\(\d+\) ShuffledHashJoin", plan), plan
    assert "BroadcastExchange" not in plan
    # one exchange for the target-side redirect-prefix window (reused by
    # the join), one for the probe side of the shuffled join, one for the
    # winners' min_by aggregate; the edge-dedup shuffle must stay gone,
    # and the winner pick must be an aggregate that partial-combines
    # map-side, not a row_number window over the full edge fan-out:
    # exactly one partial and one final aggregate, both keyed by
    # (doc_id, child_idx). min_by's struct buffer is not
    # HashAggregate-able, so both are SortAggregates.
    assert _n_exchanges(plan) <= 3, plan
    aggs = re.findall(
        r"\(\d+\) (\w*Aggregate)\nInput \[\d+\]: .*\nKeys \[2\]: "
        r"\[doc_id#\d+, child_idx#\d+\]\nFunctions \[1\]: \[(\w+)\(",
        plan,
    )
    assert aggs == [
        ("SortAggregate", "partial_min_by"),
        ("SortAggregate", "min_by"),
    ], plan
    assert len(re.findall(r"\(\d+\) \w*Aggregate\n", plan)) == 2, plan


def _jobs_started(spark, group: str, build):
    """Runs ``build`` under job group ``group``; returns its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc._jsc.sc().clearJobGroup()
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_rank_pipeline_build_jobs(spark, tmp_path):
    """Building the rank-mode output frames runs exactly the two
    materializations -- the features checkpoint and the rank cascade over
    it -- and nothing else; the rank cascade is lazy over any features
    (building it starts no job, even over lazy parse output), and
    depths need no job of their own (no probe, no max-size count, no
    checkpointed doubling loop)."""
    from har2tree_spark.operators import stats
    from har2tree_spark.operators.cascade import resolve_rank
    from har2tree_spark.pipeline import run_pipeline

    p = str(tmp_path / "docs_jobs")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    docs = spark.read.parquet(p)
    out, n_build = _jobs_started(spark, "rank-build", lambda: run_pipeline(docs, mode="rank"))
    feats, n_feats = _jobs_started(
        spark, "rank-feats", lambda: parse_documents(docs).localCheckpoint()
    )
    _, n_lazy = _jobs_started(
        spark, "rank-lazy", lambda: resolve_rank(parse_documents(docs))
    )
    assert n_lazy == 0, f"building resolve_rank over parse output started {n_lazy} jobs"
    _, n_cascade = _jobs_started(
        spark, "rank-cascade", lambda: resolve_rank(feats).localCheckpoint()
    )
    assert n_feats == 1, f"the features checkpoint started {n_feats} jobs"
    assert n_build == n_feats + n_cascade, (
        f"building rank-mode outputs started {n_build} jobs, "
        f"want {n_feats} (features) + {n_cascade} (rank cascade)"
    )
    _, n_depths = _jobs_started(
        spark, "rank-depths", lambda: stats.compute_depths(out["join_result"])
    )
    assert n_depths == 0, f"compute_depths started {n_depths} jobs"


@pytest.mark.parametrize("mode", ["exact", "rank"])
def test_pipeline_outputs_read_checkpoints(spark, tmp_path, mode):
    """Parse once, cascade once: the written outputs read the features and
    join-result checkpoints, so their plans re-run neither parse (its
    posexplode; tile_assignment's own inline Generate is expected) nor the
    cascade (doc_stats has no kernel and only its base/per-doc join)."""
    from har2tree_spark.pipeline import run_pipeline

    p = str(tmp_path / f"docs_once_{mode}")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    out = run_pipeline(spark.read.parquet(p), mode=mode)
    plans = {
        name: out[name]._jdf.queryExecution().optimizedPlan().toString()
        for name in ("join_result", "tile_rollup", "doc_stats")
    }
    for name, plan in plans.items():
        assert "posexplode" not in plan, f"{name} re-runs parse:\n{plan}"
    assert "MapInArrow" not in plans["doc_stats"], plans["doc_stats"]
    assert len(re.findall(r"\bJoin\b", plans["doc_stats"])) == 1, plans["doc_stats"]



def _round_trips(monkeypatch, build) -> int:
    """py4j round trips that the second ``build()`` in this JVM makes from
    this thread: the first call pays for the operator's per-JVM
    expression builders. py4j's finalizer thread releases JVM objects of
    earlier garbage on its own connection; those sends are not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    build()
    send = ClientServerConnection.send_command
    caller = threading.get_ident()
    sent = 0

    def counting(self, command):
        nonlocal sent
        sent += threading.get_ident() == caller
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        build()
    return sent


def test_operator_build_round_trips(spark, tmp_path, monkeypatch):
    """Building an operator's frame again in the same JVM reuses its
    Column trees: only the DataFrame calls cross py4j. Rebuilding the
    trees on every call cost a micro-batch 1,585 round trips, parse 2,751,
    the rank cascade 2,214 and doc_stats 993; built once per JVM they
    take 60, 62, 135 and 53."""
    from har2tree_spark.operators import stats
    from har2tree_spark.operators.cascade import resolve_rank
    from har2tree_spark.streaming import ingest

    p = str(tmp_path / "docs_trips")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    docs = spark.read.parquet(p)
    feats = parse_documents(docs)
    jr = resolve_rank(feats)
    budgets = {
        "micro_batch_join_result": (100, lambda: ingest.micro_batch_join_result(docs, 0)),
        "parse_documents": (100, lambda: parse_documents(docs)),
        "resolve_rank": (200, lambda: resolve_rank(feats)),
        "doc_stats": (100, lambda: stats.doc_stats(feats, jr)),
    }
    trips = {name: _round_trips(monkeypatch, build) for name, (_, build) in budgets.items()}
    over = {name: n for name, n in trips.items() if n > budgets[name][0]}
    assert not over, trips


def test_per_jvm_rebuilds_on_new_gateway(spark, monkeypatch):
    """A ``per_jvm`` builder returns the same object while the gateway
    lives and rebuilds when ``SparkContext._gateway`` is another object."""
    from pyspark import SparkContext

    from har2tree_spark.session import per_jvm

    builds = []

    @per_jvm
    def level(res):
        builds.append(res)
        return F.lit(res).alias("level")

    first = level(3)
    assert level(3) is first and builds == [3]
    assert level(6) is not first and builds == [3, 6]
    live = SparkContext._gateway
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_gateway", object())
        assert level(3) is not first and builds == [3, 6, 3]
    assert SparkContext._gateway is live
    again = level(3)
    assert builds == [3, 6, 3, 3] and level(3) is again
    assert spark.range(1).select(again).first()["level"] == 3


def test_lsh_fused_signatures_match_per_table(spark):
    import numpy as np

    from har2tree_spark.ann import knn

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fused = df.select(
        "vec_id", knn.hyperplane_signatures(16)("embedding").alias("sigs")
    ).toPandas()
    vecs = np.asarray([v for _, v in rows])
    weights = (1 << np.arange(knn.LSH_BITS)).astype(np.int64)
    got = dict(zip(fused.vec_id, fused.sigs))
    for t in range(knn.LSH_TABLES):
        # one table's buckets from its own planes, computed in numpy
        single = (vecs @ knn._planes(16, knn.LSH_BITS, t) > 0).astype(np.int64) @ weights
        assert [got[i][t] for i, _ in rows] == single.tolist(), f"table {t}"


def test_tree_json_single_shuffle(spark, tmp_path):
    from har2tree_spark.operators import export
    from har2tree_spark.operators.cascade import resolve_rank

    p = str(tmp_path / "docs8")
    gen_documents_df(spark, 50, seed=3).write.parquet(p)
    feats = parse_documents(spark.read.parquet(p))
    jr = resolve_rank(feats)
    plan = _plan(export.tree_json(jr, feats))
    # the cascade's own exchanges inline into this plan; tree_json itself
    # must add at most 2 (the explicit doc_id repartition feeding
    # mapInPandas + the feature join, which broadcasts at this scale)
    assert "MapInPandas" in plan
    assert _n_exchanges(plan) <= _n_exchanges(_plan(jr)) + 2, plan


def test_simhash_no_python_stage(spark):
    """The SimHash fold is pure F.* now: no Arrow/row Python eval node may
    appear anywhere in the pairs plan (VERDICT r3 #2)."""
    from har2tree_spark.text import dedup

    rows = [(i, f"tok{i} alpha beta gamma delta") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plan = _plan(dedup.simhash_pairs(df, max_hamming=3))
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, f"{node} in simhash plan"


def test_ivf_assignment_partial_agg(spark):
    """The corpus->inverted-list assignment (n_lists=1) must be a max_by
    aggregation with map-side partial combine — not a row_number window
    sorting K x the corpus (VERDICT r3 #6)."""
    import numpy as np

    from har2tree_spark.ann import ivf

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf.sampled_centroids(df, 8)
    lists = ivf._assign(df, cents, 1, "neighbor_id", "nv")
    plan = _plan(lists)
    assert "max_by" in plan and "partial" in plan.lower(), plan
    assert "(1) Window" not in plan and " Window" not in plan, plan
    # the nprobe>1 probe path keeps its window (natural top-n shape)
    probes = ivf._assign(df, cents, 4, "query_id", "qv")
    assert "Window" in _plan(probes)


def test_minhash_single_pair_exchange(spark):
    """The r6 minhash rewrite promises: the window pre-cap and the
    bucket-collect groupBy share ONE HashPartitioning(band, bh) exchange
    (no second exchange between them), no joins anywhere, and exactly 3
    exchanges total in the pairs plan: the parallelism repartition, the
    bucket exchange, and the pair-dedup exchange."""
    from har2tree_spark.text import dedup

    rows = [(i, f"w{i % 7} alpha beta gamma delta eps zeta") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plan = _plan(dedup.minhash_lsh_pairs(df))
    assert "Join" not in plan, "minhash pairs plan must be join-free"
    assert _n_exchanges(plan) == 3, plan


def test_cookie_surface_single_scan(spark, tmp_path):
    """r7 VERDICT #4: the cookie table comes from the captures reader's
    single pass.  The cookie table's plan must contain exactly ONE
    binaryFile scan and ONE per-capture build (the captures reader's
    FlatMapGroupsInPandas) — no second listing, no cookie-specific
    re-parse; capture_report's executed plan must contain NO binaryFile
    scan at all (its one scan runs inside the eager caps checkpoint)."""
    import json

    from har2tree_spark.pipeline import capture_report
    from har2tree_spark.sources import har_cookies, har_source

    root = tmp_path / "caps"
    root.mkdir()
    har = {
        "log": {
            "entries": [
                {
                    "startedDateTime": "2024-01-01T00:00:00.000Z",
                    "request": {"url": "http://a.example/", "cookies": [
                        {"name": "s", "value": "1"}]},
                    "response": {"status": 200, "content": {"text": "hi"},
                                 "cookies": [{"name": "r", "value": "2",
                                              "domain": ".a.example"}]},
                }
            ]
        }
    }
    (root / "cap.har").write_text(json.dumps(har))

    ck = har_cookies.cookies_from_captures(har_source.read_har_captures(spark, str(root)))
    plan = ck._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan binaryFile") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("MapInPandas") == 0, plan
    rows = {(r["direction"], r["cookie"], r["domain"], r["is_3rd_party"])
            for r in ck.collect()}
    assert rows == {
        ("sent", "s=1", "a.example", False),
        ("received", "r=2", "a.example", False),
    }

    rep = capture_report(spark, str(root))
    rplan = rep._jdf.queryExecution().executedPlan().toString()
    assert rplan.count("Scan binaryFile") == 0, rplan
    assert rplan.count("FlatMapGroupsInPandas") == 0, rplan


def test_only_session_reads_environment():
    """Every SPARK_GRAFT_* knob lives in session.py: no other package
    module reads the process environment."""
    from pathlib import Path

    import har2tree_spark

    root = Path(har2tree_spark.__file__).parent
    readers = sorted(
        str(f.relative_to(root))
        for f in root.rglob("*.py")
        if f != root / "session.py" and re.search(r"os\.environ|getenv", f.read_text())
    )
    assert readers == [], readers


def test_session_knobs_validated_before_any_session(monkeypatch):
    """``get_spark`` rejects a mistyped SPARK_GRAFT_CPUS or
    SPARK_GRAFT_PYTHON_UDS before it touches the session builder, and an
    unset SPARK_GRAFT_CPUS means the CPUs this process may run on. The
    builder is stubbed, so no session is started or stopped here."""
    import os
    from types import SimpleNamespace

    from har2tree_spark import session

    class Reached(Exception):
        pass

    class Builder:
        def master(self, master):
            raise Reached(master)

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    for var, bad in (
        ("SPARK_GRAFT_CPUS", "abc"),
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_PYTHON_UDS", "maybe"),
    ):
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_CPUS", "2")
            m.setenv(var, bad)
            with pytest.raises(ValueError, match=var):
                session.get_spark()
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_PYTHON_UDS", "False")
    with pytest.raises(Reached, match=rf"local\[{len(os.sched_getaffinity(0))}\]"):
        session.get_spark()


def test_only_session_reads_cpus():
    """Tools take the core count from the session
    (``defaultParallelism``); only ``session.py`` reads SPARK_GRAFT_CPUS.
    ``bench.py`` is frozen and keeps its own read; ``perfbench`` passes
    ``parallelism`` explicitly."""
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    files = [*(root / "har2tree_spark").rglob("*.py"), *(root / "tools").rglob("*.py")]
    read = re.compile(r"""environ(?:\.get\(|\[)\s*["']SPARK_GRAFT_CPUS""")
    readers = sorted(
        str(f.relative_to(root)) for f in files if read.search(f.read_text())
    )
    assert readers == ["har2tree_spark/session.py"], readers
