"""Physical-plan audit for the headline queries -> BENCH/PLANS.md.

The scale story lives in the plans: every headline query should show the
exchange count, whole-stage-codegen coverage, broadcast choices and
parquet pushdown we designed for (the same properties test_plans.py
asserts on a subset). This tool materializes the audit as a committed
artifact so a reviewer can read the plans without running Spark.

Plan SHAPE is scale-independent, so the audit builds each query at
sf0.001 and never executes it (explain only — AQE's runtime re-planning
is noted where it applies). Node counts are parsed from the `(N) Name`
detail headers of explain("formatted"), which list each operator exactly
once (the tree section repeats names).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NODE_RE = re.compile(r"^\(\d+\) ([A-Za-z0-9_]+)", re.M)
PUSHED_RE = re.compile(r"PushedFilters: \[([^\]]*)\]")
# formatted mode annotates codegen membership per-operator, not as a
# WholeStageCodegen node: count DISTINCT codegen ids
CODEGEN_RE = re.compile(r"\[codegen id : (\d+)\]")


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict:
    nodes = NODE_RE.findall(plan)

    def n(*names):
        return sum(1 for x in nodes if x in names)

    pushed = [m for m in PUSHED_RE.findall(plan) if m.strip()]
    return {
        "exchanges": n("Exchange"),
        "codegen_spans": len(set(CODEGEN_RE.findall(plan))),
        "broadcast_joins": n("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
        "shuffle_joins": n("SortMergeJoin", "ShuffledHashJoin"),
        "python_stages": n(
            "MapInPandas", "MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas",
            "BatchEvalPython",
        ),
        "windows": n("Window"),
        "aggregates": n("HashAggregate", "SortAggregate", "ObjectHashAggregate"),
        "pushed_filters": "; ".join(pushed) if pushed else "(none)",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod  # noqa: PLC0415
    from har2tree_spark.datagen import GenConfig, gen_documents_df  # noqa: PLC0415
    from har2tree_spark.operators import cascade, parse, tiling  # noqa: PLC0415
    from har2tree_spark.session import get_spark  # noqa: PLC0415
    from har2tree_spark.sources import events_spans  # noqa: PLC0415

    spark = get_spark("plan_audit", driver_memory="8g")
    # AQE wraps the static plan in AdaptiveSparkPlan(isFinalPlan=false),
    # which hides codegen-span annotations until execution. The audit is
    # explain-only, so disable AQE HERE ONLY to read the full static plan
    # (the engine runs with AQE on everywhere else — session.py defaults).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    docs = events_spans.documents_from_events(spark, sf_dir)
    feats = parse.parse_documents(docs)
    gen = gen_documents_df(spark, 200, seed=42, cfg=GenConfig(max_spans=32))

    queries = {
        "q1_cascade_exact": (
            cascade.resolve_exact(feats),
            "One exchange: the events->documents fold hash-partitions on "
            "doc_id (one task per core), and the cascade's "
            "repartition(cores, doc_id) and its groupBy(doc_id) doc-row "
            "aggregate reuse that distribution, so the doc rows reach the "
            "Arrow-batched consume-once kernel (MapInArrow) with no second "
            "exchange and no sort; parse in between is narrow.",
        ),
        "q2_cascade_rank": (
            cascade.resolve_rank(feats),
            "ONE probe->target equi-join on (doc_id, key) (shuffled hash "
            "join, one exchange per side) yields the candidate edges of "
            "all five stages; the no-candidate fallback edges union in and "
            "one min_by aggregate per (doc_id, child) picks each winner "
            "(partial aggregate, one exchange). The audit builds it over "
            "lazy parse output, so each branch re-runs the "
            "events->documents fold (a window and an exchange per "
            "branch, some reused); run_pipeline hands it the features "
            "checkpoint instead.",
        ),
        "q3_tile_rollup": (
            tiling.tile_rollup(tiling.tile_assignment(feats)),
            "Multi-resolution explode then one partial-agg rollup: the "
            "groupBy reuses the explode's partitioning where possible and "
            "map-side combine keeps the exchange small.",
        ),
        "q4_gen20k_exact": (
            cascade.resolve_exact(parse.parse_documents(gen)).select(
                "doc_id"
            ).distinct(),
            "The generator's Python stage (MapInPandas), then q1's kernel "
            "plan; the generated rows are not partitioned by doc_id, so the "
            "repartition(cores, doc_id) is an exchange here, plus the "
            "distinct doc count (one extra agg exchange).",
        ),
        "q5_tpch_q1": (
            entrymod.q_tpch_q1(spark, sf_dir),
            "Classic scan->filter->agg: filter and column pruning must "
            "reach the parquet scan (PushedFilters below), one agg "
            "exchange.",
        ),
        "q6_hhhash": (
            entrymod.q_hhhash(spark, sf_dir),
            "Order-sensitive per-doc fold as sort-within-group + "
            "aggregate; no Python stage.",
        ),
        "q7_minhash_lsh": (
            entrymod.q_dedup_minhash(spark, sf_dir),
            "Signature computation is HOF array exprs over one scan "
            "(staged projections defeat CollapseProject re-eval); the r6 "
            "rewrite then does ALL pair generation in one "
            "HashPartitioning(band, bh) exchange — window row_number "
            "pre-cap (bounded bucket state), collect_list sharing the "
            "window's partitioning, JVM pairwise expansion — plus the "
            "pair-dedup exchange. Join-free, checkpoint-free, no Python.",
        ),
        "q8_ann_lsh": (
            entrymod.q_ann_lsh(spark, sf_dir),
            "One fused matmul produces all table signatures; the probe "
            "side is broadcast (small query set), one (table,bucket) "
            "equi-join then exact re-rank.",
        ),
    }

    out = [
        "# BENCH/PLANS — physical-plan audit of the headline queries",
        "",
        f"(Generated by `tools/plan_audit.py {sf_dir}` — explain-only, "
        "no execution; plan shape is scale-independent. AQE is disabled "
        "in the audit session only, so the static plan — including "
        "codegen spans — is visible; at runtime AQE can only improve on "
        "these counts (coalescing exchanges, skew-splitting joins). Node "
        "counts parse the `(N) Name` detail headers, which list each "
        "operator once; codegen spans count distinct `[codegen id : N]` "
        "groups.)",
        "",
        "| query | exchanges | codegen spans | bcast joins | shuffle joins "
        "| python stages | windows | aggs |",
        "|---|---|---|---|---|---|---|---|",
    ]
    details = []
    for name, (df, note) in queries.items():
        plan = formatted_plan(df)
        s = summarize(plan)
        out.append(
            f"| {name} | {s['exchanges']} | {s['codegen_spans']} | "
            f"{s['broadcast_joins']} | {s['shuffle_joins']} | "
            f"{s['python_stages']} | {s['windows']} | {s['aggregates']} |"
        )
        details.append(
            f"## {name}\n\n{note}\n\nPushed filters: `{s['pushed_filters']}`\n\n"
            f"```\n{plan.rstrip()}\n```\n"
        )
        print(name, s)
    out += [
        "",
        "Python stages appear ONLY where they are the designed "
        "Arrow-batched path: q1/q4's consume-once DFS kernel (the "
        "reference-exact contract), q4's document generator and q8's "
        "fused signature matmul "
        "(vectorized pandas_udf over stacked hyperplanes). No "
        "row-at-a-time Python anywhere; every other headline query is "
        "fully JVM-side. `test_plans.py` pins the load-bearing subset of "
        "these properties (exchange budgets, pushdown, broadcast, "
        "no-Python assertions) so regressions fail CI, not just this "
        "audit.",
        "",
    ]
    with open(f"{REPO}/BENCH/PLANS.md", "w") as fh:
        fh.write("\n".join(out) + "\n" + "\n".join(details))
    print(f"wrote {REPO}/BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
