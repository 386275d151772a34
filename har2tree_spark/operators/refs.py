"""Join-dependent ref resolution — the ``rebuild_url`` analogue.

The reference resolves a partial/relative URL against a base AND the
document's known-URL universe: it tries a fixed sequence of rewrites and
keeps the FIRST variant present in ``known_urls`` (reference
helper.py:130-201; behavior pinned by tests/simple_test.py:111-131).
That makes it a *join-dependent scalar*: the rewrite can't be computed
row-locally.

Re-grounding: a span's ``media_ref`` may arrive mangled (case-shifted,
zero-padded, fragment-suffixed, prefix-dropped). Resolution =

  1. generate the ordered variant list per ref (pure column expressions);
  2. posexplode with the variant rank as priority;
  3. semi-join against the document's key universe;
  4. first (lowest-rank) matching variant wins (one window).

Exactly the candidate-generation + semi-join + priority-pick plan
SURVEY.md §2.3 F15 prescribes."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from har2tree_spark.operators.cascade import live_features


def ref_variants(ref: Column) -> Column:
    """Ordered rewrite candidates for a (possibly mangled) ref:
    [as-is, fragment-stripped, lowercase, zero-padding-stripped,
    'k'-prefixed digits]. Order = resolution priority."""
    base = F.coalesce(ref, F.lit(""))
    nofrag = F.split_part(base, F.lit("#"), F.lit(1))
    lower = F.lower(nofrag)
    nozero = F.regexp_replace(lower, "^k0+", "k")
    prefixed = F.when(lower.rlike("^[0-9]+\\z"), F.concat(F.lit("k"), lower)).otherwise(
        lower
    )
    return F.array(base, nofrag, lower, nozero, prefixed)


def resolve_refs(features: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """(doc_id, span_idx, ref, resolved_ref, variant_rank) for every span
    whose ref resolves to a key in the same document. Unresolvable refs
    produce no row (callers left-join and treat null as dangling)."""
    f = live_features(features)
    probes = (
        f.filter((F.col(ref_col) != "") & F.col(ref_col).isNotNull())
        .select(
            "doc_id",
            "span_idx",
            F.col(ref_col).alias("ref"),
            F.posexplode(ref_variants(F.col(ref_col))).alias("variant_rank", "variant"),
        )
    )
    universe = f.filter(F.col("key").isNotNull()).select(
        "doc_id", F.col("key").alias("variant")
    ).distinct()
    hits = probes.join(universe, ["doc_id", "variant"])
    w = Window.partitionBy("doc_id", "span_idx").orderBy("variant_rank")
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "span_idx",
            "ref",
            F.col("variant").alias("resolved_ref"),
            F.col("variant_rank").cast("int").alias("variant_rank"),
        )
    )
