"""Sidecar scans (S2): optional per-document companion tables become extra
NULLABLE columns on the document row.

The reference loads optional files shipped next to the HAR (cookies,
screenshots, last-redirect pointers — reference har2tree.py:105-150) and
exposes them as attributes that are simply absent when the sidecar is
missing. Re-grounded: a sidecar is any (doc_id, extra columns) DataFrame;
attaching it is a LEFT join so documents without a sidecar row keep the
same schema with nulls — the closed core schema (schema.py) never changes.

Scale shape: the join is keyed by doc_id, co-partitioned with every other
per-doc stage; a small sidecar (manifest-sized) broadcasts automatically
under the session's broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_sidecar(docs: DataFrame, sidecar: DataFrame) -> DataFrame:
    """docs + sidecar columns (nullable), joined on ``doc_id``. A sidecar
    with duplicate keys is reduced deterministically first (min struct of
    the extra columns), so the join can never fan out document rows."""
    extra = [c for c in sidecar.columns if c != "doc_id"]
    packed = (
        sidecar.groupBy("doc_id")
        .agg(F.min(F.struct(*extra)).alias("_sc"))
        .select("doc_id", *[F.col(f"_sc.{c}").alias(c) for c in extra])
    )
    return docs.join(packed, "doc_id", "left")
