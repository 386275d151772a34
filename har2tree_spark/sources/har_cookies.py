"""Real-HAR cookie surface: per-entry sent/received cookies -> a flat
relational table + the reference's provenance / rollup joins.

The reference extracts cookies per entry while loading URLNodes
(reference nodes.py:508-539):

  * received  — ``response.cookies``: each cookie keys ``name=value``; its
    scope domain is the cookie's ``domain`` attribute (leading '.'
    stripped) when set, else the entry's hostname; it is THIRD-PARTY when
    the receiving entry's hostname does not end with that scope domain.
  * sent      — ``request.cookies``: each keys ``name=value``.

Two capture-level derivations follow (har2tree.py:343-380):

  * initial_cookies — the FIRST entry's sent cookies (the cookies handed
    to the browser before the capture started).
  * setter provenance — a sent cookie on entry N could have been set by
    any earlier entry that received the same ``name=value`` with a scope
    domain the sender's hostname ends with (har2tree.py:371-380).

and the HostNode rollup set-unions cookies per hostname
(nodes.py 'class HostNode': request_cookie / response_cookie /
third_party_cookies_received are the distinct-set sizes), which the
capture stats then union across hosts (har2tree.py:511-522
total_cookies_sent / total_cookies_received).

Re-grounded Spark-first: the cookie events are emitted by the captures
reader's single per-file walk (``har_source.har_to_doc``; r8, killing the
second binaryFile scan + JSON re-parse — r7 VERDICT #4) and
``cookies_from_captures`` explodes them JVM-side into the flat table
(one row per cookie event);
``cookie_provenance`` is ONE doc_id-keyed equi-join on (doc_id, cookie)
with the time-order predicate applied as a theta filter — the real-input
instance of the engine's J8 as-of/theta join; ``host_cookie_rollup`` is
one groupBy with distinct-set aggregates — the real-input instance of the
A2/marker rollup.  Entry order is time order (the adapter pre-sorts by
startedDateTime), so span_idx stands in for the reference's strict
``start_time <`` comparison; ties in startedDateTime keep the entry
order, exactly like the reference's stable sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from har2tree_spark.operators.cascade import live_features
from har2tree_spark.sources.har_source import _dict


def entry_cookies(entry: dict, hostname: str) -> list[dict]:
    """Cookie events for one HAR entry (nodes.py:508-539).  Returns dicts
    with (direction, cookie, domain, is_3rd_party); sent cookies carry the
    sender's hostname as domain and are never third-party-flagged (the
    reference only classifies received cookies)."""
    out: list[dict] = []
    received = _dict(entry.get("response")).get("cookies") or ()
    if isinstance(received, (list, tuple)):
        for c in received:
            if not isinstance(c, dict):
                continue
            domain = str(c.get("domain") or "") or hostname
            if domain.startswith("."):
                domain = domain[1:]
            out.append(
                {
                    "direction": "received",
                    "cookie": f"{c.get('name')}={c.get('value')}",
                    "domain": domain,
                    "is_3rd_party": not hostname.endswith(domain),
                }
            )
    sent = _dict(entry.get("request")).get("cookies") or ()
    if isinstance(sent, (list, tuple)):
        for c in sent:
            if not isinstance(c, dict):
                continue
            out.append(
                {
                    "direction": "sent",
                    "cookie": f"{c.get('name')}={c.get('value')}",
                    "domain": hostname,
                    "is_3rd_party": False,
                }
            )
    return out


def cookies_from_captures(captures: DataFrame) -> DataFrame:
    """Captures frame (``read_har_captures`` output, which carries the
    nullable ``cookie_events`` column from its single-pass walk) -> the
    flat cookie table: one row per cookie event with the same columns the
    standalone scan used to produce (doc_id, span_idx, hostname,
    direction, cookie, domain, is_3rd_party, empty_response).

    Pure JVM explode — no second file listing, no second JSON parse
    (r7 VERDICT #4).  Pass the SAME captures DataFrame a pipeline already
    holds so one scan feeds both the tree and the cookie surface."""
    ev = captures.select("doc_id", F.explode("cookie_events").alias("ev"))
    return ev.select(
        "doc_id",
        F.col("ev.span_idx").alias("span_idx"),
        F.col("ev.hostname").alias("hostname"),
        F.col("ev.direction").alias("direction"),
        F.col("ev.cookie").alias("cookie"),
        F.col("ev.domain").alias("domain"),
        F.col("ev.is_3rd_party").alias("is_3rd_party"),
        F.col("ev.empty_response").alias("empty_response"),
    )


def initial_cookies(cookies: DataFrame, features: DataFrame) -> DataFrame:
    """(doc_id, cookie): the ROOT entry's sent cookies — the reference's
    initial_cookies (har2tree.py:343-346, keyed 'name=value' like
    nodes.py:539).  The root is the doc's first live span (root_idx from
    the parse output), not blindly span 0 — ignored entries are skipped in
    the reference's node list too."""
    roots = (
        live_features(features)
        .select("doc_id", "root_idx")
        .dropDuplicates(["doc_id"])
    )
    return (
        cookies.filter(F.col("direction") == "sent")
        .join(roots, ["doc_id"])
        .filter(F.col("span_idx") == F.col("root_idx"))
        .select("doc_id", "cookie")
        .dropDuplicates()
    )


def cookie_provenance(cookies: DataFrame) -> DataFrame:
    """(doc_id, span_idx, cookie, setter_idx, setter_domain, is_3rd_party):
    every (sender, possible setter) pair — the reference's setter
    cross-reference (har2tree.py:371-380): a sent cookie links to each
    EARLIER entry that received the same name=value with a scope domain
    the sender's hostname ends with.

    One equi-join on (doc_id, cookie) — the high-selectivity key — with
    the domain-suffix + ordering predicates as theta filters on the joined
    rows; doc_id co-partitioning keeps it in the pipeline's standard hash
    layout at scale (the J8 pattern on real input).

    Deliberate deviation (r7 ADVICE #5): the time-order predicate is
    ``setter_idx < span_idx`` (entry order), while the reference compares
    ``start_time`` strictly (har2tree.py:382) — entries sharing an
    identical startedDateTime therefore produce setter pairs here that
    the reference's strict-< excludes. Entry order IS startedDateTime
    order (the adapter pre-sorts), so the two differ only on exact
    timestamp ties, where entry order is the deterministic refinement."""
    sent = cookies.filter(F.col("direction") == "sent").select(
        "doc_id", "span_idx", "cookie", "hostname"
    )
    recv = cookies.filter(F.col("direction") == "received").select(
        "doc_id",
        F.col("span_idx").alias("setter_idx"),
        "cookie",
        F.col("domain").alias("setter_domain"),
        "is_3rd_party",
    )
    return (
        sent.join(recv, ["doc_id", "cookie"])
        .filter(
            F.col("hostname").endswith(F.col("setter_domain"))
            & (F.col("setter_idx") < F.col("span_idx"))
        )
        .select(
            "doc_id",
            "span_idx",
            "cookie",
            "setter_idx",
            "setter_domain",
            "is_3rd_party",
        )
    )


def host_cookie_rollup(cookies: DataFrame) -> DataFrame:
    """(doc_id, hostname, request_cookie, response_cookie,
    third_party_cookies_received): the HostNode cookie rollup — distinct
    sent cookies, distinct received (domain, cookie, 3rd) triples, and the
    distinct third-party subset, set-unioned per hostname (reference
    nodes.py HostNode.request_cookie/response_cookie/
    third_party_cookies_received)."""
    sent = F.when(F.col("direction") == "sent", F.col("cookie"))
    triple = F.when(
        F.col("direction") == "received",
        F.concat_ws(" ", "domain", "cookie", F.col("is_3rd_party").cast("string")),
    )
    third = F.when(
        (F.col("direction") == "received") & F.col("is_3rd_party"), triple
    )
    return cookies.groupBy("doc_id", "hostname").agg(
        F.count_distinct(sent).cast("long").alias("request_cookie"),
        F.count_distinct(triple).cast("long").alias("response_cookie"),
        F.count_distinct(third).cast("long").alias("third_party_cookies_received"),
    )


def capture_cookie_totals(cookies: DataFrame) -> DataFrame:
    """(doc_id, total_cookies_sent, total_cookies_received): the capture
    stats' cookie terms — capture-wide distinct sent cookies and distinct
    received triples (har2tree.py:511-522; the union over host nodes of
    the per-host sets IS the capture-wide distinct set)."""
    sent = F.when(F.col("direction") == "sent", F.col("cookie"))
    triple = F.when(
        F.col("direction") == "received",
        F.concat_ws(" ", "domain", "cookie", F.col("is_3rd_party").cast("string")),
    )
    return cookies.groupBy("doc_id").agg(
        F.count_distinct(sent).cast("long").alias("total_cookies_sent"),
        F.count_distinct(triple).cast("long").alias("total_cookies_received"),
    )
