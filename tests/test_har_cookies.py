"""Real-HAR cookie surface (sources/har_cookies.py): the reference's
per-entry cookie extraction (nodes.py:508-539), setter provenance
(har2tree.py:371-380) and HostNode/capture rollups
(nodes.py HostNode.request_cookie/response_cookie, har2tree.py:511-522),
re-grounded as a flat scan + one theta join + one distinct-set rollup.

The reference pins these on its cookie/no_cookie capture samples
(tests/simple_test.py:172-183,229-241); those sample files are absent in
this environment, so the scenario tests construct the same shapes
deterministically, and the lalibre corpus (200 of 216 captures carry
cookies) pins the real-input literals when it is present.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from har2tree_spark.sources import har_cookies, har_source
from har2tree_spark.sources.har_cookies import entry_cookies

REF_DATA = "/root/reference/tests/data"

# only the tests that read the reference capture corpus skip without it
needs_corpus = pytest.mark.skipif(
    not os.path.isdir(REF_DATA), reason="reference HAR corpora not present"
)


def _read_cookies(spark, path):
    return har_cookies.cookies_from_captures(har_source.read_har_captures(spark, path))


def test_entry_cookies_arms():
    e = {
        "request": {"cookies": [{"name": "sid", "value": "1"}]},
        "response": {
            "cookies": [
                # no domain -> scoped to the entry hostname, first-party
                {"name": "a", "value": "x"},
                # leading-dot domain, parent of host -> first-party
                {"name": "b", "value": "y", "domain": ".site.example"},
                # unrelated domain -> third-party
                {"name": "c", "value": "z", "domain": "tracker.example"},
            ]
        },
    }
    got = entry_cookies(e, "sub.site.example")
    recv = [c for c in got if c["direction"] == "received"]
    sent = [c for c in got if c["direction"] == "sent"]
    assert [(c["cookie"], c["domain"], c["is_3rd_party"]) for c in recv] == [
        ("a=x", "sub.site.example", False),
        ("b=y", "site.example", False),
        ("c=z", "tracker.example", True),
    ]
    assert sent == [
        {"direction": "sent", "cookie": "sid=1", "domain": "sub.site.example",
         "is_3rd_party": False}
    ]
    # malformed shapes read as no cookies (totality)
    assert entry_cookies({"response": {"cookies": "nope"}, "request": {}}, "h") == []


def _cookie_entry(url, started, sent=(), recv=(), body="<p>x</p>"):
    return {
        "startedDateTime": started,
        "request": {
            "url": url,
            "headers": [],
            "cookies": [{"name": n, "value": v} for n, v in sent],
        },
        "response": {
            "status": 200,
            "redirectURL": "",
            "content": {"mimeType": "text/html", "text": body},
            "cookies": [
                {"name": n, "value": v, **({"domain": d} if d else {})}
                for n, v, d in recv
            ],
        },
    }


@pytest.fixture(scope="module")
def cookie_capture_dir(tmp_path_factory):
    """The reference's cookie / no_cookie scenario pair: same root URL, one
    capture made with a request cookie, one without (simple_test.py:229-241
    pins request_cookie 1 vs 0 on the root hostname)."""
    root = tmp_path_factory.mktemp("cookie_caps")
    a = "https://shop.example/"
    b = "https://shop.example/next"
    t = "https://tracker.example/px.gif"
    cookie_har = {"log": {"entries": [
        # root receives a session cookie scoped to the parent domain...
        _cookie_entry(a, "2024-01-01T00:00:00",
                      sent=[("seen", "1")],
                      recv=[("sess", "42", ".shop.example")]),
        # ...a later same-site entry sends it back (provenance link), and a
        # third-party pixel sets its own cookie
        _cookie_entry(b, "2024-01-01T00:00:01", sent=[("sess", "42")]),
        _cookie_entry(t, "2024-01-01T00:00:02",
                      recv=[("tid", "7", ".shop.example")]),
    ]}}
    no_cookie_har = {"log": {"entries": [
        _cookie_entry(a, "2024-01-01T00:00:00"),
        _cookie_entry(b, "2024-01-01T00:00:01"),
    ]}}
    (root / "cookie.har").write_text(json.dumps(cookie_har))
    (root / "no_cookie.har").write_text(json.dumps(no_cookie_har))
    return str(root)


def test_cookie_scenario_rollups(spark, cookie_capture_dir):
    ck = _read_cookies(spark, cookie_capture_dir).cache()
    rows = ck.toPandas()

    # the no_cookie capture produces zero events (reference golden:
    # request_cookie == 0, simple_test.py:239-241)
    assert (rows["doc_id"] == "no_cookie").sum() == 0

    roll = {
        (r["doc_id"], r["hostname"]): r
        for r in har_cookies.host_cookie_rollup(ck).collect()
    }
    shop = roll[("cookie", "shop.example")]
    # request_cookie: distinct sent on the host (seen=1 at root, sess=42 at
    # /next); response_cookie: the sess triple; no third-party ON shop
    assert shop["request_cookie"] == 2
    assert shop["response_cookie"] == 1
    assert shop["third_party_cookies_received"] == 0
    tracker = roll[("cookie", "tracker.example")]
    # tid is scoped to .shop.example from tracker.example -> third-party
    assert tracker["request_cookie"] == 0
    assert tracker["response_cookie"] == 1
    assert tracker["third_party_cookies_received"] == 1

    totals = {r["doc_id"]: r for r in har_cookies.capture_cookie_totals(ck).collect()}
    assert totals["cookie"]["total_cookies_sent"] == 2
    assert totals["cookie"]["total_cookies_received"] == 2

    # provenance: sess=42 sent at span 1 links to its setter at span 0
    # (earlier + domain-suffix match); nothing else links
    prov = har_cookies.cookie_provenance(ck).collect()
    assert [(p["doc_id"], p["span_idx"], p["cookie"], p["setter_idx"]) for p in prov] == [
        ("cookie", 1, "sess=42", 0)
    ]


def test_cookie_provenance_respects_order_and_domain(spark, cookie_capture_dir):
    """A received cookie AFTER the send, or scoped to a non-suffix domain,
    never links (the reference's start_time < and endswith gates)."""
    import json as _json

    root = cookie_capture_dir
    late = {"log": {"entries": [
        _cookie_entry("https://x.example/", "2024-01-01T00:00:00", sent=[("k", "v")]),
        # same cookie received LATER -> no link
        _cookie_entry("https://x.example/2", "2024-01-01T00:00:01",
                      recv=[("k", "v", ".x.example")]),
        # received earlier than THIS send but scoped elsewhere -> no link
        _cookie_entry("https://y.example/", "2024-01-01T00:00:02",
                      recv=[("m", "1", ".other.example")]),
        _cookie_entry("https://x.example/3", "2024-01-01T00:00:03", sent=[("m", "1")]),
    ]}}
    import pathlib

    (pathlib.Path(root) / "late.har").write_text(_json.dumps(late))
    ck = _read_cookies(spark, root)
    prov = har_cookies.cookie_provenance(ck.filter(F.col("doc_id") == "late"))
    assert prov.count() == 0


def test_initial_cookies_from_root_span(spark, cookie_capture_dir):
    from har2tree_spark.operators.parse import parse_documents

    docs = har_source.read_har_dir(spark, cookie_capture_dir)
    feats = parse_documents(docs)
    ck = _read_cookies(spark, cookie_capture_dir)
    init = {
        (r["doc_id"], r["cookie"])
        for r in har_cookies.initial_cookies(ck, feats).collect()
    }
    # the reference's initial_cookies = the ROOT node's sent cookies
    # (har2tree.py:343-346): seen=1, not the later sess=42
    assert init == {("cookie", "seen=1")}


@needs_corpus
def test_lalibre_cookie_literals(spark):
    """Real-corpus pin: the lalibre captures' cookie surface, counted once
    and asserted literally so adapter regressions surface immediately."""
    ck = _read_cookies(spark, f"{REF_DATA}/lalibre").cache()
    by_dir = {r["direction"]: r["n"] for r in
              ck.groupBy("direction").agg(F.count("*").alias("n")).collect()}
    assert by_dir == {"sent": 3301, "received": 1513}
    third = ck.filter((F.col("direction") == "received") & F.col("is_3rd_party")).count()
    totals = har_cookies.capture_cookie_totals(ck).agg(
        F.sum("total_cookies_sent").alias("s"), F.sum("total_cookies_received").alias("r")
    ).collect()[0]
    prov_n = har_cookies.cookie_provenance(ck).count()
    # literal pins computed INDEPENDENTLY (a pure-Python stdlib pass over
    # the same files, reference semantics hand-applied) — the Spark surface
    # must agree with that oracle exactly
    assert (third, totals["s"], totals["r"], prov_n) == PINNED_LALIBRE


# (third-party received events, sum per-capture distinct sent, sum
# per-capture distinct received triples, provenance links) — from the
# independent pure-Python count over tests/data/lalibre
PINNED_LALIBRE = (3, 511, 1079, 5482)


@needs_corpus
def test_cookie_ops_duckdb_cross_check(spark, tmp_path):
    """Value-exact DuckDB cross-check of the relational cookie operators on
    the REAL lalibre corpus: the flat cookie table round-trips through
    parquet, and provenance + host rollup + capture totals are recomputed
    in DuckDB SQL and compared row-for-row."""
    import duckdb

    ck = _read_cookies(spark, f"{REF_DATA}/lalibre")
    pq = str(tmp_path / "cookies.parquet")
    ck.coalesce(1).write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ck AS SELECT * FROM read_parquet('{pq}/*.parquet')")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def sql(q):
        return sorted(tuple(r) for r in con.execute(q).fetchall())

    prov = har_cookies.cookie_provenance(spark.read.parquet(pq))
    assert rows(prov) == sql("""
        SELECT s.doc_id, s.span_idx, s.cookie, r.span_idx, r.domain, r.is_3rd_party
        FROM (SELECT * FROM ck WHERE direction = 'sent') s
        JOIN (SELECT * FROM ck WHERE direction = 'received') r
          ON s.doc_id = r.doc_id AND s.cookie = r.cookie
        WHERE ends_with(s.hostname, r.domain) AND r.span_idx < s.span_idx
    """)

    roll = har_cookies.host_cookie_rollup(spark.read.parquet(pq))
    assert rows(roll) == sql("""
        SELECT doc_id, hostname,
               count(DISTINCT CASE WHEN direction = 'sent' THEN cookie END),
               count(DISTINCT CASE WHEN direction = 'received'
                     THEN concat_ws(' ', domain, cookie, CAST(is_3rd_party AS VARCHAR)) END),
               count(DISTINCT CASE WHEN direction = 'received' AND is_3rd_party
                     THEN concat_ws(' ', domain, cookie, CAST(is_3rd_party AS VARCHAR)) END)
        FROM ck GROUP BY doc_id, hostname
    """)

    totals = har_cookies.capture_cookie_totals(spark.read.parquet(pq))
    assert rows(totals) == sql("""
        SELECT doc_id,
               count(DISTINCT CASE WHEN direction = 'sent' THEN cookie END),
               count(DISTINCT CASE WHEN direction = 'received'
                     THEN concat_ws(' ', domain, cookie, CAST(is_3rd_party AS VARCHAR)) END)
        FROM ck GROUP BY doc_id
    """)
