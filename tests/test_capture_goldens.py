"""Golden capture-scenario parity — the in-sandbox substitute for the
reference's curated capture_samples suite.

The reference pins exact stats, redirect chains, rendered-node identity,
referer/cookie/user-agent behavior per curated capture scenario
(reference tests/simple_test.py:44-241 over tests/capture_samples/
http_redirect, referer, no_referer, cookie, no_cookie, iframe,
lonely_har, final_redirect_questionmark, final_redirect_dash,
user_agent_*).  That directory is EMPTY in this environment (the sample
files are not shipped), so the literal reference numbers cannot be
reproduced; instead each scenario is reconstructed deterministically with
the same SHAPE (same redirect/cookie/referer/sidecar structure the sample
README-names promise), pushed through read_har_captures -> parse -> exact
cascade, and pinned against HAND-COMPUTED literal expected values — the
same property set the reference asserts, on inputs we fully control.
The reference's pure-function goldens (rebuild_url) ARE
runnable and live in tests/test_urlkit.py with the verbatim expected
values.
"""

import json

import pytest
from pyspark.sql import functions as F

from har2tree_spark.operators.cascade import resolve_exact
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.operators.stats import doc_stats, redirect_chains
from har2tree_spark.sources import har_cookies, har_source
from har2tree_spark.sources.har_source import url_key

UA_BING = ("Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/534+ "
           "(KHTML, like Gecko) BingPreview/1.0b")

# the http_redirect scenario's URL chain: root -> 3 intermediate redirects
# -> landing (4 redirect hops), landing loads 2 resources
R0 = "https://start.example/redirect_http"
R1 = "https://start.example/hop1"
R2 = "https://mid.example/hop2"
R3 = "https://mid.example/hop3"
LAND = "https://consent.example/final?q=1"
RES1 = "https://consent.example/app.js"
RES2 = "https://cdn.example/logo.png"


def _entry(url, started, status=200, mime="text/html", body="", redirect="",
           referer="", ua="", sent_cookies=(), recv_cookies=()):
    headers = []
    if referer:
        headers.append({"name": "Referer", "value": referer})
    if ua:
        headers.append({"name": "User-Agent", "value": ua})
    return {
        "startedDateTime": started,
        "request": {
            "url": url,
            "headers": headers,
            "cookies": [{"name": n, "value": v} for n, v in sent_cookies],
        },
        "response": {
            "status": status,
            "redirectURL": redirect,
            "content": {"mimeType": mime, "text": body},
            "cookies": [
                {"name": n, "value": v, **({"domain": d} if d else {})}
                for n, v, d in recv_cookies
            ],
        },
    }


def _t(i):
    return f"2024-01-01T00:00:{i:02d}"


@pytest.fixture(scope="module")
def scenarios_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("scenarios")

    # --- http_redirect: 4-hop chain + cookie sent at root + cookie
    # received on landing + meta refresh in the landing body ------------
    http_redirect = {"log": {
        "pages": [{"id": "page_1", "startedDateTime": _t(0), "title": "t"}],
        "entries": [
            _entry(R0, _t(0), status=302, redirect="/hop1", ua=UA_BING,
                   sent_cookies=[("init", "1")]),
            _entry(R1, _t(1), status=301, redirect=R2),
            _entry(R2, _t(2), status=302, redirect="hop3"),   # relative
            _entry(R3, _t(3), status=303, redirect=LAND),
            _entry(LAND, _t(4),
                   body='<html><script src="app.js"></script>'
                        f'<img src="{RES2}">'
                        '<meta http-equiv="refresh" content="0;url=app.js"></html>',
                   recv_cookies=[("sess", "9", ".consent.example")]),
            _entry(RES1, _t(5), mime="text/javascript", referer=LAND,
                   body="console.log(1);"),
            _entry(RES2, _t(6), mime="image/png", referer=LAND),
        ],
    }}
    (root / "http_redirect.har").write_text(json.dumps(http_redirect))
    (root / "http_redirect.last_redirect.txt").write_text(LAND)

    # --- referer / no_referer: same root URL, one capture launched with a
    # referer, different landing per capture --------------------------------
    ref_root = "https://same.example/start"
    for name, ref, land in (
        ("referer", "http://launchpad.example", "https://same.example/with_ref"),
        ("no_referer", "", "https://same.example/without_ref"),
    ):
        har = {"log": {"entries": [
            _entry(ref_root, _t(0), status=302, redirect=land, referer=ref),
            _entry(land, _t(1), body="<p>x</p>"),
        ]}}
        (root / f"{name}.har").write_text(json.dumps(har))
        (root / f"{name}.last_redirect.txt").write_text(land)

    # --- final_redirect_questionmark / _dash: the last_redirect file
    # carries a '?'-query / '#'-fragment the capture's URL list lacks ------
    base = "https://trim.example/page"
    for name, suffix in (("final_q", "?utm=1"), ("final_dash", "#frag")):
        har = {"log": {"entries": [
            _entry(base, _t(0), body="<p>x</p>"),
        ]}}
        (root / f"{name}.har").write_text(json.dumps(har))
        (root / f"{name}.last_redirect.txt").write_text(base + suffix)

    # --- iframe: pages list with NO title, no redirects, frames sidecar ---
    ifr_root = "https://frames.example/"
    ifr_child = "https://frames.example/inner"
    iframe_har = {"log": {
        "pages": [{"id": "page_1", "startedDateTime": _t(0), "title": ""}],
        "entries": [
            _entry(ifr_root, _t(0), body=f'<html><iframe src="{ifr_child}"></html>'),
            _entry(ifr_child, _t(1), body="<p>inner</p>", referer=ifr_root),
        ],
    }}
    (root / "iframe.har").write_text(json.dumps(iframe_har))
    (root / "iframe.last_redirect.txt").write_text(ifr_root)
    (root / "iframe.frames.json").write_text(json.dumps({
        "name": "main", "url": ifr_root, "content": "<html>",
        "children": [{"name": "f", "url": ifr_child, "content": "<p>inner</p>"}],
    }))

    # --- lonely_har: no sidecars at all ------------------------------------
    (root / "lonely.har").write_text(json.dumps(
        {"log": {"entries": [_entry("https://alone.example/", _t(0))]}}
    ))
    return str(root)


@pytest.fixture(scope="module")
def built(spark, scenarios_dir):
    caps = har_source.read_har_captures(spark, scenarios_dir).cache()
    feats = parse_documents(caps.select("doc_id", "spans")).cache()
    tree = resolve_exact(feats).cache()
    return caps.toPandas().set_index("doc_id"), feats, tree


def test_http_redirect_chain_and_stats(built):
    caps, feats, tree = built
    cap = caps.loc["http_redirect"]

    # root properties (test_root_url / test_user_agent analogues)
    assert cap["root_url_key"] == url_key(R0)
    assert cap["root_user_agent"] == UA_BING
    assert cap["initial_start_time"] == _t(0)
    assert cap["root_referrer_key"] is None  # test_root_referer: no referer

    # final redirect found exactly; rendered node = the landing entry
    # (test_root_after_redirect / test_rendered_node_name_equals_last_redirect)
    assert cap["final_redirect_found"]
    assert cap["final_redirect_url"] == LAND
    assert cap["rendered_span_idx"] == 4

    # initial redirect chain reconstructed without the tree
    # (test_initial_redirect / har2tree.py:268-303): hop1..landing in order
    assert cap["has_initial_redirects"]
    assert list(cap["initial_redirect_keys"]) == [
        url_key(R1), url_key(R2), url_key(R3), url_key(LAND)
    ]
    assert not cap["need_tree_redirects"]

    # the tree: 4 redirect edges root->landing, resources under landing
    # (test_redirects / test_stats total_redirects analogue)
    kinds = {r["span_idx"]: r for r in tree.filter(F.col("doc_id") == "http_redirect").collect()}
    # the js resource's pointer goes through the initiator arm (J4: a js
    # child's media_ref names its initiator), the img through referer (J5)
    assert [kinds[i]["join_kind"] for i in range(7)] == [
        "root", "redirect", "redirect", "redirect", "redirect",
        "initiator", "referer",
    ]
    assert [kinds[i]["parent_idx"] for i in range(7)] == [-1, 0, 1, 2, 3, 4, 4]

    chains = {r["doc_id"]: r for r in redirect_chains(feats, tree).collect()}
    assert list(chains["http_redirect"]["chain"]) == [1, 2, 3, 4]
    assert chains["http_redirect"]["chain_len"] == 4

    # hand-computed stats golden (test_stats analogue, engine surface):
    # 7 spans, 7 unique keys, span-tree depth 7 (root + 4 hops + resource
    # level... resources sit at depth 5), total_chain 4
    st = {r["doc_id"]: r for r in doc_stats(feats, tree).collect()}["http_redirect"]
    assert st["total_spans"] == 7
    assert st["unique_keys"] == 7
    assert st["total_chain"] == 4
    assert st["tree_depth"] == 6  # root(0)->hops(1..4)->resources(5), +1


def test_http_redirect_cookie_totals(spark, scenarios_dir):
    # test_stats total_cookies_sent/received analogue: exactly one of each
    ck = har_cookies.cookies_from_captures(har_source.read_har_captures(spark, scenarios_dir))
    totals = {r["doc_id"]: r for r in har_cookies.capture_cookie_totals(ck).collect()}
    t = totals["http_redirect"]
    assert t["total_cookies_sent"] == 1
    assert t["total_cookies_received"] == 1


def test_referer_scenarios(built):
    caps, _, _ = built
    ref, noref = caps.loc["referer"], caps.loc["no_referer"]
    # test_referer_ct_has_referer / test_root_referer
    assert ref["root_referrer_key"] == url_key("http://launchpad.example")
    assert noref["root_referrer_key"] is None
    # test_referer_cts_same_urls: same root
    assert ref["root_url_key"] == noref["root_url_key"]
    # test_referer_cts_have_different_redirects_despite_same_url
    assert ref["final_redirect_url"] != noref["final_redirect_url"]
    assert ref["final_redirect_found"] and noref["final_redirect_found"]


def test_final_redirect_trim_equality(built):
    # test_final_redirect_has_to_get_a_trim: both final redirects carry a
    # '?'/'#' that the search ladder strips; they resolve to the SAME URL
    caps, _, _ = built
    q, d = caps.loc["final_q"], caps.loc["final_dash"]
    assert q["final_redirect_found"] and d["final_redirect_found"]
    assert q["final_redirect_url"] == d["final_redirect_url"]
    assert q["final_redirect_url"] == "https://trim.example/page"


def test_iframe_scenario(built):
    caps, _, tree = built
    cap = caps.loc["iframe"]
    # test_iframe_capture_name: empty page title -> the literal sentinel
    assert cap["initial_title"] == "!! No title found !!"
    # test_iframe_has_no_initial_redirects: landing == root URL
    assert not cap["has_initial_redirects"]
    assert cap["n_frames"] == 1
    # the child attaches under the root (referer edge)
    rows = {r["span_idx"]: r for r in tree.filter(F.col("doc_id") == "iframe").collect()}
    assert rows[1]["parent_idx"] == 0


def test_lonely_har_no_sidecars(built):
    caps, _, _ = built
    cap = caps.loc["lonely"]
    # test_lonely_har_no_final_redirect / _no_cookie_file / _no_html_file
    assert cap["final_redirect_url"] is None
    assert cap["initial_cookies"] is None
    assert cap["rendered_html"] is None
    assert cap["rendered_urls"] is None
    assert cap["n_entries"] == 1


def test_capture_report_golden(spark, scenarios_dir):
    """The one-call per-capture summary (pipeline.capture_report) matches
    the hand-computed scenario goldens — the reference's stats-dict
    analogue assembled end-to-end."""
    from har2tree_spark.pipeline import capture_report

    rep = capture_report(spark, scenarios_dir).toPandas().set_index("doc_id")
    hr = rep.loc["http_redirect"]
    assert hr["n_entries"] == 7
    assert hr["total_urls"] == 7
    assert hr["total_unique_urls"] == 7
    # start/mid/consent/cdn = 4 distinct hostnames
    assert hr["n_unique_hostnames"] == 4
    assert hr["tree_depth"] == 6
    assert hr["total_redirects"] == 4
    assert hr["total_cookies_sent"] == 1
    assert hr["total_cookies_received"] == 1
    assert hr["root_user_agent"] == UA_BING
    assert hr["final_redirect_url"] == LAND
    assert hr["rendered_span_idx"] == 4
    lone = rep.loc["lonely"]
    assert lone["total_redirects"] == 0
    assert lone["total_cookies_sent"] == 0
    assert lone["final_redirect_url"] is None


def test_capture_report_real_corpus_pin(spark):
    """Regression pin on REAL input: the largest real capture's report row,
    recorded literally (components are independently oracled elsewhere —
    cookies vs DuckDB + pure-Python, cascade vs pycascade; this pin makes
    any adapter/report drift on real data loud)."""
    import os

    ref = "/root/reference/tests/data/lalibre"
    if not os.path.isdir(ref):
        pytest.skip("reference corpus not present")
    from har2tree_spark.pipeline import capture_report

    row = (
        capture_report(spark, ref)
        .filter(F.col("doc_id") == "001")
        .collect()[0]
    )
    assert (
        row["n_entries"], row["total_urls"], row["total_unique_urls"],
        row["n_unique_hostnames"], row["tree_depth"], row["total_redirects"],
        row["total_cookies_sent"], row["total_cookies_received"],
        row["rendered_span_idx"],
    ) == (615, 613, 564, 194, 50, 65, 171, 306, 1)
