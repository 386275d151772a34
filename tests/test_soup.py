"""Markup parse + JS-redirect extraction (F17/F18/F19/F26 family)."""

import hashlib
import re

from har2tree_spark.operators import soup


def _parser_view(body):
    """(tags, domhash, res_refs) from the event parser that the real-HAR
    adapter uses, with the same CSS arms appended — the shape
    ``soup_features`` returns for the same body."""
    tags, refs = soup._parse_markup_events(body)
    refs = (
        list(refs)
        + re.findall(soup.CSS_URL_RE, body)
        + re.findall(soup.CSS_IMPORT_RE, body)
    )
    domhash = (
        hashlib.sha256("|".join(tags).encode()).hexdigest()[:32] if tags else None
    )
    return tags, domhash, refs


def _bodies(spark):
    rows = [
        ("d1", 0, '<html><body><img src="k2"><a href="x.css">t</a></body></html>'),
        ("d1", 1, "<script>location.href='k2'</script>"),
        ("d1", 2, "<script>location.replace('k404')</script>"),
        ("d1", 3, '<meta http-equiv="refresh" content="5;url=k1">'),
        ("d1", 4, "no markup at all"),
        ("d1", 5, "<p>upper <IMG SRC='x'> lower</p>"),
    ]
    return spark.createDataFrame(rows, "doc_id string, span_idx int, body string")


def test_soup_features_tags_and_resources(spark):
    got = {r.span_idx: r for r in soup.soup_features(_bodies(spark)).collect()}
    assert got[0].tags == ["html", "body", "img", "a"]
    assert got[0].res_refs == ["k2", "x.css"]
    # domhash contract (F26): first 32 hex of sha256 over '|'-joined tags
    exp = hashlib.sha256(b"html|body|img|a").hexdigest()[:32]
    assert got[0].domhash == exp
    # no tags -> null domhash, empty arrays
    assert got[4].n_tags == 0 and got[4].domhash is None and got[4].res_refs == []
    # tag names lowercased (IMG -> img)
    assert got[5].tags == ["p", "img"]


def test_soup_parser_engine_parity_on_regular_markup(spark):
    """r4 VERDICT task #2: the real event parser (``_parse_markup_events``;
    stdlib fallback in this container — the reference's helper.py:283-294
    chain) must match the JVM regexp path exactly on the regular
    double-quoted markup grammar, including the CSS arms."""
    rows = [
        ("d", 0, '<div><img src="k2"><script>location.href=\'k2\'</script></div>'),
        ("d", 1, '<meta http-equiv="refresh" content="5;url=k1">'),
        ("d", 2, "<span>no markup refs</span>"),
        ("d", 3, "<script>location.replace('kZZZ')</script>"),
        (
            "d",
            4,
            '<link href="a.css"><style>.x{background:url(\'bg.png\')}'
            "@import 'extra.css';</style>"
            '<video poster="p.jpg"><source srcset="s1.png 1x"></video>',
        ),
        ("d", 5, '<object data="o.bin"><img longdesc="d.html" src=""></object>'),
        ("d", 6, ""),
        ("d", 7, "plain text, no tags"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, span_idx int, body string")
    a = {r.span_idx: r for r in soup.soup_features(df).collect()}
    assert set(a) == {r[1] for r in rows}
    for _, i, body in rows:
        want = (a[i].tags, a[i].domhash, a[i].res_refs)
        assert _parser_view(body) == want, (i, body)
    # and the parity is non-vacuous: resources from every arm family
    assert a[4].res_refs == ["a.css", "p.jpg", "s1.png 1x", "bg.png", "extra.css"]


def test_soup_parser_engine_handles_non_regular_html():
    """What the regexp grammar cannot parse, the event parser must:
    single-quoted/unquoted attributes, unclosed tags, and attr-shaped
    text that is NOT markup (the regexp path's known false positive)."""
    got = {
        i: _parser_view(body)
        for i, body in enumerate(
            [
                "<p><img src='a.png'><UL><LI>unclosed",
                'prose with src="fake" outside any tag',
                "<a href=bare.html>x</a>",
            ]
        )
    }
    assert got[0][0] == ["p", "img", "ul", "li"]
    assert got[0][2] == ["a.png"]  # single-quoted attr extracted
    assert got[1][2] == []  # text is not an attribute
    assert got[1][0] == []
    assert got[2][2] == ["bare.html"]  # unquoted attr extracted


def test_js_redirects_universe_semijoin(spark):
    bodies = _bodies(spark)
    feats = spark.createDataFrame(
        [("d1", 0, "k1"), ("d1", 1, "k2")], "doc_id string, span_idx int, key string"
    )
    got = {r.span_idx: r for r in soup.js_redirects(bodies, feats).collect()}
    # location.href to a known key resolves
    assert got[1].redirect_url == "k2" and got[1].redirect_kind == "js"
    assert not got[1].redirect_to_nothing
    # unknown target: flagged, kept, null url (redirect_to_nothing contract)
    assert got[2].redirect_url is None and got[2].redirect_to_nothing
    # meta refresh arm
    assert got[3].redirect_kind == "meta" and got[3].redirect_url == "k1"
    # bodies with no redirect marker produce no row
    assert 0 not in got and 4 not in got


def test_js_redirect_assign_variant(spark):
    bodies = spark.createDataFrame(
        [("d1", 0, "<script>location.assign('k9')</script>")],
        "doc_id string, span_idx int, body string",
    )
    feats = spark.createDataFrame([("d1", 9, "k9")], "doc_id string, span_idx int, key string")
    r = soup.js_redirects(bodies, feats).collect()[0]
    assert r.redirect_url == "k9" and r.redirect_kind == "js"


def test_soup_is_narrow(spark):
    # the markup parse must stay a JVM projection: no shuffle, no Python
    plan = soup.soup_features(_bodies(spark))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_soup_css_and_attribute_breadth(spark):
    """F18 breadth (reference helper.py:300-426): CSS url()/@import arms and
    the srcset/poster/longdesc/data attribute surface feed res_refs."""
    rows = [
        ("d1", 0, '<style>.a{background:url("k1.png")} '
                  "@import 'k2.css'; b{x:url(k3.gif)}</style>"),
        ("d1", 1, '<img srcset="k4 2x" longdesc="k5">'
                  '<video poster="k6"></video><object data="k7"></object>'),
        ("d1", 2, '<link href="k8"><source src="k9">'),
        ("d1", 3, "@import url('k10.css');"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, span_idx int, body string")
    got = {r.span_idx: r for r in soup.soup_features(df).collect()}
    # attr refs first, then url() tokens, then @import strings
    assert got[0].res_refs == ["k1.png", "k3.gif", "k2.css"]
    assert got[1].res_refs == ["k4 2x", "k5", "k6", "k7"]
    assert got[2].res_refs == ["k8", "k9"]
    # @import url(...) form is captured exactly once (by the url() arm)
    assert got[3].res_refs == ["k10.css"]
    assert got[3].n_res == 1


def test_soup_parser_engine_parity_on_gate_corpus(spark):
    """Corpus-scale parity pin: the event parser and ``soup_features``
    agree row-for-row on EVERY generated markup body of the sf0.001 gate
    corpus (the tiny hand-rows above can't cover the generator's full
    body distribution). Keeps the parity claim honest at data scale, not
    just on curated examples."""
    import os

    import pytest as _pytest

    if not os.path.exists("/root/testdata/sf0.001"):
        _pytest.skip("gate testdata not present")
    import __spark_entry__ as entry

    live = entry._live(spark, "/root/testdata/sf0.001").select(
        "doc_id", "span_idx", "text"
    )
    bodies = entry._with_markup_body(live)
    rows = (
        soup.soup_features(bodies)
        .select("body", "tags", "domhash", "res_refs")
        .collect()
    )
    assert len(rows) > 500
    for r in rows:
        assert _parser_view(r.body) == (r.tags, r.domhash, r.res_refs), r.body


def test_implied_tag_skip_pure():
    """The lxml-branch implied-structure filter (r5 ADVICE): skip
    html/head/body start events exactly when the source does not literally
    contain the tag — unit-testable without lxml."""
    from har2tree_spark.operators.soup import _implied_tag_skip

    skip = _implied_tag_skip("<p>x</p>")
    assert skip("html") and skip("body") and skip("head")
    assert not skip("p") and not skip("div")
    skip2 = _implied_tag_skip('<HTML lang="en"><body>x</body></HTML>')
    assert not skip2("html") and not skip2("body") and skip2("head")
    # prefix false-positives must not count as literal presence
    skip3 = _implied_tag_skip("<bodyguard><htmlx>")
    assert skip3("body") and skip3("html")
    # unclosed tag at end-of-input still counts as present
    skip4 = _implied_tag_skip("text <body")
    assert not skip4("body") and skip4("html")
    # self-closing form
    assert not _implied_tag_skip("<head/>")("head")


def test_soup_event_engine_fuzz_totality(spark):
    """Never-throws + column-contract fuzz over arbitrary byte soup (r5
    VERDICT #6), for ``soup_features`` and for the event parser the
    real-HAR adapter calls. Deterministic across runs."""
    import random
    import string

    rng = random.Random(4242)
    alphabet = (
        string.ascii_letters + string.digits
        + "<>/=\"' &#;:%()@!\\-_.{}[]\n\t"
    )
    bodies = [
        "".join(rng.choices(alphabet, k=rng.randrange(0, 120))) for _ in range(300)
    ]
    bodies += [
        "", "<", "<>", "</", "<!---", "<!doctype html>", "<p", "<p x",
        "<p x=", '<p x="', "<a href='u'>", "<a href=u>", "<A HREF=\"U\">",
        "<img src=\"a\" src=\"b\">", "<style>url( x )</style>",
        "@import 'y';", "<p>&notareal;</p>", "<svg><circle/></svg>",
        "\x00\x01<p>", "<p>" * 50, "<" * 30, "a>" * 30,
        "<script>if(a<b){}</script>", "<body onload=x>", "<html><p>",
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(bodies)], "span_idx int, body string"
    )
    rows = soup.soup_features(df).collect()  # never throws
    assert len(rows) == len(bodies)
    for r in rows:
        assert r.tags is not None and r.res_refs is not None
        assert r.n_tags == len(r.tags) and r.n_res == len(r.res_refs)
        assert all(t == t.lower() for t in r.tags)
        assert (r.domhash is None) == (len(r.tags) == 0)
    # the event parser: never throws, lowercased tags, deterministic
    parsed = [soup._parse_markup_events(b) for b in bodies]
    for tags, refs in parsed:
        assert isinstance(tags, list) and isinstance(refs, list)
        assert all(t == t.lower() for t in tags)
    assert parsed == [soup._parse_markup_events(b) for b in bodies]
