"""Pure-function goldens for the ingest URL kit (sources/urlkit.py).

The literal expected values are ported from the reference's own golden
tests (reference tests/simple_test.py:108-131) — the only part of the
reference's curated capture-sample suite that is runnable here, because
these goldens need no capture files (the capture_samples/ directory is
empty in this environment; see tests/test_capture_goldens.py for the
scenario-level substitute).
"""

from har2tree_spark.sources.urlkit import rebuild_url

BASE = "https://lookyloo-testing.herokuapp.com"


# --- reference goldens, verbatim expected values -------------------------

def test_rebuild_url_end_slash_differs():
    # simple_test.py:111-116: same partial + known list, base with vs
    # without a trailing slash must resolve differently
    known = [f"{BASE}/subdir/redirect_http_partial_no_slash_dest"]
    no_slash = rebuild_url(f"{BASE}/subdir", "redirect_http_partial_no_slash_dest", known)
    with_slash = rebuild_url(f"{BASE}/subdir/", "redirect_http_partial_no_slash_dest", known)
    assert no_slash != with_slash


def test_rebuild_url_no_end_slash():
    # simple_test.py:118-121: /subdir disappears (urljoin splits before the
    # last '/'), and the trailing-slash re-add arm fires
    known = [f"{BASE}/subdir/redirect_http_partial_no_slash_dest"]
    assert (
        rebuild_url(f"{BASE}/subdir", "redirect_http_partial_no_slash_dest", known)
        == f"{BASE}/redirect_http_partial_no_slash_dest/"
    )


def test_rebuild_url_with_end_slash():
    # simple_test.py:123-126: base ends with '/', the partial just appends
    known = [f"{BASE}/subdir/redirect_http_partial_no_slash_dest"]
    assert (
        rebuild_url(f"{BASE}/subdir/", "redirect_http_partial_no_slash_dest", known)
        == f"{BASE}/subdir/redirect_http_partial_no_slash_dest"
    )


def test_rebuild_url_partial_double_slash():
    # simple_test.py:128-131: scheme-relative partial keeps the base scheme
    target = "https://www.youtube.com/watch?v=iwGFalTRHDA"
    assert (
        rebuild_url(
            f"{BASE}/redirect_http_partial_no_scheme",
            "//www.youtube.com/watch?v=iwGFalTRHDA",
            [target],
        )
        == target
    )


# --- per-arm pins for the rest of the ladder (helper.py:130-201) ---------

def test_rebuild_url_empty_and_scheme_passthrough():
    assert rebuild_url("http://a/", "  ", ["http://a/"]) == ""
    assert rebuild_url("http://a/", "https://b/x", ["https://b/x"]) == "https://b/x"
    # never-matching candidate falls through every arm; the last one
    # (trailing-slash re-add) leaves its mark — the reference does the same
    assert rebuild_url("http://a/", "https://b/x", []) == "https://b/x/"


def test_rebuild_url_unquote_plus_applied():
    # partial arrives percent-encoded; the ladder unquotes before joining
    assert rebuild_url("http://a/", "p%20q", ["http://a/p q"]) == "http://a/p q"


def test_rebuild_url_reappend_stripped_query_and_fragment():
    # urljoin strips an empty '?' / '#'; the ladder re-appends when that
    # makes the candidate match
    assert rebuild_url("http://a/", "x?", ["http://a/x?"]) == "http://a/x?"
    assert rebuild_url("http://a/", "x#", ["http://a/x#"]) == "http://a/x#"


def test_rebuild_url_default_port_strip():
    assert rebuild_url("https://a/", "https://b:443/x", ["https://b/x"]) == "https://b/x"
    assert rebuild_url("http://a/", "http://b:80/x", ["http://b/x"]) == "http://b/x"
    # non-default port survives (candidate matches known before any
    # rewrite arm fires)
    assert (
        rebuild_url("https://a/", "https://b:8443/x", ["https://b:8443/x"])
        == "https://b:8443/x"
    )


def test_rebuild_url_fragment_inherit():
    # a redirect from a fragment-carrying base inherits the fragment
    assert (
        rebuild_url("http://a/p#frag", "http://b/x", ["http://b/x#frag"])
        == "http://b/x#frag"
    )
    # empty fragment on the base: '#' is re-appended literally
    assert rebuild_url("http://a/p#", "http://b/x", ["http://b/x#"]) == "http://b/x#"


def test_rebuild_url_dot_segment_collapse():
    assert (
        rebuild_url("https://foo.bar/", "https://foo.bar/path/./blah.js",
                    ["https://foo.bar/path/blah.js"])
        == "https://foo.bar/path/blah.js"
    )


def test_rebuild_url_no_path_becomes_slash():
    assert rebuild_url("http://a/", "http://b", ["http://b/"]) == "http://b/"


# --- F28 canonicalizer (reference nodes.py:663-674 _sanitize pipeline) ---

from har2tree_spark.sources.urlkit import canonicalize_rendered_url  # noqa: E402

BASE_R = "https://consent.youtube.com/ml?x=1"


def test_canonicalize_sorts_query_and_encodes_embedded_urls():
    # the reference's golden list shape (simple_test.py:186-199): query
    # args sorted, an embedded URL value %XX-escaped, fragments kept
    got = canonicalize_rendered_url(
        "https://consent.youtube.com/d?uxe=23983172&gl=FR&hl=en"
        "&continue=https%3A%2F%2Fwww.youtube.com%2Fwatch%3Fv%3DiwGFalTRHDA",
        BASE_R,
    )
    assert got == (
        "https://consent.youtube.com/d"
        "?continue=https%3A%2F%2Fwww.youtube.com%2Fwatch%3Fv%3DiwGFalTRHDA"
        "&gl=FR&hl=en&uxe=23983172"
    )


def test_canonicalize_whitespace_join_netloc_fragment():
    # HTML5 whitespace stripped, relative href joined against the rendered
    # node's URL, fragment kept
    assert (
        canonicalize_rendered_url(" \n\t/privacy?hl=en#top \x0c", BASE_R)
        == "https://consent.youtube.com/privacy?hl=en#top"
    )
    # no netloc -> None (mailto, javascript, bare fragments resolve to base)
    assert canonicalize_rendered_url("mailto:x@y.example", BASE_R) is None
    # default port stripped, scheme/host lowercased, empty path -> '/'
    assert (
        canonicalize_rendered_url("HTTPS://Example.COM:443", BASE_R)
        == "https://example.com/"
    )
    # existing escapes pass through un-decoded (no %2F round trip)
    assert (
        canonicalize_rendered_url("https://a.example/p%2Fq", BASE_R)
        == "https://a.example/p%2Fq"
    )
    # blank query values survive
    assert (
        canonicalize_rendered_url("https://a.example/p?b=&a=1", BASE_R)
        == "https://a.example/p?a=1&b="
    )
