"""Real-HAR ingestion (sources/har_source.py): the reference's own capture
corpora (/root/reference/tests/data — PUBLIC test fixtures of the reference
repo) mapped into the documents table and pushed through the full unchanged
pipeline. The lalibre directory is the reference's forest-join stress
(reference tests/test.py:14-18); the simple capture exercises initiators and
real HTML bodies (reference tests/simple_test.py)."""

import os
import re

import pytest
from pyspark.sql import functions as F

from har2tree_spark.operators.parse import KEY_TOKEN_RE
from har2tree_spark.pipeline import run_pipeline
from har2tree_spark.sources import har_source

REF_DATA = "/root/reference/tests/data"

# only the tests that read the reference capture corpus skip without it
needs_corpus = pytest.mark.skipif(
    not os.path.isdir(REF_DATA), reason="reference HAR corpora not present"
)

_KEY_PAT = re.compile(KEY_TOKEN_RE.replace("\\z", "$"))


def test_url_key_grammar_and_determinism():
    urls = [
        "https://www.lalibre.be/",
        "http://example.com/a?b=c d",  # unquote_plus artifact: space survives
        "https://example.com/é",
    ]
    keys = [har_source.url_key(u) for u in urls]
    for k in keys:
        assert _KEY_PAT.match(k), k
        assert 1 <= int(k[1:]) < 10**15
    assert keys == [har_source.url_key(u) for u in urls]  # deterministic
    assert len(set(keys)) == len(keys)


def test_stack_grammar_matches_engine_f21():
    # parser-style url initiator
    assert har_source._initiator_media(
        {"_initiator": {"type": "parser", "url": "https://a/"}}
    ) == har_source.url_key("https://a/")
    # script stack: empty level 0, resolvable level 1; empty-url frames stay
    # as empty tokens (reference nodes.py:602-616)
    stack = {
        "callFrames": [],
        "parent": {
            "callFrames": [{"url": "https://a/"}, {"url": ""}],
        },
    }
    media = har_source._initiator_media({"_initiator": {"type": "script", "stack": stack}})
    assert media == f"stack:|{har_source.url_key('https://a/')} "
    assert har_source._initiator_media({"_initiator": {"type": "other"}}) == ""


def _mini_har(entries):
    return {"log": {"entries": entries}}


def _entry(url, status=200, mime="text/html", started="2020-01-01T00:00:00Z",
           redirect="", referer="", body=None):
    e = {
        "startedDateTime": started,
        "request": {"url": url, "headers": []},
        "response": {
            "status": status,
            "redirectURL": redirect,
            "content": {"mimeType": mime},
        },
    }
    if referer:
        e["request"]["headers"].append({"name": "Referer", "value": referer})
    if body is not None:
        e["response"]["content"]["text"] = body
    return e


def test_har_to_doc_status0_dedup_and_redirect(spark):
    # status-0 twin of a valid URL -> engine P2 suppression; a lone
    # status-0 stays (har2tree.py:575-603). 301 -> redirect span whose
    # media_ref keys the (trailing-slash repaired) target.
    har = _mini_har(
        [
            _entry("http://a/", status=301, redirect="http://b",
                   started="2020-01-01T00:00:01Z"),
            _entry("http://b/", started="2020-01-01T00:00:02Z",
                   body='<html><img src="/pic.png"></html>'),
            _entry("http://b/pic.png", status=0, mime="",
                   started="2020-01-01T00:00:03Z"),
            _entry("http://b/pic.png", mime="image/png",
                   started="2020-01-01T00:00:04Z", referer="http://b/"),
            _entry("http://c/lone", status=0, mime="",
                   started="2020-01-01T00:00:05Z"),
            _entry("", started="2020-01-01T00:00:06Z"),  # empty-URL ignore
        ]
    )
    doc = har_source.har_to_doc("mini", har)
    kinds = [s["kind"] for s in doc["spans"]]
    assert kinds == ["redirect", "html", "empty", "img", "empty", "text"]
    # redirect target resolved to http://b/ via trailing-slash repair
    assert doc["spans"][0]["media_ref"] == har_source.url_key("http://b/")
    # resource token: the html body embeds pic.png which is in the universe
    assert har_source.url_key("http://b/pic.png") in doc["spans"][1]["text"].split()

    out = run_pipeline(
        spark.createDataFrame([doc], har_source.DOCUMENTS_SCHEMA), mode="exact"
    )
    f = out["features"].toPandas().set_index("span_idx")
    # status-0 twin suppressed, lone status-0 kept, empty-URL span dropped
    assert 2 not in f.index and 5 not in f.index
    assert 4 in f.index and not f.loc[4]["valid"]
    jr = out["join_result"].toPandas().set_index("span_idx")
    assert jr.loc[1]["join_kind"] == "redirect"  # b attached via the 301
    assert jr.loc[3]["join_kind"] == "referer"


@pytest.fixture(scope="module")
def lalibre_out(spark):
    docs = har_source.read_har_dir(spark, f"{REF_DATA}/lalibre").localCheckpoint()
    out = run_pipeline(docs, mode="exact")
    return docs, out


@needs_corpus
def test_lalibre_corpus_end_to_end(spark, lalibre_out):
    docs, out = lalibre_out
    assert docs.count() == 216  # reference tests/test.py:14-18 forest corpus
    # quarantine accounted: 063 and 066 are zero-entry HARs — the
    # reference's Har2TreeError path (har2tree.py:244-248), our quarantine
    q = {r.doc_id for r in out["quarantine"].collect()}
    assert q == {"063", "066"}
    jr = out["join_result"]
    stats = out["doc_stats"].toPandas()
    assert len(stats) == 214
    assert (stats.tree_depth >= 1).all()
    # exactly one root per document
    roots = jr.filter(F.col("parent_idx") == -1).groupBy("doc_id").count().toPandas()
    assert len(roots) == 214 and (roots["count"] == 1).all()
    # every live span got exactly one join row (consume-once)
    live = out["features"].filter("span_idx is not null and n_live > 0").count()
    assert jr.count() == live
    # the capture's relations actually fire. The corpus carries 436
    # redirectURL entries; consume-once (the reference follows each
    # redirect once, har2tree.py:912) attaches 239 of them via the
    # redirect arm, the rest being duplicate/root targets.
    kinds = {r["join_kind"]: r["count"] for r in jr.groupBy("join_kind").count().collect()}
    assert kinds.get("redirect", 0) > 200
    assert kinds.get("referer", 0) > 1000
    assert kinds.get("initiator", 0) > 100


@needs_corpus
def test_lalibre_span_sequence_invariant(spark, lalibre_out):
    docs, out = lalibre_out
    seq = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.transform(
            "spans", lambda s: F.struct(s["kind"], s["text"], s["media_ref"], s["offset"])
        ).alias("seq"),
    )
    joined = seq(docs).alias("a").join(seq(out["enriched_documents"]).alias("b"), "doc_id", "full")
    assert joined.filter(~F.col("a.seq").eqNullSafe(F.col("b.seq"))).count() == 0


@needs_corpus
def test_loose_hars_and_forest_shared_keys(spark):
    # the 5 loose captures (buzzfeed/circl/lemonde/libe/nyt) parse and
    # produce referer-linked trees; identical URLs key identically across
    # documents (the forest-join contract) with zero coordination.
    docs = har_source.read_har_dir(spark, REF_DATA, pattern="*.har")
    # recursive lookup picks up lalibre too; keep the loose five
    loose = docs.filter(~F.col("doc_id").contains("/")).localCheckpoint()
    assert loose.count() == 5
    out = run_pipeline(loose, mode="exact")
    assert out["quarantine"].count() == 0
    jr = out["join_result"].toPandas()
    assert set(jr.doc_id.unique()) == {"buzzfeed", "circl", "lemonde", "libe", "nyt"}
    assert (jr.join_kind == "referer").sum() > 100


@needs_corpus
def test_simple_capture_initiators_and_resources(spark):
    # the reference's own pytest target (tests/simple_test.py): parser
    # initiators on every subresource + a real HTML body.
    docs = har_source.read_har_dir(spark, f"{REF_DATA}/simple")
    out = run_pipeline(docs, mode="exact")
    jr = out["join_result"].toPandas().set_index("span_idx")
    assert len(jr) == 6 and (jr.parent_idx == -1).sum() == 1
    # css/script entries carry parser initiators -> initiator (js kind) or
    # referer (css kind) arms, all attached to the root document
    attached = jr[jr.parent_idx == 0]
    assert set(attached.join_kind) <= {"initiator", "referer", "resource"}
    assert len(attached) >= 4


# --- capture sidecars (read_har_captures) ---


def test_final_redirect_ladder():
    # the reference's _search_final_redirect arms (har2tree.py:198-222)
    urls = ["https://a.example/", "https://b.example/page?q=1", "https://c.example/x"]
    # exact match
    assert har_source._resolve_final_redirect("https://a.example/", urls) == (
        "https://a.example/",
        True,
    )
    # splash stripped the query: '{url}?' prefix match rewrites the target
    assert har_source._resolve_final_redirect("https://b.example/page", urls) == (
        "https://b.example/page?q=1",
        True,
    )
    # fragment stripped, then found
    assert har_source._resolve_final_redirect("https://c.example/x#frag", urls) == (
        "https://c.example/x",
        True,
    )
    # fragment stripped, then query stripped, then found
    assert har_source._resolve_final_redirect("https://c.example/x?u=2#f", urls) == (
        "https://c.example/x",
        True,
    )
    # never found
    got, found = har_source._resolve_final_redirect("https://zz.example/?a#b", urls)
    assert not found and got == "https://zz.example/"


def test_rendered_span_idx_chain_walk():
    urls = ["https://a/", "https://b/", "https://c/", "https://b/"]
    # found -> first entry with that URL wins (reference search_nodes[0])
    assert har_source._rendered_span_idx("https://b/", True, urls, [""] * 4) == 1
    # not found -> redirect chain walk from the root: a -> b -> c
    targets = ["https://b/", "https://c/", "", ""]
    assert har_source._rendered_span_idx("", False, urls, targets) == 2
    # cycle guard: a -> b -> a stops at the already-visited node
    targets = ["https://b/", "https://a/", "", ""]
    assert har_source._rendered_span_idx("", False, urls, targets) == 1
    # no entries
    assert har_source._rendered_span_idx("", False, [], []) is None


def _mk_entry(url, status=200, mime="text/html", body="", redirect="", started="2024-01-01T00:00:0"):
    e = {
        "startedDateTime": started,
        "request": {"url": url, "headers": []},
        "response": {
            "status": status,
            "redirectURL": redirect,
            "content": {"mimeType": mime, "text": body},
            "headers": [],
        },
    }
    return e


@pytest.fixture(scope="module")
def capture_dir(tmp_path_factory):
    import json as _json

    root = tmp_path_factory.mktemp("captures")
    a, b, c, d = (
        "https://site.example/",
        "https://site.example/landing",
        "https://site.example/style.css",
        "https://site.example/logo.png",
    )
    har = {
        "log": {
            "entries": [
                _mk_entry(a, status=302, redirect="/landing", started="2024-01-01T00:00:00"),
                _mk_entry(
                    b,
                    body='<html><link href="style.css"></html>',
                    started="2024-01-01T00:00:01",
                ),
                _mk_entry(c, mime="text/css", started="2024-01-01T00:00:02"),
                _mk_entry(d, mime="image/png", started="2024-01-01T00:00:03"),
            ]
        }
    }
    (root / "cap.har").write_text(_json.dumps(har))
    # fragment on the address-bar URL: exercises the strip-and-retry arm
    (root / "cap.last_redirect.txt").write_text(b + "#loaded")
    (root / "cap.cookies.json").write_text(
        _json.dumps([{"name": "sid", "value": "42"}, {"name": "t", "value": "x"}])
    )
    # real FramesResponse shape (reference har2tree.py:91-96): main frame +
    # child iframes — one URL frame with a fragment (resolved against the
    # css entry) nesting a URL-less frame, one local-only frame, and one
    # unresolvable frame whose child must never attach (warn-and-stop)
    (root / "cap.frames.json").write_text(
        _json.dumps(
            {
                "name": "main",
                "url": a,
                "content": "<html>",
                "children": [
                    {
                        "name": "f1",
                        "url": c + "#frag",
                        "content": "<p>one</p>",
                        "children": [{"name": "f2", "content": "<p>nested</p>"}],
                    },
                    {"name": "f3", "url": "about:blank", "content": "<p>local</p>"},
                    {
                        "name": "f4",
                        "url": "https://missing.example/",
                        "content": "<p>miss</p>",
                        "children": [{"name": "f5", "url": d, "content": "x"}],
                    },
                ],
            }
        )
    )
    (root / "cap.data").write_bytes(b"PAYLOAD")
    (root / "cap.data.filename").write_text("invoice.pdf")
    # rendered html references the img entry (in-universe -> merged into the
    # rendered node's span) and an off-universe URL (ignored)
    (root / "cap.html").write_text(
        '<html><img src="logo.png"><img src="https://other.example/x.png"></html>'
    )
    # a capture with no sidecars at all -> NULL columns, same schema
    (root / "bare.har").write_text(
        _json.dumps({"log": {"entries": [_mk_entry(a, started="2024-01-01T00:00:00")]}})
    )
    # orphan sidecars without a HAR -> no row (the reference cannot build a
    # HarFile without the HAR)
    (root / "ghost.html").write_text("<html></html>")
    (root / "ghost.cookies.json").write_text("[]")
    return str(root), (a, b, c, d)


def test_capture_sidecars_end_to_end(spark, capture_dir):
    root, (a, b, c, d) = capture_dir
    docs = har_source.read_har_captures(spark, root).toPandas().set_index("doc_id")
    assert set(docs.index) == {"cap", "bare"}  # ghost produced no row

    cap = docs.loc["cap"]
    # final redirect: fragment stripped, exact match on the landing entry
    assert cap["final_redirect_found"] and cap["final_redirect_url"] == b
    assert cap["final_redirect_key"] == har_source.url_key(b)
    assert cap["rendered_span_idx"] == 1  # the landing entry, by search
    assert list(cap["initial_cookies"]) == ["sid=42", "t=x"]
    assert cap["downloaded_filename"] == "invoice.pdf"
    import hashlib as _h

    assert cap["downloaded_hex_sha256"] == _h.sha256(b"PAYLOAD").hexdigest()
    assert cap["downloaded_bytes"] == len(b"PAYLOAD")
    assert cap["n_frames"] == 3 and "content" in cap["frames_json"]
    assert "logo.png" in cap["rendered_html"]
    # rendered-resource merge: the rendered node's span gained the logo key
    # (add_rendered_features, nodes.py:87-109), not the off-universe URL
    spans = list(cap["spans"])
    rendered_tokens = spans[1]["text"].split(" ")
    assert har_source.url_key(d) in rendered_tokens
    # the css key was already there from the body parse; no duplicate
    assert rendered_tokens.count(har_source.url_key(c)) == 1
    assert rendered_tokens.count(har_source.url_key(d)) == 1

    bare = docs.loc["bare"]
    for col in (
        "final_redirect_url",
        "final_redirect_key",
        "rendered_html",
        "initial_cookies",
        "downloaded_filename",
        "downloaded_hex_sha256",
        "frames_json",
    ):
        assert bare[col] is None or bare[col] != bare[col]  # null/NaN
    # rendered_span_idx defaults to the chain-walk root even with no sidecars
    assert bare["rendered_span_idx"] == 0

    # the enriched documents still run the unchanged pipeline, and the
    # rendered-only resource becomes a resource-join row on the rendered node
    out = run_pipeline(
        har_source.read_har_captures(spark, root).select("doc_id", "spans"),
        mode="exact",
    )
    jr = out["join_result"].toPandas()
    capjr = jr[jr.doc_id == "cap"].set_index("span_idx")
    assert (capjr.loc[3, "parent_idx"], capjr.loc[3, "join_kind"]) in {
        (1, "resource"),
        (1, "referer"),
    }


@needs_corpus
def test_wired_sidecars_without_har(spark):
    # the reference's wired/ dir ships rendered html + screenshot + meta
    # but no .har: no capture row, and the scan does not choke on the
    # 1.7MB png (it is excluded at listing time by the role glob)
    docs = har_source.read_har_captures(spark, f"{REF_DATA}/wired")
    assert docs.count() == 0


@needs_corpus
def test_captures_reader_matches_plain_reader(spark):
    # with no sidecars present the capture reader degrades to exactly
    # read_har_dir: same doc_ids, same span sequences
    plain = har_source.read_har_dir(spark, f"{REF_DATA}/simple").toPandas()
    caps = har_source.read_har_captures(spark, f"{REF_DATA}/simple").toPandas()
    assert set(caps.columns) >= set(plain.columns)
    p = plain.set_index("doc_id")["spans"].map(list)
    q = caps.set_index("doc_id")["spans"].map(list)
    assert p.to_dict() == q.to_dict()


def test_attach_frames_walk(spark, capture_dir):
    # the reference's _load_iframes walk (har2tree.py:438-485, entry loop
    # 749-753) over the capture fixture's frame tree
    import hashlib as _h

    from har2tree_spark.operators import frames as frames_op
    from har2tree_spark.operators import cascade, parse

    root, (a, b, c, d) = capture_dir
    caps = har_source.read_har_captures(spark, root)
    feats = parse.parse_documents(caps.select("doc_id", "spans"))
    tree = cascade.resolve_exact(feats)
    got = (
        frames_op.attach_frames(caps, feats, tree)
        .toPandas()
        .set_index(["doc_id", "span_idx"])
        .sort_index()
    )
    dg = lambda s: _h.sha256(s.encode()).hexdigest()  # noqa: E731
    # f1 (url c#frag) resolves fragment-stripped to the css span (idx 2) in
    # the rendered node's subtree; its URL-less child f2 attaches to the
    # SAME node (the new current)
    assert list(got.loc[("cap", 2), "frames_hex_sha256"]) == [dg("<p>one</p>"), dg("<p>nested</p>")]
    assert got.loc[("cap", 2), "n_rendered_frames"] == 2
    assert bool(got.loc[("cap", 2), "iframe"])
    # f3 (about:blank -> local-only) attaches to the rendered node itself
    assert list(got.loc[("cap", 1), "frames_hex_sha256"]) == [dg("<p>local</p>")]
    # f4 is unresolvable -> warn-and-stop: neither it nor its child f5
    # (whose URL d IS in the tree) attaches anywhere
    assert set(got.index) == {("cap", 1), ("cap", 2)}


def test_capture_metadata_columns(spark, capture_dir):
    # HarFile metadata surface (har2tree.py:223-313) on the capture reader
    root, (a, b, c, d) = capture_dir
    docs = har_source.read_har_captures(spark, root).toPandas().set_index("doc_id")
    cap = docs.loc["cap"]
    assert cap["n_entries"] == 4
    assert cap["initial_title"] == "!! No title found !!"  # no pages block
    assert cap["initial_start_time"] == "2024-01-01T00:00:00"
    assert cap["root_url_key"] == har_source.url_key(a)
    assert cap["root_referrer_key"] is None and cap["root_user_agent"] is None
    # a 302 opens the capture and the address bar holds the landing URL
    assert bool(cap["has_initial_redirects"])
    assert list(cap["initial_redirect_keys"]) == [har_source.url_key(b)]
    assert not cap["need_tree_redirects"]
    bare = docs.loc["bare"]
    # metadata is sidecar-independent; redirect flags need last_redirect
    assert bare["n_entries"] == 1 and bare["root_url_key"] == har_source.url_key(a)
    assert bare["has_initial_redirects"] is None or bare["has_initial_redirects"] != bare["has_initial_redirects"]


def test_initial_redirects_arms():
    # referer arm: no redirectURL on the previous entry, but the next
    # entry's Referer matches the previous response url (har2tree.py:291-295)
    e0 = _mk_entry("https://x/", started="t0")
    e0["response"]["url"] = "https://x/"
    e1 = _mk_entry("https://x/next", started="t1")
    e1["request"]["headers"] = [{"name": "Referer", "value": "https://x/"}]
    chain, need_tree = har_source._initial_redirects(
        [e0, e1], ["https://x/", "https://x/next"], "https://x/next"
    )
    assert chain == ["https://x/next"] and not need_tree
    # fallback arm: chain cannot be reconstructed -> [final], need_tree
    e2 = _mk_entry("https://x/other", started="t1")
    chain, need_tree = har_source._initial_redirects(
        [e0, e2], ["https://x/", "https://x/other"], "https://y/elsewhere"
    )
    assert chain == ["https://y/elsewhere"] and need_tree


def test_har_adapter_fuzz_totality():
    """Never-throws fuzz for har_to_doc (+ sidecars) and the frames walk:
    arbitrary malformed HAR/sidecar/frame structures must produce a
    schema-stable row, mirroring the reference's pervasive try/except +
    .get() tolerance for broken captures."""
    import json as _json
    import random

    from har2tree_spark.operators.frames import _walk_frames

    rng = random.Random(4242)
    junk = [None, "", "x", 0, -1, 3.5, True, [], {}, {"a": 1}, [1, 2], "k1"]

    def rand_scalar():
        return rng.choice(junk)

    def rand_entry():
        e = {}
        if rng.random() < 0.9:
            e["startedDateTime"] = rng.choice(["t", "", None, 5, "2024-01-01"])
        if rng.random() < 0.9:
            e["request"] = rng.choice(
                [
                    {},
                    {"url": rng.choice(["https://a/", "", None, "rel", "%zz", "a b"])},
                    {"url": "https://a/x", "headers": rng.choice([[], None, [{"name": "Referer", "value": "https://a/"}], [{"bad": 1}]])},
                    rand_scalar(),
                ]
            )
        if rng.random() < 0.9:
            e["response"] = rng.choice(
                [
                    {},
                    {"status": rng.choice([0, 200, -1, None, "x"]), "redirectURL": rng.choice(["", "/r", "http://b/", None, 7])},
                    {"content": rng.choice([{}, {"mimeType": rng.choice(["text/html", None, 9]), "text": rng.choice(["<a href=x>", "", None]), "encoding": rng.choice([None, "base64", "bogus"])}, rand_scalar()])},
                    rand_scalar(),
                ]
            )
        if rng.random() < 0.3:
            e["_initiator"] = rng.choice(
                [{}, {"url": "https://i/"}, {"stack": {"callFrames": [{"url": "https://f/"}, {}]}}, {"stack": {"callFrames": rand_scalar()}}, rand_scalar()]
            )
        return e

    def rand_frame(depth=0):
        f = {}
        if rng.random() < 0.8:
            f["content"] = rng.choice(["<p>", "", None, 5])
        if rng.random() < 0.8:
            f["url"] = rng.choice(["https://a/x", "about:blank", "data:x", "", None, 3, "https://a/x#f"])
        if depth < 2 and rng.random() < 0.5:
            f["children"] = [rand_frame(depth + 1) for _ in range(rng.randrange(0, 3))]
        return rng.choice([f, rand_scalar()]) if rng.random() < 0.15 else f

    expected_keys = None
    for trial in range(300):
        har = rng.choice(
            [
                {},
                {"log": rand_scalar()},
                {"log": {"entries": rand_scalar()}},
                {"log": {"entries": [rand_entry() for _ in range(rng.randrange(0, 6))], "pages": rng.choice([[], None, [{"title": rand_scalar()}], rand_scalar()])}},
            ]
        )
        # entries must at least be sortable; the loader guarantees a list
        if not isinstance(har.get("log", {}), dict) or not isinstance(
            har.get("log", {}).get("entries", []), list
        ):
            har = {"log": {"entries": []}}
        sidecars = {
            k: v
            for k, v in {
                "last_redirect": rng.choice([None, b"https://a/x", b"", b"%zz", "chrome://x".encode()]),
                "cookies": rng.choice([None, b"[]", b"{bad", _json.dumps([{"name": "a", "value": 1}, 5]).encode()]),
                "frames": rng.choice([None, b"{}", b"[1]", b"{bad", _json.dumps(rand_frame()).encode()]),
                "data": rng.choice([None, b"", b"\x00\xff"]),
                "data_filename": rng.choice([None, b"f", b""]),
                "html": rng.choice([None, b"<img src=x>", b"\xff\xfe", b""]),
            }.items()
            if v is not None
        }
        row = har_source.har_to_doc(f"f{trial}", har, sidecars)
        if expected_keys is None:
            expected_keys = set(row)
        assert set(row) == expected_keys  # schema-stable under any input
        assert isinstance(row["spans"], list)
        for s in row["spans"]:
            assert set(s) == {"kind", "text", "media_ref", "offset"}
        # frames walk totality over the same junk
        keys = {i: f"k{i}" for i in range(len(row["spans"]))}
        children = {i: [i + 1] for i in range(len(row["spans"]) - 1)}
        try:
            frames = _json.loads(row.get("frames_json") or "null")
        except ValueError:
            frames = None
        if isinstance(frames, dict):
            out = _walk_frames(frames, 0 if keys else None, keys, children)
            assert all(isinstance(v, list) for v in out.values())


def test_captures_reader_gzip_har(spark, capture_dir, tmp_path):
    # a gzipped HAR with sidecars keys the same capture root and produces
    # the same row as the plain-file capture (har2tree.py:108-111 gz arm)
    import gzip as _gzip
    import shutil

    root, _ = capture_dir
    gzdir = tmp_path / "gz"
    gzdir.mkdir()
    with open(f"{root}/cap.har", "rb") as fh:
        (gzdir / "cap.har.gz").write_bytes(_gzip.compress(fh.read()))
    for side in ("cap.last_redirect.txt", "cap.cookies.json", "cap.html"):
        shutil.copy(f"{root}/{side}", gzdir / side)
    got = (
        har_source.read_har_captures(spark, str(gzdir)).toPandas().set_index("doc_id")
    )
    want = (
        har_source.read_har_captures(spark, root).toPandas().set_index("doc_id")
    )
    assert list(got.index) == ["cap"]
    g, w = got.loc["cap"], want.loc["cap"]
    assert list(g["spans"]) == list(w["spans"])
    for col in ("final_redirect_key", "rendered_span_idx", "initial_cookies", "n_entries", "root_url_key", "initial_redirect_keys"):
        gv, wv = g[col], w[col]
        assert (list(gv) if hasattr(gv, "__len__") and not isinstance(gv, str) else gv) == (
            list(wv) if hasattr(wv, "__len__") and not isinstance(wv, str) else wv
        )


# --- round-7: totality guard, dedup winner, redirect-ladder + JS/meta arms ---


def test_load_har_bytes_safe_totality():
    import gzip as _gzip

    good = {"log": {"entries": []}}
    blob = _json_bytes(good)
    assert har_source._load_har_bytes_safe(blob) == good
    assert har_source._load_har_bytes_safe(_gzip.compress(blob)) == good
    # corrupt JSON, truncated gzip, gzip-magic garbage, non-object top level
    assert har_source._load_har_bytes_safe(b'{"log": {"entr') == {}
    assert har_source._load_har_bytes_safe(_gzip.compress(blob)[:10]) == {}
    assert har_source._load_har_bytes_safe(b"\x1f\x8bnot really gzip") == {}
    assert har_source._load_har_bytes_safe(b"[1, 2, 3]") == {}


def _json_bytes(obj) -> bytes:
    import json as _json

    return _json.dumps(obj).encode()


def test_corrupt_har_quarantined_not_fatal(spark, tmp_path):
    """One poisoned file must neither fail the batch task nor (same
    closure, _docs_from_binary) wedge the streaming file source on
    checkpoint replay: it lands as an empty-spans quarantine row."""
    import gzip as _gzip
    import json as _json

    root = tmp_path / "mixed"
    root.mkdir()
    good = {"log": {"entries": [_mk_entry("https://ok.example/", started="2024-01-01T00:00:00")]}}
    (root / "good.har").write_text(_json.dumps(good))
    (root / "bad.har").write_text('{"log": {"entr')
    (root / "trunc.har.gz").write_bytes(_gzip.compress(_json.dumps(good).encode())[:12])
    docs = (
        har_source.read_har_dir(spark, str(root), pattern="*.{har,har.gz}")
        .toPandas()
        .set_index("doc_id")
    )
    assert set(docs.index) == {"good", "bad", "trunc"}
    assert len(docs.loc["good", "spans"]) == 1
    assert len(docs.loc["bad", "spans"]) == 0  # S3 quarantine row
    assert len(docs.loc["trunc", "spans"]) == 0
    # the captures reader takes the same guard
    caps = har_source.read_har_captures(spark, str(root)).toPandas().set_index("doc_id")
    assert caps.loc["bad", "n_entries"] == 0


def test_duplicate_har_and_gz_prefers_plain(spark, tmp_path):
    """foo.har + foo.har.gz share the capture key: the uncompressed .har is
    the deterministic winner (one row, never a nondeterministic drop)."""
    import gzip as _gzip
    import json as _json

    root = tmp_path / "dup"
    root.mkdir()
    plain = {"log": {"entries": [
        _mk_entry("https://p.example/", started="2024-01-01T00:00:00"),
        _mk_entry("https://p.example/2", started="2024-01-01T00:00:01"),
    ]}}
    other = {"log": {"entries": [_mk_entry("https://gz.example/", started="2024-01-01T00:00:00")]}}
    (root / "foo.har").write_text(_json.dumps(plain))
    (root / "foo.har.gz").write_bytes(_gzip.compress(_json.dumps(other).encode()))
    caps = har_source.read_har_captures(spark, str(root)).toPandas()
    assert len(caps) == 1
    assert caps.iloc[0]["doc_id"] == "foo"
    assert caps.iloc[0]["n_entries"] == 2  # the .har content, not the .gz


def test_js_meta_redirect_feeds_rendered_walk():
    """ADVICE r6: the rendered-node best-guess walk follows JS location.*
    and meta-refresh redirects (the reference's node 'redirect' feature
    sources, nodes.py:577-590), not just HTTP redirectURL."""
    a, b, c = "https://a.example/", "https://a.example/landing", "https://a.example/end"
    har = {"log": {"entries": [
        _mk_entry(a, body="<script>window.location = 'landing';</script>",
                  started="2024-01-01T00:00:00"),
        _mk_entry(b, body='<meta http-equiv="refresh" content="0;url=end">',
                  started="2024-01-01T00:00:01"),
        _mk_entry(c, body="<p>done</p>", started="2024-01-01T00:00:02"),
    ]}}
    row = har_source.har_to_doc("jsmeta", har, sidecars={})
    # no last_redirect sidecar -> best-guess walk: a -js-> landing -meta-> end
    assert row["rendered_span_idx"] == 2
    # the spans stay html (resource/referer edges survive, like the
    # reference's non-early-returning redirect arm)
    assert [s["kind"] for s in row["spans"]] == ["html", "html", "html"]
    # an out-of-universe JS target does not count (nodes.py membership gate)
    har2 = {"log": {"entries": [
        _mk_entry(a, body="<script>location.href = 'https://elsewhere.example/';</script>",
                  started="2024-01-01T00:00:00"),
        _mk_entry(b, started="2024-01-01T00:00:01"),
    ]}}
    row2 = har_source.har_to_doc("jsmiss", har2, sidecars={})
    assert row2["rendered_span_idx"] == 0


def test_rendered_merge_gate_is_empty_response_body():
    """ADVICE r6: the rendered-html merge gates on the reference's
    empty_response (no response content TEXT, nodes.py:541-546), not on a
    0 status: a 2xx rendered node with an empty body gets no merge."""
    a, b = "https://m.example/", "https://m.example/pic.png"
    har = {"log": {"entries": [
        _mk_entry(a, body="", started="2024-01-01T00:00:00"),
        _mk_entry(b, mime="image/png", started="2024-01-01T00:00:01"),
    ]}}
    html = '<html><img src="pic.png"></html>'
    row = har_source.har_to_doc("gate", har, sidecars={"html": html})
    # rendered node = span 0 (no redirects): 200 status but empty body ->
    # merge skipped, span text stays the bare key
    assert row["rendered_span_idx"] == 0
    assert row["spans"][0]["text"] == har_source.url_key(a)
    # same capture with a body -> the merge fires
    har_body = {"log": {"entries": [
        _mk_entry(a, body="<p>x</p>", started="2024-01-01T00:00:00"),
        _mk_entry(b, mime="image/png", started="2024-01-01T00:00:01"),
    ]}}
    row2 = har_source.har_to_doc("gate2", har_body, sidecars={"html": html})
    assert har_source.url_key(b) in row2["spans"][0]["text"].split()


def test_adapter_redirect_ladder_arms():
    """The adapter resolves real redirect targets with the FULL rebuild_url
    ladder (helper.py:130-201), not just urljoin + trailing slash: one
    redirect entry per ladder arm, each must key its repaired target."""
    cases = [
        # (base entry URL, raw redirectURL, target URL present in the doc)
        ("https://h.example/x", "y?", "https://h.example/y?"),          # '?' re-append
        ("https://h.example/x", "https://h.example:443/z", "https://h.example/z"),  # :443 strip
        ("http://h.example/x", "http://h.example:80/w", "http://h.example/w"),      # :80 strip
        ("https://h.example/p#frag", "https://h.example/q", "https://h.example/q#frag"),  # fragment inherit
        ("https://h.example/path/sub", "https://h.example/path/./blah.js",
         "https://h.example/path/blah.js"),                              # /./ collapse
        ("https://h.example/subdir", "dest", "https://h.example/dest/"),  # trailing-slash re-add
    ]
    for i, (base, raw, target) in enumerate(cases):
        har = {"log": {"entries": [
            _mk_entry(base, status=302, redirect=raw, started="2024-01-01T00:00:00"),
            _mk_entry(target, started="2024-01-01T00:00:01"),
        ]}}
        row = har_source.har_to_doc(f"ladder{i}", har)
        assert row["spans"][0]["kind"] == "redirect"
        assert row["spans"][0]["media_ref"] == har_source.url_key(target), (base, raw, target)


def test_walk_frames_depth_cap():
    """A hostile/corrupt deeply-nested frames.json stops at the 64-level
    guard instead of raising RecursionError through the Arrow task."""
    from har2tree_spark.operators.frames import _walk_frames

    nested: dict = {"content": "leaf"}
    for _ in range(200):
        nested = {"content": "x", "children": [nested]}
    frames = {"children": [nested]}
    out = _walk_frames(frames, 0, {0: "k1"}, {})
    # every URL-less frame attaches to the rendered node; the cap bounds it
    assert sum(len(v) for v in out.values()) == 64


def test_rendered_urls_column(spark, tmp_path):
    """F28 urls_in_rendered_page as a first-class capture column: ALL
    sanitized rendered URLs, sorted (reference nodes.py:661-701) — not just
    the universe-resolving keys the span merge keeps."""
    a = "https://rp.example/"
    har = {"log": {"entries": [
        _mk_entry(a, body="<p>x</p>", started="2024-01-01T00:00:00"),
    ]}}
    html = (
        '<html><body>'
        '<a href="https://z.example/b?b=2&a=1">z</a>'
        '<area href="/rel#frag">'
        '<a href="https://z.example/b?b=2&a=1">dup</a>'
        '<a href="mailto:no@where.example">m</a>'
        # non-resource tag with an http attr -> collected
        '<div data-target="http://plain.example/p">d</div>'
        # resource tags are NOT part of this surface
        '<img src="https://img.example/i.png">'
        '<script src="https://js.example/s.js"></script>'
        "</body></html>"
    )
    root = tmp_path / "rp"
    root.mkdir()
    import json as _json

    (root / "rp.har").write_text(_json.dumps(har))
    (root / "rp.html").write_text(html)
    row = har_source.read_har_captures(spark, str(root)).toPandas().iloc[0]
    assert list(row["rendered_urls"]) == [
        "http://plain.example/p",
        "https://rp.example/rel#frag",
        "https://z.example/b?a=1&b=2",
    ]
    # pure-function form matches
    assert har_source.rendered_page_urls(html, a) == list(row["rendered_urls"])


def test_packed_ingest_row_identical(spark, tmp_path):
    """r7 VERDICT #8: read_har_packed over pack_captures.py bundles is
    row-identical to read_har_dir over the unpacked tree — doc_ids from
    the member's root-relative archive name, gzip members included, and
    the bundle boundary (3 per bundle here) never splits/merges docs."""
    import gzip
    import json as _json

    from tools.pack_captures import pack_dir

    src = tmp_path / "src"
    sub = src / "nested"
    sub.mkdir(parents=True)
    for i in range(7):
        har = {
            "log": {
                "entries": [
                    {
                        "startedDateTime": f"2024-01-01T00:00:0{i}.000Z",
                        "request": {"url": f"http://h{i}.example/"},
                        "response": {"status": 200, "content": {"text": "x"}},
                    }
                ]
            }
        }
        d = sub if i % 2 else src
        (d / f"cap{i}.har").write_text(_json.dumps(har))
    # one gzip'd capture + one corrupt file (quarantine arm)
    (src / "gz.har.gz").write_bytes(
        gzip.compress(_json.dumps({"log": {"entries": []}}).encode())
    )
    (src / "bad.har").write_bytes(b"\x00not json")

    dest = tmp_path / "packed"
    n = pack_dir(str(src), str(dest), files_per_bundle=3)
    assert n == 3  # 9 files / 3 per bundle

    plain = sorted(
        (r["doc_id"], str(r["spans"]))
        for r in har_source.read_har_dir(
            spark, str(src), pattern="*.{har,har.gz}"
        ).collect()
    )
    packed = sorted(
        (r["doc_id"], str(r["spans"]))
        for r in har_source.read_har_packed(spark, str(dest)).collect()
    )
    assert len(plain) == 9 and packed == plain
