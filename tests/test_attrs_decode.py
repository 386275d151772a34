"""attrs family (W5/A7/F23-25/F6-7), decode dispatch (F9/F10/F14),
sidecar scan (S2), header lookup + ref cleanup (F8/F16/P4)."""

from pyspark.sql import functions as F

from har2tree_spark import functions as HF
from har2tree_spark.datagen import gen_docs
from har2tree_spark.operators import attrs, decode
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.schema import DOCUMENTS_SCHEMA
from har2tree_spark.sources.sidecar import with_sidecar


def _feats(spark, n=100, seed=13):
    docs = spark.createDataFrame(gen_docs(seed, n), DOCUMENTS_SCHEMA)
    return parse_documents(docs)


def test_pages_root_fill_covers_every_span(spark):
    f = _feats(spark).withColumn(
        "coarse_cell",
        F.when(~F.col("kind").isin("img", "js"), F.col("coarse_cell")),
    )
    got = attrs.pages_root_fill(f)
    n_live = f.filter(F.col("n_live") > 0).count()
    assert got.count() == n_live
    assert got.filter(F.col("page_cell").isNull()).count() == 0
    # every page root is a member of its own page
    roots = got.filter(F.col("span_idx") == F.col("page_root_idx"))
    assert roots.select("doc_id", "page_cell").distinct().count() == \
        got.select("doc_id", "page_cell").distinct().count()


def test_resources_hashes_sorted_distinct(spark):
    got = attrs.resources_hashes(_feats(spark)).toPandas()
    for _, r in got.head(50).iterrows():
        hs = r.resources_hashes.split(",") if r.resources_hashes else []
        assert len(hs) == r.n_hashes == len(set(hs))
        assert hs == sorted(hs)


def test_marker_cross_zone_flag(spark):
    m = attrs.marker_extract(_feats(spark))
    pdf = m.toPandas()
    assert (pdf.cross_zone == (pdf.marker_cell != pdf.coarse_cell)).all() if "coarse_cell" in pdf else True
    r = attrs.marker_rollup(m).toPandas()
    assert (r.n_cross_zone <= r.n_markers).all()


def test_key_class_arms(spark):
    rows = [("d", 0, 10, 1, "k12"), ("d", 1, 10, 1, "12"),
            ("d", 2, 10, 1, "xn--21k"), ("d", 3, 10, 1, "WHAT"),
            ("d", 4, 10, 1, "")]
    f = spark.createDataFrame(
        rows, "doc_id string, span_idx int, offset int, n_live int, media_ref string"
    )
    got = {r.span_idx: (r.ref_class, r.decoded_ref)
           for r in attrs.key_class(f).collect()}
    assert got[0] == ("canonical", "k12")
    assert got[1] == ("numeric", "k12")
    assert got[2] == ("encoded", "k12")  # strip xn--, reverse '21k' -> 'k12'
    assert got[3] == ("other", "what")
    assert got[4] == ("none", "")


def test_decode_dispatch_roundtrip(spark):
    import base64 as b64mod

    texts = ["hello world", "k1 k2 k3"]
    rows = []
    for i, t in enumerate(texts):
        enc = b64mod.b64encode(t.encode()).decode()
        rows += [
            (f"d{i}", 0, f"data:text/plain;base64,{enc}", t, "data_uri_b64"),
            (f"d{i}", 1, enc, t, "base64"),
            (f"d{i}", 2, enc.rstrip("="), t,
             "base64" if len(enc.rstrip("=")) % 4 == 0 else "base64_padfix"),
            (f"d{i}", 3, t.encode().hex(), t, "hex"),
            (f"d{i}", 4, '{"v":1}', '{"v":1}', "json"),
            (f"d{i}", 5, "p " + t, "p " + t, "plain"),
            (f"d{i}", 6, "", "", "empty"),
        ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        "doc_id string, span_idx int, payload string",
    )
    got = decode.decode_dispatch(df).collect()
    want = {(r[0], r[1]): (r[3], r[4]) for r in rows}
    for r in got:
        wdec, wkind = want[(r.doc_id, r.span_idx)]
        assert r.decode_kind == wkind, (r.payload, r.decode_kind, wkind)
        assert r.decoded == wdec, (r.payload, r.decoded, wdec)
        assert r.decode_ok


def test_decode_unfixable_padding_keeps_raw(spark):
    # length % 4 == 1: no padding fixes it; the reference keeps the raw
    # text on binascii.Error (nodes.py:290-294) — so does the engine now
    df = spark.createDataFrame(
        [("d", 0, "abcde")], "doc_id string, span_idx int, payload string"
    )
    r = decode.decode_dispatch(df).collect()[0]
    assert r.decode_kind == "plain" and r.decode_ok and r.decoded == "abcde"


def test_decode_partial_padding_not_repadded(spark):
    # 'QQQQQ=' (5 data chars + existing '='): repadding would build the
    # invalid 'QQQQQ===' — the padfix arm must not fire. Under shape
    # dispatch a k=v string is a form pair (key 'QQQQQ', empty value);
    # the mimetype-driven reference would base64-retry instead —
    # documented trade-off in decode.py
    df = spark.createDataFrame(
        [("d", 0, "QQQQQ="), ("d", 1, "QQ=Q")],
        "doc_id string, span_idx int, payload string",
    )
    got = {r.span_idx: r for r in decode.decode_dispatch(df).collect()}
    assert got[0].decode_kind == "form_urlencoded" and got[0].decode_ok
    assert got[0].decoded == "QQQQQ="
    assert got[1].decode_kind == "form_urlencoded" and got[1].decoded == "QQ=Q"


def test_decode_new_arms(spark):
    mp = (
        '--bnd\ncontent-disposition: form-data; name="a"\n\nhello there'
        '\n--bnd\ncontent-disposition: form-data; name="b"\n\nsecond part'
        "\n--bnd--"
    )
    rows = [
        ("d", 0, mp, "multipart", "hello there\nsecond part", True),
        # default full percent-decode (r6): %41 -> 'A' (parse_qs value
        # semantics; the legacy '+'-only behavior is flag-gated OFF now)
        ("d", 1, "a=1&b=hello+world&c=%41", "form_urlencoded",
         "a=1&b=hello world&c=A", True),
        # invalid escape '%4x' -> form gate fails -> plain
        ("d", 2, "a=%4x", "plain", "a=%4x", True),
        ("d", 3, '{"a":1}{"b":2}', "json_stream", '[{"a":1},{"b":2}]', True),
        ("d", 4, '{"a":1}', "json", '{"a":1}', True),
        ("d", 5, decode.GZIP_GARBLED_PREFIX + "junk", "gzip_garbled",
         decode.GZIP_GARBLED_PREFIX + "junk", False),
        # boundary line but no blank-line separator: multipart with 0 parts
        ("d", 6, "--bnd\nnothing here", "multipart", "", False),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        "doc_id string, span_idx int, payload string",
    )
    got = {r.span_idx: r for r in decode.decode_dispatch(df).collect()}
    for _, i, _, wkind, wdec, wok in rows:
        r = got[i]
        assert r.decode_kind == wkind, (i, r.decode_kind, wkind)
        assert r.decoded == wdec, (i, r.decoded, wdec)
        assert r.decode_ok == wok, (i, r.decode_ok, wok)
        assert r.decoded_size == (0 if wdec == "" else len(wdec))


def test_sidecar_never_fans_out(spark):
    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    side = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "doc_id long, tag string"
    )
    got = with_sidecar(docs, side).orderBy("doc_id").collect()
    assert len(got) == 3
    assert got[0].tag == "a"  # duplicate sidecar keys reduce to min struct
    assert got[2].tag is None


def test_header_lookup_and_ref_cleanup(spark):
    df = spark.createDataFrame([("x",)], "k string")
    headers = F.array(
        F.struct(F.lit("Content-Type").alias("name"), F.lit("text/html").alias("value")),
        F.struct(F.lit("content-type").alias("name"), F.lit("dup").alias("value")),
    )
    assert df.select(HF.header_lookup(headers, "CONTENT-TYPE").alias("v")).collect()[0].v == "text/html"
    assert df.select(HF.header_lookup(headers, "missing").alias("v")).collect()[0].v is None

    cases = [('"k1"', "k1", None), ("about:blank", None, "local_only"),
             ("k2 junk", "k2", None), ("", None, "empty"), ("k3", "k3", None)]
    cdf = spark.createDataFrame([(c[0],) for c in cases], "r string")
    clean, reason = HF.ref_cleanup(F.col("r"))
    got = cdf.select(F.col("r"), clean.alias("c"), reason.alias("why")).collect()
    for row, (_, wc, ww) in zip(got, cases):
        assert row.c == wc and row.why == ww, (row.r, row.c, row.why)


def test_decode_dispatch_never_throws_fuzz(spark):
    """Totality invariant: under ANSI mode the 18-kind cascade must decode
    ANY string without throwing, return a kind from the closed set, and
    keep (decoded, decode_ok, decoded_size) non-null with size==0 iff
    decoded=='' (the reference wraps every arm in try/except; this engine
    proves the same property by regexp-gating every decoder)."""
    import random
    import string

    rng = random.Random(1234)
    alphabet = (
        string.ascii_letters + string.digits + "+/=%&.~-_ \t{}[]<>\"'\\:;,()\n$"
    )
    payloads = ["".join(rng.choices(alphabet, k=rng.randrange(0, 40))) for _ in range(500)]
    payloads += [
        "", "=", "==", "===", "%", "%%", "%4", "%4x", "a=%", "k=",
        "data:", "data:;base64,", "data:;base64,!!!", "data:text/plain,x",
        "--\n", "--b\n", "--b\n\n\n--", "--bnd\nx\n\ny\n--bnd--",
        "{", "}{", "[", "]", "<", "<>", "<?xml version=\"1.0\"?><r/>",
        "QQ=Q", "QQ=", "QQQQQ=", "abcde", "deadbeef", "DEADBEEF0", "\x1f\ufffd\x08",
        "\x00\x01", "a&b", "a=b&c", "k=v&k=v", "{\"a\":1}{", "ab+cd",
        # blackbox + trailpad arm grammars and their near-misses
        "$ion_1_0 {a:1}", "$ion", "$ion_", "$notion",
        "data:application/x-amzn-ion,{a:1}",
        "data:application/x-amzn-ion;base64,",
        "data:application/dns-message;base64,QUJD",
        "data:application/dns-message;base64,!!!",
        "data:application/x-protobuf,xyz", "data:application/proto,",
        "data:application/x-protobufferX,x", "data:application/protox,x",
        "QUJD=", "QUJDQQ=", "-_8=", "ab-_=", "ab-_====", "=QUJD", "Q=UJD",
    ]
    kinds = {
        "empty", "gzip_garbled", "ion", "dns_wire", "protobuf",
        "data_uri_b64", "data_uri_raw", "multipart",
        "hex", "base64", "base64_padfix", "base64_trailpad", "base64_url",
        "form_urlencoded", "json_stream", "json", "xml", "plain",
    }
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "span_idx int, payload string"
    )
    # the form arm's try_url_decode null branch must be absorbed by the
    # coalesce
    rows = decode.decode_dispatch(df).collect()  # must not raise
    assert len(rows) == len(payloads)
    for r in rows:
        assert r.decode_kind in kinds, (r.payload, r.decode_kind)
        assert r.decoded is not None and r.decode_ok is not None
        assert r.decoded_size is not None
        assert (r.decoded_size == 0) == (r.decoded == ""), (
            r.payload,
            r.decoded,
        )


def test_decode_urlsafe_base64(spark):
    """Reference nodes.py:126-128: '-'/'_' altchars emulate urlsafe b64.
    'az8_aw==' is urlsafe for b'k??k'; the pad-free form re-pads first."""
    rows = [
        ("d", 0, "az8_aw==", "base64_url", "k??k"),
        ("d", 1, "az8_aw", "base64_url", "k??k"),  # pad-fix retry
        # '-'/'_'-free strings stay on the standard arms
        ("d", 2, "az8law==", "base64", None),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        "doc_id string, span_idx int, payload string",
    )
    got = {r.span_idx: r for r in decode.decode_dispatch(df).collect()}
    assert got[0].decode_kind == "base64_url" and got[0].decoded == "k??k"
    assert got[1].decode_kind == "base64_url" and got[1].decoded == "k??k"
    assert got[2].decode_kind == "base64"
    assert all(got[i].decode_ok for i in range(3))


def test_decode_blackbox_and_trailpad_arms(spark):
    """r4 VERDICT task #3: ion/dns-wire/protobuf blackbox tags (reference
    nodes.py:361-433 — tag + keep-raw after the transport layer) and the
    single-trailing-pad repair class (nodes.py:122-124: blind b'===' append
    decodes 'QUJD=' but not 'QQ=' / 'QUJDQQ=')."""
    cases = [
        # (payload, kind, ok, decoded)
        ("$ion_1_0 {a:1}", "ion", False, "$ion_1_0 {a:1}"),
        ("data:application/x-amzn-ion,{a:1}", "ion", False, "{a:1}"),
        ("data:application/dns-message;base64,QUJD", "dns_wire", False, "ABC"),
        ("data:application/dns-message;base64,!!!", "dns_wire", False, "!!!"),
        ("data:application/x-protobuf,xyz", "protobuf", False, "xyz"),
        ("data:application/grpc-web+proto;base64,QUJD", "protobuf", False, "ABC"),
        # near-miss mimetypes stay on the generic data-URI arms
        ("data:application/x-protobufferX,x", "data_uri_raw", True, "x"),
        # trailpad repair: stripped length % 4 == 0 decodes, others keep raw
        ("QUJD=", "base64_trailpad", True, "ABC"),
        ("QQ=", "form_urlencoded", True, "QQ="),
        ("QUJDQQ=", "form_urlencoded", True, "QUJDQQ="),
        ("ab-_=", "base64_url", True, None),  # urlsafe trailpad decodes
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], "span_idx int, payload string"
    )
    got = {r.span_idx: r for r in decode.decode_dispatch(df).collect()}
    for i, (p, wkind, wok, wdec) in enumerate(cases):
        r = got[i]
        assert r.decode_kind == wkind, (p, r.decode_kind, wkind)
        assert r.decode_ok == wok, (p, r.decode_ok)
        if wdec is not None:
            assert r.decoded == wdec, (p, r.decoded, wdec)


def test_decode_form_percent_decode(spark):
    """The form arm has the reference's parse_qs value semantics
    (nodes.py:307-323): %XX unescape + '+' -> space, i.e.
    urllib.parse.unquote_plus. Pinned against the stdlib on every form
    payload; the non-form payloads must stay on their own arms."""
    from urllib.parse import unquote_plus

    payloads = [
        "a=b",
        "a=b&c=d+e",
        "q=%41%42%43",
        "k=%E2%82%AC+sign",  # UTF-8 multibyte escape
        "a=%2B&plus=+",  # literal '+' escaped vs space
        "weird=%00",
        # non-form rows
        "QUJD",
        "data:application/x-protobuf,xyz",
        '{"a": 1}',
        "plain text!",
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "span_idx int, payload string"
    )
    got = {r.span_idx: r for r in decode.decode_dispatch(df).collect()}
    for i, p in enumerate(payloads):
        assert (got[i].decode_kind == "form_urlencoded") == (i < 6), p
        if i < 6:
            assert got[i].decoded == unquote_plus(p), (p, got[i].decoded)
            assert got[i].decoded_size == len(got[i].decoded)
    # non-vacuous: at least one escaped payload differs from a '+'-only
    # normalization
    assert any(got[i].decoded != payloads[i].replace("+", " ") for i in range(6))


def test_scalar_families_total_on_arbitrary_text(spark):
    """Totality fuzz across the scalar families: key_class, ref_cleanup,
    quality features, fingerprint and soup_features must process ANY
    string input without throwing and return fully non-null classification
    columns (the decode fuzz caught a real ANSI crash; this pins the same
    never-throws property for the other regexp-gated families)."""
    import random
    import string

    from har2tree_spark.operators import soup
    from har2tree_spark.text import quality

    rng = random.Random(99)
    alphabet = string.printable + "é😀 "
    vals = ["".join(rng.choices(alphabet, k=rng.randrange(0, 60))) for _ in range(300)]
    vals += ["", " ", "\n", "k" + "9" * 30, "xn--", '"', "'", "about:", "<", ">"]

    f = spark.createDataFrame(
        [("d", i, 0, 1, v) for i, v in enumerate(vals)],
        "doc_id string, span_idx int, offset int, n_live int, media_ref string",
    )
    kc = attrs.key_class(f).collect()
    assert len(kc) == len(vals)
    assert all(r.ref_class in {"none", "canonical", "numeric", "encoded", "other"} for r in kc)

    cdf = spark.createDataFrame([(v,) for v in vals], "r string")
    clean, reason = HF.ref_cleanup(F.col("r"))
    rc = cdf.select(clean.alias("c"), reason.alias("why")).collect()
    assert len(rc) == len(vals)

    d = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, text string"
    )
    q = quality.quality_features(d).collect()
    assert all(r.pred_lang is not None and r.quality_score is not None for r in q)
    fp = quality.fingerprint(d).collect()
    assert all(r.fingerprint is not None for r in fp)

    b = spark.createDataFrame(
        [("d", i, v) for i, v in enumerate(vals)],
        "doc_id string, span_idx int, body string",
    )
    sf = soup.soup_features(b).collect()
    assert all(r.n_tags is not None and r.n_res is not None for r in sf)


def test_multipart_crlf_parity(spark):
    """r5 VERDICT #7: the multipart arm now normalizes the reference's
    direction (nodes.py:386-390 — LF->CRLF unless CRLF already present),
    so (a) CRLF-framed payloads dispatch as multipart at all, and (b)
    multiline part CONTENT carries CRLF exactly as the reference's
    decoder would see it. The join separator between parts remains LF
    (this engine's canonical list serialization)."""
    lf_payload = (
        '--bnd\ncontent-disposition: form-data; name="a"\n\nline1\nline2'
        '\n--bnd\ncontent-disposition: form-data; name="b"\n\nsolo\n--bnd--'
    )
    crlf_payload = lf_payload.replace("\n", "\r\n")
    mixed = (  # already contains CRLF -> left alone (reference rule)
        '--bnd\r\nh: v\r\n\r\ncontent\r\n--bnd--'
    )
    df = spark.createDataFrame(
        [(0, lf_payload), (1, crlf_payload), (2, mixed)],
        "span_idx int, payload string",
    )
    got = {r.span_idx: r for r in decode.decode_dispatch(df).collect()}
    for i in (0, 1, 2):
        assert got[i].decode_kind == "multipart", i
        assert got[i].decode_ok, i
    # LF input: content normalized to CRLF (reference part.text parity)
    assert got[0].decoded == "line1\r\nline2\nsolo"
    # CRLF input: identical result (normalization is idempotent here)
    assert got[1].decoded == got[0].decoded
    assert got[2].decoded == "content"
