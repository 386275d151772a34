"""Markup parse + JS-redirect extraction — the F17/F18/F19/F26 family.

The reference parses each rendered body with BeautifulSoup (reference
helper.py:283-294), walks tags/attributes for external resources
(helper.py:356-466), hashes the tag-name sequence into a domhash
(nodes.py:83-85) and scans script bodies for JS redirects, which count as
redirects only when the target resolves against the document's known-URL
universe (nodes.py:573-590).

Re-grounded Spark-first: the markup grammar of the synthetic bodies is
regular, so the DEFAULT tag/attribute extraction is `regexp_extract_all` —
pure JVM codegen, no Python soup in the hot path (the reference's own
profiling notes name soup parsing as its dominant cost; at 100 TB a
per-row Python HTML parser is exactly what this engine must not do).

The real-HAR adapter (``sources/har_source._resource_tokens``) parses
real-world non-regular HTML with ``_parse_markup_events`` instead: lxml's
SAX-style ``etree.HTMLParser(target=...)`` when lxml is importable, the
stdlib ``html.parser`` event stream otherwise — the analogue of the
reference's BeautifulSoup parser fallback chain (helper.py:283-294,
lxml -> html.parser). The parser handles what the regex cannot (unclosed
tags, single-quoted/unquoted attributes, case-mixed markup, comments) and
is parity-pinned against ``soup_features`` on the regular corpus.

VERIFICATION CAVEAT (r5 ADVICE): lxml is not installed in this
container, so every in-repo run of the event parser — parity pins
included — exercises the stdlib html.parser fallback, and the
lxml-specific code path is unverified here. Its one known divergence
source, libxml2's implied html/head/body start events, is neutralized
by ``_implied_tag_skip`` (source-literal filter, unit-tested as a pure
function without lxml); run the test_soup.py suite once in an
lxml-equipped environment before relying on bit-parity there.

  * soup_features  — tag sequence, lowercased; domhash = first 32 hex of
                     sha256 of the '|'-joined tag names (F26 contract);
                     resource surface (F18) = the reference's full
                     attribute set src/srcset/longdesc/poster/href/data
                     (helper.py:356-426) PLUS the CSS arms — url(...)
                     functions and @import url/string preludes
                     (helper.py:300-353) — concatenated in that order.
  * js_redirects   — regex over the body for location.href / .replace /
                     .assign and meta-refresh url= targets (F19), then a
                     per-doc semi-join against the span-key universe: a
                     target that resolves is a redirect edge
                     (redirect_url); one that does not is flagged
                     redirect_to_nothing (F20 nodes.py:626-641 contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TAG_RE = "<([a-zA-Z][a-zA-Z0-9]*)"
# the reference's attribute surface: img(src srcset longdesc) script(src)
# video(poster src) audio/iframe/embed/source(src[set]) link(href)
# object(data) — helper.py:356-426
ATTR_RE = '\\b(?:src|srcset|longdesc|poster|href|data)="([^"]*)"'
# CSS url() function tokens + @import url/string preludes (helper.py:300-353)
CSS_URL_RE = "url\\(['\"]?([^'\")]+)['\"]?\\)"
CSS_IMPORT_RE = "@import\\s+['\"]([^'\"]+)['\"]"
JS_REDIRECT_RE = r"location\.(?:href\s*=|replace\(|assign\()\s*'([^']*)'"
META_REFRESH_RE = 'http-equiv="refresh"[^>]*url=([^">]*)'


RESOURCE_ATTRS = frozenset({"src", "srcset", "longdesc", "poster", "href", "data"})


def _extract_all(body: Column, pattern: str) -> Column:
    return F.regexp_extract_all(body, F.lit(pattern), F.lit(1))


_STRUCTURAL_IMPLIED = ("html", "head", "body")


def _implied_tag_skip(body: str):
    """Predicate: skip start events for structural tags (html/head/body)
    that the SOURCE does not literally contain. libxml2's HTML parser
    emits start events for *implied* document structure — a bare
    ``<p>x</p>`` yields html/body events — which the stdlib html.parser
    and the regexp engine (both source-literal) never see; without this
    filter the lxml branch would diverge on tags/domhash for any fragment
    (r5 ADVICE). A tag literally present in the source keeps its events
    (implied duplicates of a literal tag do not occur: libxml2 emits the
    element once)."""
    import re as _re  # noqa: PLC0415

    present = {
        t
        for t in _STRUCTURAL_IMPLIED
        if _re.search(rf"(?i)<{t}(?=[\s/>]|\Z)", body)
    }
    skip = set(_STRUCTURAL_IMPLIED) - present
    return lambda tag: tag in skip


def _parse_markup_events(body: str) -> tuple[list[str], list[str]]:
    """(tags, attr_refs) from a real HTML event parser — lxml's SAX target
    API when importable, stdlib html.parser otherwise. Never throws: a
    hard parser error keeps whatever was collected before it.

    NOTE on verification status: the lxml branch is import-gated and lxml
    is not installed in this container, so in-repo tests exercise the
    stdlib fallback; the lxml-specific implied-element filter
    (``_implied_tag_skip``) is unit-tested as a pure function, and the
    parity expectations in test_soup.py assume it."""
    tags: list[str] = []
    refs: list[str] = []
    try:
        import lxml.etree as _etree  # noqa: PLC0415

        _skip_implied = _implied_tag_skip(body)

        class _Target:
            def start(self, tag, attrib):  # noqa: ANN001
                if isinstance(tag, str):
                    low = tag.lower()
                    if _skip_implied(low):
                        return
                    tags.append(low)
                    for name, val in attrib.items():
                        if name.lower() in RESOURCE_ATTRS:
                            refs.append(val or "")

            def close(self):  # noqa: ANN201
                return None

        parser = _etree.HTMLParser(target=_Target(), recover=True)
        try:
            parser.feed(body)
            parser.close()
        except Exception:  # noqa: BLE001 — keep-partial, never-throws
            pass
        return tags, refs
    except ImportError:
        pass
    from html.parser import HTMLParser  # noqa: PLC0415

    class _Collect(HTMLParser):
        def handle_starttag(self, tag, attrs):  # noqa: ANN001
            tags.append(tag)
            for name, val in attrs:
                if name in RESOURCE_ATTRS:
                    refs.append(val if val is not None else "")

    try:
        c = _Collect(convert_charrefs=True)
        c.feed(body)
        c.close()
    except Exception:  # noqa: BLE001 — keep-partial, never-throws
        pass
    return tags, refs


def soup_features(df: DataFrame) -> DataFrame:
    """Adds (tags, domhash, res_refs, n_tags, n_res) for the ``body``
    markup column.
    ``res_refs`` = attribute refs ++ CSS url() refs ++ @import refs, in
    that deterministic order (the reference appends per category too).
    Pure-JVM regexp extraction — the 100-TB hot path for the regular
    markup grammar."""
    orig_cols = df.columns
    body = F.col("body")
    css = (
        _extract_all(body, CSS_URL_RE),
        _extract_all(body, CSS_IMPORT_RE),
    )
    tags = F.transform(_extract_all(body, TAG_RE), F.lower)
    out = (
        df.withColumn("tags", tags)
        .withColumn("res_refs", F.concat(_extract_all(body, ATTR_RE), *css))
        .withColumn(
            "domhash",
            F.when(
                F.size("tags") > 0,
                F.substring(F.sha2(F.concat_ws("|", "tags"), 256), 1, 32),
            ),
        )
        .withColumn("n_tags", F.size("tags"))
        .withColumn("n_res", F.size("res_refs"))
    )
    return out.select(*orig_cols, "tags", "domhash", "res_refs", "n_tags", "n_res")


def js_redirects(df: DataFrame, features: DataFrame) -> DataFrame:
    """Per span: the first JS-redirect / meta-refresh target found in the
    ``body`` column, resolved against the doc's key universe.

    Returns (doc_id, span_idx, redirect_url, redirect_kind) where
    redirect_kind is 'js' | 'meta' | null and redirect_url is null when
    the target does not resolve (redirect_to_nothing: flagged, kept).
    The universe join ships only (doc_id, key) — hash early, join small.
    """
    body = F.col("body")
    js_t = F.regexp_extract(body, JS_REDIRECT_RE, 1)
    meta_t = F.regexp_extract(body, META_REFRESH_RE, 1)
    cand = df.select(
        "doc_id",
        "span_idx",
        F.when(js_t != "", js_t)
        .when(meta_t != "", meta_t)
        .alias("target"),
        F.when(js_t != "", "js").when(meta_t != "", "meta").alias("redirect_kind"),
    ).filter(F.col("target").isNotNull())
    universe = (
        features.filter(F.col("key").isNotNull())
        .select("doc_id", F.col("key").alias("target"))
        .dropDuplicates()
    )
    return (
        cand.join(
            universe.withColumn("resolved", F.lit(True)),
            ["doc_id", "target"],
            "left",
        )
        .select(
            "doc_id",
            "span_idx",
            F.when(F.col("resolved"), F.col("target")).alias("redirect_url"),
            "redirect_kind",
            F.coalesce(~F.col("resolved"), F.lit(True)).alias(
                "redirect_to_nothing"
            ),
        )
    )
