"""Real-HAR ingestion: HAR JSON files -> documents(doc_id, spans).

The engine's whole input domain is the re-grounded
``documents(doc_id, spans:array<struct<kind,text,media_ref,offset>>)`` table
(BASELINE.json input_hint); the reference's whole input domain is HAR JSON
captures (reference har2tree.py:101-196).  This module is the bridge: it maps
each HAR file to one document whose span sequence encodes exactly the
relations the reference extracts per entry, so the unchanged downstream
pipeline (parse -> cascade -> tiling -> stats) builds the same tree shape the
reference builds from the same capture.

Mapping dictionary (SURVEY.md SS1.2, reference file:line):

  * one HAR file                -> one document row (har2tree.py:101-119;
                                   gzipped HARs accepted, 108-111)
  * entry order                 -> spans sorted by ``startedDateTime``
                                   (stable), offset = rank*10
                                   (har2tree.py:181-183)
  * request URL                 -> span key: ``unquote_plus`` normalized
                                   (har2tree.py:331,586) then hashed into the
                                   canonical ``k<int>`` key grammar
                                   (parse.KEY_TOKEN_RE) -- deterministic
                                   per-URL, no cross-file coordination, so
                                   the same URL keys identically in every
                                   document (the forest/referer join
                                   contract, parser.py:16-72)
  * empty request URL           -> featureless span (text='') -> dropped by
                                   the engine's P1 filter, the reference's
                                   ignore-list (har2tree.py:587-589)
  * status <= 0                 -> kind 'empty' -> the engine's P2 dedup
                                   suppresses it iff a valid twin exists,
                                   else it stays in the tree -- the
                                   reference's exact rule (har2tree.py:575-603)
  * response.redirectURL        -> kind 'redirect', media_ref = target key
                                   (the FULL rebuild_url repair ladder vs
                                   the doc's URL universe --
                                   sources/urlkit.rebuild_url, the
                                   reference's helper.py:130-201 exactly;
                                   unresolvable targets keep their hash key
                                   and fall to the spatial fallback,
                                   mirroring the reference's "redirect to
                                   nowhere" warning path har2tree.py:929-935)
  * JS / meta-refresh redirect  -> an html entry whose body carries a
                                   location.* assignment or a meta refresh
                                   whose rebuilt target is another request
                                   of this document feeds the rendered-node
                                   best-guess walk (the reference sets the
                                   node 'redirect' feature for these too,
                                   nodes.py:577-590, and the rendered walk
                                   follows that feature, har2tree.py:657-672).
                                   The span KIND stays 'html' (its resource/
                                   referer edges survive, exactly like the
                                   reference's non-early-returning redirect
                                   arm); the queryable per-span JS-redirect
                                   surface remains the engine's F19
                                   operator (operators/soup.js_redirects).
  * _initiator url (parser)     -> media_ref = initiator key (nodes.py:598-601)
  * _initiator stack (script)   -> media_ref = 'stack:<lvl0>|<lvl1>|...'
                                   per level a space-joined callFrame key
                                   list, empty-URL frames as empty tokens --
                                   the engine's pre-flattened F21 grammar
                                   (operators/parse._resolve_media;
                                   reference nodes.py:602-616,643-649)
  * Referer header              -> media_ref = referer key when no
                                   redirect/initiator claimed the span
                                   (har2tree.py:906-910 referer cascade arm)
  * response body (mimetype)    -> span kind via the mimetype class
                                   (nodes.py:556-567); embedded resource
                                   URLs extracted with the SAME parser the
                                   soup operator uses (_parse_markup_events
                                   + the CSS regex arms) and appended to the
                                   span text as key tokens iff they resolve
                                   against the doc's URL universe -- the
                                   resource cascade arm
                                   (find_external_ressources, helper.py:356-466)

Scale posture: files are distributed by Spark's ``binaryFile`` source (one
task per file group, no driver loop); per-file JSON decode runs inside an
Arrow-batched ``mapInPandas`` -- the ingest boundary is per *file*, exactly
like the reference's ``json.load``, but parallel across executors.  All
per-span analytics stay in the unchanged engine operators downstream.

Capture sidecars (``read_har_captures``): the reference loads up to six
optional files shipped next to each HAR, keyed ``{root_name}.*``
(har2tree.py:127-179 -- last_redirect.txt / cookies.json / frames.json /
.data + .data.filename / rendered .html).  The sidecar reader scans them in
the same distributed pass as the HARs, groups per capture on a derived
``(dir, root_name)`` key (ONE bounded exchange -- a capture's files are a
few MB), and emits the documents row plus extra NULLABLE columns per the S2
sidecar contract (sources/sidecar.py): the closed core schema never
changes, captures without a sidecar keep the column as NULL.  The rendered
.html additionally enriches the *rendered node's* span text with the
rendered page's resolved resource keys -- the reference's
``add_rendered_features`` external-resource merge (nodes.py:87-109), so F28
urls_in_rendered_page / J6 resource joins fire on rendered-only URLs.
Multi-page captures: each span carries its entry's ``pageref`` and the
capture row carries the reference's ``pages_root`` resolution
(har2tree.py:185-193 pages_start_times + 618-645 two-pass root pick,
including the missed-page fallback that assigns the page to the first
pageref-less node) plus the precomputed prior-page anchors of the orphan
ladder's pages arms (har2tree.py:800-855) -- all as aligned nullable
array columns, consumed by ``operators/pages.attach_pages``.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import re
from urllib.parse import unquote_plus

from har2tree_spark.operators.soup import (
    CSS_IMPORT_RE,
    CSS_URL_RE,
    _parse_markup_events,
)
from har2tree_spark.schema import DOCUMENTS_SCHEMA
from har2tree_spark.sources.urlkit import (
    canonicalize_rendered_url,
    rebuild_url,
    url_hostname,
)

# key_num in [1, 10^15-1]: matches parse.KEY_TOKEN_RE (<=15 digits, no
# leading zeros) and stays < 2^53 so the key<->float64 round trip is exact.
_KEY_MOD = 10**15 - 1

_CSS_URL = re.compile(CSS_URL_RE)
_CSS_IMPORT = re.compile(CSS_IMPORT_RE)


def url_key(url: str) -> str:
    """Deterministic canonical key for a (normalized) URL string.

    sha256-based so identical URLs key identically across files, executors
    and runs with zero coordination -- the property that lets referer /
    redirect / forest joins work at any scale without a global URL
    dictionary."""
    h = hashlib.sha256(url.encode("utf-8", "surrogatepass")).digest()
    return "k" + str(int.from_bytes(h[:8], "big") % _KEY_MOD + 1)


def _norm(url: str) -> str:
    """The reference's URL normalization for indexing/matching
    (unquote_plus, har2tree.py:331,586)."""
    return unquote_plus(url)


def _kind_of(status: int, mimetype: str, resource_type: str, redirect: bool) -> str:
    """HAR entry -> engine span kind (mimetype class resolution,
    reference nodes.py:556-567; F13)."""
    if redirect:
        return "redirect"
    if status <= 0:
        return "empty"
    mt = (mimetype or "").lower()
    rt = (resource_type or "").lower()
    if "html" in mt or rt == "document":
        return "html"
    if "css" in mt or rt == "stylesheet":
        return "css"
    if "javascript" in mt or "ecmascript" in mt or rt == "script":
        return "js"
    if mt.startswith("image") or rt == "image":
        return "img"
    if mt.startswith("video"):
        return "video"
    if mt.startswith("audio"):
        return "audio"
    return "text"


def _header(entry: dict, name: str) -> str:
    """Case-insensitive request-header lookup (har2tree.py:255-260)."""
    headers = _dict(entry.get("request")).get("headers") or ()
    if not isinstance(headers, (list, tuple)):
        return ""
    for h in headers:
        if isinstance(h, dict) and str(h.get("name", "")).lower() == name:
            return str(h.get("value", ""))
    return ""


def _stack_levels(stack: dict) -> list[str]:
    """Flatten an _initiator.stack chain into the engine's F21 grammar:
    one '|'-separated level per stack.parent hop, each level a
    space-joined callFrame key list with empty-URL frames kept as empty
    tokens (reference nodes.py:602-616)."""
    levels: list[str] = []
    seen = 0
    while isinstance(stack, dict) and seen < 64:  # defensive depth cap
        frames = stack.get("callFrames") or []
        if not isinstance(frames, list):
            frames = []
        levels.append(
            " ".join(
                url_key(_norm(str(f["url"]))) if f.get("url") else ""
                for f in frames
                if isinstance(f, dict)
            )
        )
        stack = stack.get("parent")  # type: ignore[assignment]
        seen += 1
    return levels


def _initiator_media(entry: dict) -> str:
    init = entry.get("_initiator")
    if not isinstance(init, dict):
        return ""
    if init.get("url"):
        return url_key(_norm(str(init["url"])))
    if isinstance(init.get("stack"), dict):
        return "stack:" + "|".join(_stack_levels(init["stack"]))
    return ""


def _redirect_target(entry: dict, url: str, universe: set[str]) -> str:
    """Resolve response.redirectURL to a target URL with the reference's
    FULL repair ladder (urlkit.rebuild_url = helper.py:130-201: '?'/'#'
    re-append, default-port strip, fragment inherit, dot-segment collapse,
    trailing-slash re-add), called exactly where the reference calls it --
    node name (normalized URL) as base, the doc's URL universe as
    known_urls (nodes.py:626-631)."""
    target = str(_dict(entry.get("response")).get("redirectURL", "") or "")
    return rebuild_url(url, target, universe)


# the reference's JS-redirect scan (nodes.py:577-586): location.href /
# window.location / location.replace / location.assign assignments or
# calls with a quoted literal target, trailing ';' required
_JS_REDIRECT_PY = re.compile(
    r"(?:location\.href|window\.location|location\.replace|location\.assign)"
    r"(?: ?= ?| ?\( ?)[\"']([^'\"]*)[\"'](?: ?\) ?)?;",
    re.I,
)
_META_REFRESH_PY = re.compile(r'http-equiv="refresh"[^>]*url=([^">]*)', re.I)


def _js_meta_redirect(body: str, url: str, universe: set[str]) -> str:
    """In-universe redirect target carried by an html BODY, or ''.

    The reference arms in priority order (nodes.py:577-590): every JS
    location.* match is rebuilt and the LAST one resolving against the
    doc's requests wins; a meta-refresh target (first one, url_cleanup'd
    like any extracted resource) overrides it.  Feeds the rendered-node
    best-guess walk; the HTTP redirectURL arm still overrides both at the
    call site (the reference's load order, nodes.py:626)."""
    target = ""
    for m in _JS_REDIRECT_PY.findall(body):
        t = rebuild_url(url, m, universe)
        if t in universe:
            target = t
    if m2 := _META_REFRESH_PY.search(body):
        t = rebuild_url(url, _clean_extracted(m2.group(1)), universe)
        if t != url and t.startswith("http") and t in universe:
            target = t
    return target


def _body_text(entry: dict) -> str:
    """Decoded response body text ('' when absent) -- the reference's body
    feature incl. the dirty-safe-b64 arm (nodes.py:540-553)."""
    content = _dict(_dict(entry.get("response")).get("content"))
    text = content.get("text") or ""
    if not text:
        return ""
    if content.get("encoding") == "base64":
        import base64  # noqa: PLC0415

        try:
            pad = (-len(text)) % 4
            return base64.b64decode(text + "=" * pad).decode("utf-8", "replace")
        except Exception:  # noqa: BLE001 -- reference falls back to raw
            return text
    return str(text)


def _clean_extracted(ref: str) -> str:
    """url_cleanup's quote stripping for a URL extracted from markup
    (helper.py:209-220): backslash-escaped quote wrappers, then plain
    leading/trailing quotes the fulltext regex can pick up."""
    to_attach = ref.strip()
    if to_attach.startswith(("\\'", '\\"')):
        to_attach = to_attach[2:-2]
    if to_attach.startswith(("'", '"')):
        to_attach = to_attach[1:-1]
    if to_attach.endswith(("'", '"')):
        to_attach = to_attach[:-1]
    return to_attach


def _resource_tokens(body: str, base_url: str, universe: set[str], own: str) -> list[str]:
    """Embedded-resource keys for a markup body: the soup operator's real
    parser for tag attributes plus its CSS regex arms, each candidate
    cleaned + repaired with the reference's url_cleanup pipeline
    (data:-skip, quote strip, rebuild_url, base-URL loop skip, http-only
    gate -- helper.py:203-232) and kept iff it is another request in this
    document (find_external_ressources' all_requests gate,
    helper.py:356-466)."""
    _, refs = _parse_markup_events(body)
    refs = list(refs) + _CSS_URL.findall(body) + _CSS_IMPORT.findall(body)
    out: list[str] = []
    seen: set[str] = set()
    for ref in refs:
        if ref.startswith("data"):
            continue
        cleaned = _clean_extracted(ref)
        if not cleaned:
            continue
        resolved = rebuild_url(base_url, cleaned, universe)
        if resolved == base_url:  # basically a loop
            continue
        if not resolved.startswith("http"):
            continue
        if resolved in universe:
            k = url_key(resolved)
            if k != own and k not in seen:
                seen.add(k)
                out.append(k)
    return out


# tags whose URLs the reference processes as links (<a>/<area> href) or as
# external resources, and therefore SKIPS in the everything-else attr scan
# (nodes.py:688-691)
_RENDERED_RESOURCE_TAGS = frozenset(
    {"a", "area", "img", "script", "video", "audio", "iframe", "embed",
     "source", "link", "object"}
)


def rendered_page_urls(html: str, base_url: str) -> list[str]:
    """F28 ``urls_in_rendered_page`` (reference nodes.py:661-701): every
    <a>/<area> href plus any http-prefixed attribute value on a
    non-resource tag, sanitized/canonicalized (urlkit.
    canonicalize_rendered_url), deduped, SORTED -- the "where could this
    page go next" surface a Lookyloo consumer reads first.  Total: parser
    errors keep what was collected."""
    from html.parser import HTMLParser  # noqa: PLC0415

    candidates: list[str] = []

    class _Collect(HTMLParser):
        def handle_starttag(self, tag, attrs):  # noqa: ANN001
            if tag in ("a", "area"):
                for name, val in attrs:
                    if name == "href" and val:
                        candidates.append(val)
            elif tag not in _RENDERED_RESOURCE_TAGS:
                candidates.extend(
                    val
                    for _, val in attrs
                    if isinstance(val, str) and val.startswith("http")
                )

    try:
        c = _Collect(convert_charrefs=True)
        c.feed(html)
        c.close()
    except Exception:  # noqa: BLE001 -- keep-partial, never-throws
        pass
    urls = {
        u for cand in candidates if (u := canonicalize_rendered_url(cand, base_url))
    }
    return sorted(urls)


def _dict(v) -> dict:
    """Tolerant sub-object access: a malformed scalar where the HAR spec
    says object reads as empty (the engine's quarantine-grade totality --
    the reference would raise here and lose the whole capture)."""
    return v if isinstance(v, dict) else {}


def _sorted_entries(har: dict) -> list[dict]:
    """Entries in startedDateTime order (stable -- har2tree.py:181-183).
    Non-dict entries are dropped (totality; see _dict)."""
    log = _dict(_dict(har).get("log"))
    entries = log.get("entries") or []
    if not isinstance(entries, list):
        return []
    entries = [e for e in entries if isinstance(e, dict)]
    return sorted(entries, key=lambda e: str(e.get("startedDateTime", "")))


def _initial_redirects(
    entries: list[dict],
    urls: list[str],
    final_redirect: str,
) -> tuple[list[str], bool]:
    """The reference's initial_redirects chain reconstruction
    (har2tree.py:268-303): from the first entry, follow either the
    previous entry's rebuilt redirectURL or a Referer pointing at the
    previous response URL, stopping at the final redirect.  Returns
    (redirect URLs in order, need_tree_redirects) -- the latter set when
    the chain cannot be found without the tree, in which case the list is
    just [final_redirect], exactly like the reference's fallback."""
    if not entries:
        return [], False
    out: list[str] = []
    prev = entries[0]
    prev_url = urls[0]
    hit_final = False
    for i, e in enumerate(entries[1:], start=1):
        redirect = str(_dict(prev.get("response")).get("redirectURL", "") or "")
        if redirect:
            # the reference's rebuild_url with known_urls=[e.url]
            # (har2tree.py:283-287): the full repair ladder against the
            # single candidate
            resolved = rebuild_url(prev_url, redirect, (urls[i],))
            if resolved == urls[i]:
                out.append(urls[i])
                prev, prev_url = e, urls[i]
            else:
                continue
        else:
            ref = _header(e, "referer")
            prev_resp_url = _dict(prev.get("response")).get("url")
            if ref and prev_resp_url and _norm(ref) == _norm(str(prev_resp_url)):
                out.append(urls[i])
                prev, prev_url = e, urls[i]
            else:
                continue
        if urls[i] == final_redirect:
            hit_final = True
            break
    if not hit_final:
        # unable to find the chain without the whole tree
        return [final_redirect], True
    return out, False


def _resolve_final_redirect(last_redirect: str, urls: list[str]) -> tuple[str, bool]:
    """The reference's ``_search_final_redirect`` ladder (har2tree.py:198-222):
    walk the entries in order looking for an exact match, else a
    ``{url}?``-prefixed match (splash strips the query); on a miss strip the
    fragment and retry, then strip the query and retry.  Returns the
    (possibly rewritten) final-redirect URL and whether it was found."""
    target = last_redirect
    while True:
        for u in urls:
            if u == target:
                return target, True
            if u.startswith(target + "?"):
                return u, True
        if "#" in target:
            target = target.split("#", 1)[0]
        elif "?" in target:
            target = target.split("?", 1)[0]
        else:
            return target, False


def _rendered_span_idx(
    final_url: str,
    found: bool,
    urls: list[str],
    redirect_targets: list[str],
) -> int | None:
    """The reference's ``rendered_node`` resolution (har2tree.py:655-672):
    the node named final_redirect when the search found one, else the best
    guess -- follow the redirect chain from the root, stepping to the first
    entry whose URL equals the current entry's resolved redirect target
    (with a visited guard for the reference's 'buggy capture' break)."""
    if not urls:
        return None
    if found:
        for i, u in enumerate(urls):
            if u == final_url:
                return i
    cur, seen = 0, {0}
    while redirect_targets[cur]:
        target = redirect_targets[cur]
        nxt = next((j for j, u in enumerate(urls) if u == target and j not in seen), None)
        if nxt is None:
            break
        cur = nxt
        seen.add(nxt)
    return cur


def _pages_layout(
    entries: list[dict],
    urls: list[str],
    statuses: list[int],
    pages: list,
) -> tuple[list, list, list, list, int | None]:
    """The reference's multi-page bookkeeping, per document.

    Returns (span_pagerefs, page_ids, pages_root_idx, page_before_root_idx,
    page_default_anchor_idx):

      * span_pagerefs[i]      -- entry i's pageref (nodes.py:227-228), after
                                 the missed-page fallback mutation that
                                 assigns a rootless page to the first
                                 pageref-less node (har2tree.py:640-643)
      * page_ids              -- page ids in HAR order
      * pages_root_idx[p]     -- the page's root span (har2tree.py:618-645:
                                 pass 1 matches entry startedDateTime
                                 against pages_start_times + pageref; pass 2
                                 fills misses with the first node carrying
                                 the pageref); None when no node ever
                                 matches
      * page_before_root_idx[p] -- the orphan ladder's prior-page anchor for
                                 a span of page p (har2tree.py:830-841:
                                 last page BEFORE p that has a root, else
                                 the first page); None -> attach to tree
                                 root (the reference's IndexError arm)
      * page_default_anchor_idx -- the same anchor for a span with NO
                                 pageref (the reference's loop never
                                 breaks: the last rooted page wins)

    'Ignored' entries (empty URL, or status<=0 with a valid same-URL twin
    -- the reference's ignore list, har2tree.py:575-603 = the engine's
    P1/P2) never become page roots, exactly like the reference's node
    list."""
    page_dicts = [p for p in pages if isinstance(p, dict) and p.get("id") is not None]
    page_ids = [str(p["id"]) for p in page_dicts]
    pagerefs: list = [
        str(e["pageref"]) if isinstance(e, dict) and e.get("pageref") is not None else None
        for e in entries
    ]
    if not page_ids:
        return pagerefs, [], [], [], None

    valid_urls = {u for u, s in zip(urls, statuses) if u and s > 0}
    live = [
        i
        for i in range(len(entries))
        if urls[i] and not (statuses[i] <= 0 and urls[i] in valid_urls)
    ]

    # pages_start_times (har2tree.py:185-193): page start -> [pages...],
    # plus the first entry's start time mapping to the first page
    pst: dict[str, list[dict]] = {}
    for p in page_dicts:
        pst.setdefault(str(p.get("startedDateTime", "")), []).append(p)
    if entries:
        initial_st = str(_dict(entries[0]).get("startedDateTime", "-") or "-")
        pst.setdefault(initial_st, []).append(page_dicts[0])

    # pass 1 (618-622): entry start time in pages_start_times + matching
    # pageref -> page root (unconditional assignment, reference order)
    pages_root: dict[str, int] = {}
    for i in live:
        st = str(_dict(entries[i]).get("startedDateTime", "") or "")
        for page in pst.get(st, ()):
            if pagerefs[i] is not None and str(page["id"]) == pagerefs[i]:
                pages_root[pagerefs[i]] = i
                break
    # pass 2 (635-645): fill missed pages with the first node carrying the
    # pageref, assigning the pageref to pageref-less nodes along the way
    for plist in pst.values():
        for page in plist:
            pid = str(page["id"])
            if pid in pages_root:
                continue
            for i in live:
                if pagerefs[i] is None:
                    pagerefs[i] = pid
                if pagerefs[i] == pid:
                    pages_root[pid] = i
                    break

    def page_before_anchor(target: str | None) -> int | None:
        # har2tree.py:830-841: walk pages[1:] up to the target page,
        # remembering the last one that has a root; missing root -> None
        # (the reference's attach-to-tree-root arm)
        before = page_ids[0]
        for pid in page_ids[1:]:
            if target is not None and pid == target:
                break
            if pid in pages_root:
                before = pid
        return pages_root.get(before)

    pages_root_idx = [pages_root.get(pid) for pid in page_ids]
    page_before_root_idx = [page_before_anchor(pid) for pid in page_ids]
    return (
        pagerefs,
        page_ids,
        pages_root_idx,
        page_before_root_idx,
        page_before_anchor(None),
    )


def har_to_doc(doc_id: str, har: dict, sidecars: dict | None = None) -> dict:
    """One parsed HAR dict (+ optional sidecar file contents) -> one
    documents-table row.  With ``sidecars`` (a role->bytes/str dict from
    ``read_har_captures``), the row carries the extra nullable capture
    columns and the rendered-html resource merge; with ``sidecars=None``
    the classic two-column row is returned unchanged."""
    entries = _sorted_entries(har)
    universe = {
        _norm(str(_dict(e.get("request")).get("url", "")))
        for e in entries
        if _dict(e.get("request")).get("url")
    }
    # cookie events ride the SAME walk (r7 VERDICT #4: one binaryFile scan
    # + one JSON parse per capture — a separate cookie reader used to
    # re-list and re-parse the whole corpus for them). Captures path only: the plain
    # read_har_dir row stays two-column and skips the extra _body_text
    # decode for non-html/css/js entries.
    want_cookies = sidecars is not None
    cookie_events: list[dict] = []
    spans = []
    urls: list[str] = []  # per-entry normalized URL ('' for empty entries)
    redirect_targets: list[str] = []  # per-entry resolved redirect URL or ''
    statuses: list[int] = []  # per-entry response status (0 for empty/bad)
    for i, e in enumerate(entries):
        raw_url = str(_dict(e.get("request")).get("url", "") or "")
        if not raw_url:
            # empty-URL entry: featureless span, dropped by P1 exactly like
            # the reference's ignore-list (har2tree.py:587-589)
            spans.append({"kind": "text", "text": "", "media_ref": "", "offset": i * 10})
            urls.append("")
            redirect_targets.append("")
            statuses.append(0)
            continue
        url = _norm(raw_url)
        urls.append(url)
        own = url_key(url)
        try:
            status = int(_dict(e.get("response")).get("status", 0) or 0)
        except (ValueError, TypeError):
            status = 0  # non-numeric status reads as the invalid-entry arm
        statuses.append(status)
        redirect = bool(_dict(e.get("response")).get("redirectURL"))
        kind = _kind_of(
            status,
            str(_dict(_dict(e.get("response")).get("content")).get("mimeType", "") or ""),
            str(e.get("_resourceType", "") or ""),
            redirect and status > 0,
        )
        if want_cookies:
            from har2tree_spark.sources.har_cookies import (  # noqa: PLC0415
                entry_cookies,
            )

            bt = _body_text(e)
            body = bt if kind in ("html", "css", "js") else ""
            host = url_hostname(url)
            evs = entry_cookies(e, host)
            if evs:
                # identical fields + values to the old standalone scan:
                # hostname from the normalized URL, empty_response = no
                # decoded body text (nodes.py:541-546 semantics)
                empty = not bt
                cookie_events.extend(
                    {
                        "span_idx": i,
                        "hostname": host,
                        "direction": ck["direction"],
                        "cookie": ck["cookie"],
                        "domain": ck["domain"],
                        "is_3rd_party": ck["is_3rd_party"],
                        "empty_response": empty,
                    }
                    for ck in evs
                )
        else:
            body = _body_text(e) if kind in ("html", "css", "js") else ""
        # per-entry redirect target for the rendered-node walk: the HTTP
        # redirectURL arm wins; an html body's JS/meta-refresh redirect is
        # the reference's other 'redirect'-feature source (nodes.py:577-590)
        if redirect and status > 0:
            rt = _redirect_target(e, url, universe)
        elif kind == "html" and body:
            rt = _js_meta_redirect(body, url, universe)
        else:
            rt = ""
        redirect_targets.append(rt)
        if redirect and status > 0:
            media = url_key(rt)
        else:
            media = _initiator_media(e)
            if not media:
                ref = _header(e, "referer")
                if ref:
                    media = url_key(_norm(ref))
        tokens = [own]
        if body:
            tokens += _resource_tokens(body, url, universe, own)
        spans.append(
            {
                "kind": kind,
                "text": " ".join(tokens),
                "media_ref": media,
                "offset": i * 10,
            }
        )
    if sidecars is None:
        return {"doc_id": doc_id, "spans": spans}

    row: dict = {
        "doc_id": doc_id,
        "spans": spans,
        "final_redirect_url": None,
        "final_redirect_found": None,
        "final_redirect_key": None,
        "rendered_span_idx": None,
        "rendered_html": None,
        "rendered_urls": None,
        "initial_cookies": None,
        "downloaded_filename": None,
        "downloaded_hex_sha256": None,
        "downloaded_bytes": None,
        "frames_json": None,
        "n_frames": None,
        # multi-page bookkeeping (har2tree.py:185-193, 618-645, 800-855)
        "span_pagerefs": None,
        "page_ids": None,
        "pages_root_idx": None,
        "page_before_root_idx": None,
        "page_default_anchor_idx": None,
        # HarFile capture metadata (har2tree.py:223-313), sidecar-independent
        "n_entries": len(entries),
        # total_unique_hostnames analogue (har2tree.py:520): distinct
        # hostnames across the capture's live URLs
        "n_unique_hostnames": len(
            {h for u in urls if u and (h := url_hostname(u))}
        ),
        "initial_title": None,
        "initial_start_time": "-",
        "root_url_key": None,
        "root_referrer_key": None,
        "root_user_agent": None,
        "has_initial_redirects": None,
        "initial_redirect_keys": None,
        "need_tree_redirects": None,
        # per-entry cookie events from this same walk (r7 VERDICT #4);
        # None (not []) when the capture has no cookies so the column
        # stays nullable like every other sidecar-tier column
        "cookie_events": cookie_events or None,
    }

    # initial_title (har2tree.py:228-234: first page's title, with the
    # reference's literal no-title sentinel); initial_start_time (236-241)
    pages = _dict(_dict(har).get("log")).get("pages") or []
    if not isinstance(pages, list):
        pages = []
    title = pages[0].get("title") if pages and isinstance(pages[0], dict) else None
    row["initial_title"] = str(title) if title else "!! No title found !!"
    pagerefs, page_ids, roots_idx, before_idx, default_anchor = _pages_layout(
        entries, urls, statuses, pages
    )
    if entries:
        row["span_pagerefs"] = pagerefs
    if page_ids:
        row["page_ids"] = page_ids
        row["pages_root_idx"] = roots_idx
        row["page_before_root_idx"] = before_idx
        row["page_default_anchor_idx"] = default_anchor
    if entries:
        row["initial_start_time"] = str(entries[0].get("startedDateTime", "-") or "-")
        # root_url (250-253: first URL, stripped) and the first entry's
        # Referer / User-Agent headers (304-313)
        root_raw = str(_dict(entries[0].get("request")).get("url", "") or "").strip()
        if root_raw:
            row["root_url_key"] = url_key(_norm(root_raw))
        if ref0 := _header(entries[0], "referer"):
            row["root_referrer_key"] = url_key(_norm(ref0))
        if ua := _header(entries[0], "user-agent"):
            row["root_user_agent"] = ua

    # last_redirect.txt -> final-redirect resolution (har2tree.py:127-137):
    # unquote_plus on the raw file content, then the search ladder; a
    # chrome:/about: URL is the reference's capture-failed arm (not found,
    # not an error).
    final_url, found = "", False
    if (lr := sidecars.get("last_redirect")) is not None:
        final_url, found = _resolve_final_redirect(_norm(_as_text(lr)), urls)
        row["final_redirect_url"] = final_url
        row["final_redirect_found"] = found
        row["final_redirect_key"] = url_key(final_url) if found else None
        # has_initial_redirects (har2tree.py:262-266): the first URL differs
        # from the address-bar URL; initial_redirects (268-303): the chain
        # reconstructed without the tree, falling back to [final_redirect]
        # with need_tree_redirects set when it cannot be found
        if entries:
            has_ir = urls[0] != final_url
            row["has_initial_redirects"] = has_ir
            if has_ir:
                chain, need_tree = _initial_redirects(entries, urls, final_url)
                row["initial_redirect_keys"] = [url_key(u) for u in chain if u]
                row["need_tree_redirects"] = need_tree
            else:
                row["initial_redirect_keys"] = []
                row["need_tree_redirects"] = False

    # rendered node (har2tree.py:655-672): search by final redirect, else
    # walk the root's redirect chain.  Always computed -- the reference
    # resolves rendered_node on every tree.
    ridx = _rendered_span_idx(final_url, found, urls, redirect_targets)
    row["rendered_span_idx"] = ridx

    # cookies.json -> the reference's initial_cookies, keyed exactly as
    # nodes.py:539 keys cookies_sent ('name=value').
    if (ck := sidecars.get("cookies")) is not None:
        try:
            cookies = json.loads(_as_text(ck))
            row["initial_cookies"] = [
                f"{c.get('name')}={c.get('value')}" for c in cookies if isinstance(c, dict)
            ]
        except (ValueError, TypeError):
            row["initial_cookies"] = []

    # .data + .data.filename -> downloaded file (har2tree.py:158-171); the
    # payload lands as its sha256 hex digest + byte length per the media
    # digest contract (media/multimodal.py), not as an inline blob.
    if (dl := sidecars.get("data")) is not None and (fn := sidecars.get("data_filename")) is not None:
        blob = dl if isinstance(dl, bytes) else str(dl).encode()
        row["downloaded_filename"] = _as_text(fn)
        row["downloaded_hex_sha256"] = hashlib.sha256(blob).hexdigest()
        row["downloaded_bytes"] = len(blob)

    # frames.json -> kept verbatim + counted; the per-frame rendered
    # content attach (har2tree.py:460-481 _load_iframes) happens downstream
    # where the tree exists (J12 rendered-node attach), so ingest only
    # carries the payload.
    if (fr := sidecars.get("frames")) is not None:
        txt = _as_text(fr)
        row["frames_json"] = txt
        try:
            frames = json.loads(txt)
            # the top-level FramesResponse is the main frame; its children
            # are the actual iframes the reference walks (har2tree.py:749-753)
            row["n_frames"] = (
                len(frames.get("children") or []) if isinstance(frames, dict) else 0
            )
        except (ValueError, TypeError):
            row["n_frames"] = 0

    # rendered .html -> add_rendered_features (nodes.py:87-109): merge the
    # rendered page's resolved resource keys into the rendered node's span
    # text (dedup'd -- the engine's span-token contract), skipping an
    # empty-response rendered node exactly like har2tree.py:740.  The gate
    # is the reference's empty_response semantics (nodes.py:541-546): an
    # empty response BODY, not a 0 status -- a 2xx entry with no content
    # text skips the merge too.
    if (html := sidecars.get("html")) is not None:
        text = _as_text(html)
        row["rendered_html"] = text
        # F28 urls_in_rendered_page (nodes.py:661-701): ALL sanitized
        # rendered URLs, sorted -- computed against the rendered node's URL
        # (the reference's self.name); a rendered node with no URL (empty
        # entry) leaves the column NULL like the reference's Har2TreeError
        if ridx is not None and urls[ridx]:
            row["rendered_urls"] = rendered_page_urls(text, urls[ridx])
        if ridx is not None and spans[ridx]["text"] and _body_text(entries[ridx]):
            base = urls[ridx]
            have = set(spans[ridx]["text"].split(" "))
            extra = [
                t
                for t in _resource_tokens(text, base, universe, url_key(base))
                if t not in have
            ]
            if extra:
                spans[ridx] = {**spans[ridx], "text": spans[ridx]["text"] + " " + " ".join(extra)}
    return row


def _as_text(v) -> str:
    """Sidecar file content as text (binaryFile hands us bytes)."""
    return v.decode("utf-8", "replace") if isinstance(v, (bytes, bytearray)) else str(v)


def _load_har_bytes(blob: bytes) -> dict:
    """HAR JSON, transparently gunzipped (har2tree.py:108-111)."""
    if blob[:2] == b"\x1f\x8b":
        blob = gzip.decompress(blob)
    return json.loads(blob.decode("utf-8", "replace"))


def _load_har_bytes_safe(blob: bytes) -> dict:
    """Totality wrapper for the readers: a truncated gzip, corrupt JSON, or
    non-object top level reads as {} -> har_to_doc emits an empty-spans
    quarantine row (S3), so one poisoned file can neither fail a batch task
    nor wedge the streaming file source on checkpoint replay (a thrown
    micro-batch is retried with the SAME file forever)."""
    try:
        har = _load_har_bytes(blob)
    except (ValueError, OSError, EOFError, RecursionError):
        # json.JSONDecodeError is ValueError; gzip errors are OSError;
        # truncated gzip raises EOFError; hostile nesting RecursionError
        return {}
    return har if isinstance(har, dict) else {}


_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:/+")


def _doc_id_of(path: str, root: str) -> str:
    # Hadoop paths render as file:/x or hdfs://host/x — strip either form
    p = _SCHEME_RE.sub("/", path)
    r = _SCHEME_RE.sub("/", root).rstrip("/")
    if p.startswith(r + "/"):
        p = p[len(r) + 1 :]
    for suffix in (".har.gz", ".har"):
        if p.endswith(suffix):
            p = p[: -len(suffix)]
            break
    return p


def _docs_from_binary(raw, root: str):
    """(path, content) frame -> documents frame; shared by the batch and
    streaming readers (mapInPandas runs identically on both plans)."""
    import pandas as pd  # noqa: PLC0415

    def run(batches):
        for pdf in batches:
            rows = [
                har_to_doc(_doc_id_of(p, root), _load_har_bytes_safe(c))
                for p, c in zip(pdf["path"].tolist(), pdf["content"].tolist())
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return raw.mapInPandas(run, schema=DOCUMENTS_SCHEMA)


def read_har_dir(spark, path: str, pattern: str = "*.har"):
    """Directory of HAR files -> documents DataFrame (DOCUMENTS_SCHEMA).

    Distributed: the binaryFile source assigns files to tasks; each task
    parses its files inside one Arrow batch -- no driver-side loop, no
    per-span Python (all span analytics happen in the engine operators
    downstream)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )
    return _docs_from_binary(raw, path)


def read_har_packed(spark, path: str, pattern: str = "*.harpack"):
    """Packed-capture ingest arm (r7 VERDICT #8; guide §6 small-files):
    plain-tar bundles of HAR files (as written by tools/pack_captures.py)
    -> documents DataFrame (DOCUMENTS_SCHEMA), row-identical to
    ``read_har_dir`` over the unpacked tree.

    Rationale: at ~32 KB/capture the ingest cost driver is the FILE
    BOUNDARY (listing + per-file open + Arrow framing), not the JSON
    decode — the no-parse scan floor alone is ~55% of full-ingest wall
    (BENCH/BASELINE.md r7 ingest table).  Packing N captures per bundle
    turns N listing/open/frame cycles into one; the unpack (uncompressed
    tar = header walk + memoryview slices) runs inside the SAME
    mapInPandas closure that parses, so no second pass and no driver
    state.  doc_id = the member's archive name minus .har/.har.gz —
    bundles written from a corpus root reproduce read_har_dir's ids."""
    import pandas as pd  # noqa: PLC0415

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("content")
    )

    def run(batches):
        import io  # noqa: PLC0415
        import tarfile  # noqa: PLC0415

        for pdf in batches:
            rows = []
            for c in pdf["content"].tolist():
                with tarfile.open(fileobj=io.BytesIO(c), mode="r:") as tf:
                    for m in tf:
                        if not m.isfile():
                            continue
                        name = m.name
                        for suffix in (".har.gz", ".har"):
                            if name.endswith(suffix):
                                doc_id = name[: -len(suffix)]
                                break
                        else:
                            continue
                        data = tf.extractfile(m).read()
                        rows.append(har_to_doc(doc_id, _load_har_bytes_safe(data)))
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return raw.mapInPandas(run, schema=DOCUMENTS_SCHEMA)


def stream_har_documents(spark, path: str, pattern: str = "*.har", max_files: int = 8):
    """Streaming HAR arrivals -> documents STREAM (DOCUMENTS_SCHEMA).

    The reference is strictly batch; this is the engine's streaming
    extension applied at the ingest boundary: new capture files dropped
    into the directory become document rows in the next micro-batch, and
    `streaming.ingest.incremental_pipeline` runs the unchanged batch
    operators over them with exactly-once file tracking via the streaming
    checkpoint (file-source semantics: each file is processed exactly one
    micro-batch).  Per-file parsing is the same Arrow-batched closure as
    the batch reader.  Sidecar-grouped ingestion stays batch-only
    (read_har_captures): a capture's sidecar files can straddle
    micro-batches, so grouping them in a stream would need session-window
    state for no user-visible gain."""
    from pyspark.sql import types as T  # noqa: PLC0415

    # a streaming source cannot infer its schema; binaryFile's is fixed
    binary_schema = T.StructType(
        [
            T.StructField("path", T.StringType(), True),
            T.StructField("modificationTime", T.TimestampType(), True),
            T.StructField("length", T.LongType(), True),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    raw = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", max_files)
        .load(path)
        .select("path", "content")
    )
    return _docs_from_binary(raw, path)


# Sidecar roles, keyed by filename suffix next to the HAR (reference
# har2tree.py:127-179).  No suffix is a suffix of another, so match order
# is irrelevant; .png / uuid / meta are deliberately absent (the reference
# HarFile never reads them -- they are Lookyloo-level artifacts).
_CAPTURE_ROLES = (
    (".har.gz", "har"),
    (".har", "har"),
    (".last_redirect.txt", "last_redirect"),
    (".cookies.json", "cookies"),
    (".frames.json", "frames"),
    (".data.filename", "data_filename"),
    (".data", "data"),
    (".html", "html"),
)

_CAPTURE_GLOB = "*.{har,har.gz,last_redirect.txt,cookies.json,frames.json,data,data.filename,html}"


def captures_schema():
    """DOCUMENTS_SCHEMA + the nullable capture-sidecar columns (the S2
    contract: core schema closed, sidecars nullable)."""
    from pyspark.sql import types as T  # noqa: PLC0415

    return T.StructType(
        list(DOCUMENTS_SCHEMA.fields)
        + [
            T.StructField("final_redirect_url", T.StringType(), True),
            T.StructField("final_redirect_found", T.BooleanType(), True),
            T.StructField("final_redirect_key", T.StringType(), True),
            T.StructField("rendered_span_idx", T.IntegerType(), True),
            T.StructField("rendered_html", T.StringType(), True),
            T.StructField("rendered_urls", T.ArrayType(T.StringType()), True),
            T.StructField("initial_cookies", T.ArrayType(T.StringType()), True),
            T.StructField("downloaded_filename", T.StringType(), True),
            T.StructField("downloaded_hex_sha256", T.StringType(), True),
            T.StructField("downloaded_bytes", T.LongType(), True),
            T.StructField("frames_json", T.StringType(), True),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("span_pagerefs", T.ArrayType(T.StringType(), True), True),
            T.StructField("page_ids", T.ArrayType(T.StringType()), True),
            T.StructField("pages_root_idx", T.ArrayType(T.IntegerType(), True), True),
            T.StructField(
                "page_before_root_idx", T.ArrayType(T.IntegerType(), True), True
            ),
            T.StructField("page_default_anchor_idx", T.IntegerType(), True),
            T.StructField("n_entries", T.IntegerType(), True),
            T.StructField("n_unique_hostnames", T.IntegerType(), True),
            T.StructField("initial_title", T.StringType(), True),
            T.StructField("initial_start_time", T.StringType(), True),
            T.StructField("root_url_key", T.StringType(), True),
            T.StructField("root_referrer_key", T.StringType(), True),
            T.StructField("root_user_agent", T.StringType(), True),
            T.StructField("has_initial_redirects", T.BooleanType(), True),
            T.StructField("initial_redirect_keys", T.ArrayType(T.StringType()), True),
            T.StructField("need_tree_redirects", T.BooleanType(), True),
            # per-entry cookie events from the same single-pass walk
            # (r7 VERDICT #4); har_cookies.cookies_from_captures explodes
            # this into the flat cookie table
            T.StructField(
                "cookie_events",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("span_idx", T.IntegerType(), False),
                            T.StructField("hostname", T.StringType(), True),
                            T.StructField("direction", T.StringType(), False),
                            T.StructField("cookie", T.StringType(), False),
                            T.StructField("domain", T.StringType(), True),
                            T.StructField("is_3rd_party", T.BooleanType(), False),
                            T.StructField("empty_response", T.BooleanType(), False),
                        ]
                    )
                ),
                True,
            ),
        ]
    )


def read_har_captures(spark, path: str):
    """Directory of captures (HAR + ``{root_name}.*`` sidecars) ->
    documents DataFrame with the extra nullable sidecar columns
    (``captures_schema()``).

    Scale shape: ONE binaryFile listing with a brace-alternation glob (the
    .png screenshots and uuid/meta markers never even list), role + capture
    key derived JVM-side from the path, then ONE hash exchange on the
    capture key groups each capture's handful of files into a single
    applyInPandas group (bounded state: a capture is a few MB).  Sidecar
    files without a HAR (e.g. the reference's wired/ dir, which ships
    rendered html + screenshot but no .har) produce no row, mirroring the
    reference, which cannot construct a HarFile without the HAR."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", _CAPTURE_GLOB)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )
    role = F.lit(None).cast("string")
    cap = F.lit(None).cast("string")
    for suf, r in _CAPTURE_ROLES:
        cond = F.col("path").endswith(suf)
        role = F.when(cond, F.lit(r)).otherwise(role)
        cap = F.when(
            cond, F.expr(f"substring(path, 1, length(path) - {len(suf)})")
        ).otherwise(cap)
    tagged = raw.select(
        cap.alias("capture"), role.alias("role"), "path", "content"
    ).filter(F.col("role").isNotNull())

    schema = captures_schema()
    cols = [f.name for f in schema.fields]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        hars = [
            (p, c)
            for p, c, r in zip(
                pdf["path"].tolist(), pdf["content"].tolist(), pdf["role"].tolist()
            )
            if r == "har"
        ]
        if not hars:
            return pd.DataFrame(columns=cols)
        # foo.har and foo.har.gz share the capture key: deterministic
        # winner is the uncompressed .har (then lexicographic path), never
        # whichever row the scan happened to order last
        _, har_bytes = min(
            hars, key=lambda pc: (0 if pc[0].endswith(".har") else 1, pc[0])
        )
        capture = pdf["capture"].iloc[0]
        sidecars = {
            r: c
            for r, c in zip(pdf["role"].tolist(), pdf["content"].tolist())
            if r != "har"
        }
        row = har_to_doc(
            _doc_id_of(capture, path), _load_har_bytes_safe(har_bytes), sidecars
        )
        return pd.DataFrame([row], columns=cols)

    return tagged.groupBy("capture").applyInPandas(build, schema=schema)

