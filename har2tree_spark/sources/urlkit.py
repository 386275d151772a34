"""Pure URL helpers for the real-HAR ingest boundary.

``rebuild_url`` is the reference's join-dependent URL repair ladder
(reference helper.py:130-201; behavior pinned by the reference's own
golden tests, tests/simple_test.py:111-131): resolve a partial/relative
URL against a base URL AND the capture's known-URL list, trying a fixed
sequence of rewrites and stopping at the first variant present in
``known_urls``.  The engine-side relational analogue is
``operators/refs.resolve_refs`` (F15: variants + posexplode + semi-join);
THIS function is the ingest-side scalar used while a document's spans are
being built, where the whole universe is already in hand per capture —
the exact position the reference calls it from (nodes.py:626-631
redirects, helper.py:222 resource cleanup).

``canonicalize_rendered_url`` is the F28 rendered-URL canonicalizer.

All are per-row scalars that only ever run inside Arrow-batched ingest
closures (mapInPandas / applyInPandas) — never as row-at-a-time Spark
UDFs.
"""

from __future__ import annotations

import os
import re
from collections.abc import Collection
from urllib.parse import (
    parse_qsl,
    quote,
    unquote_plus,
    urlencode,
    urljoin,
    urlparse,
    urlsplit,
    urlunsplit,
)

_HTTP_SCHEME_RE = re.compile(r"^https?://")


def rebuild_url(base_url: str, partial: str, known_urls: Collection[str]) -> str:
    """The reference's full URL repair ladder (helper.py:130-201).

    Arms, in order, each applied only while the current candidate is NOT
    in ``known_urls``:

      0. strip + ``unquote_plus`` the partial; empty -> ''
      1. a partial with its own http(s) scheme is taken as-is, else
         ``urljoin(base, partial)``
      2. re-append a '?' / '#' that urljoin stripped from an empty
         query/fragment the partial carried
      3. strip an explicit default port (':443' on https, ':80' on http)
      4. inherit the base URL's fragment (redirects keep the fragment);
         an *empty* '#' on the base is re-appended literally
      5. collapse dot segments with ``os.path.normpath`` (never
         ``Path.resolve`` — no filesystem), re-adding the trailing '/'
         normpath strips if that helps; a URL with no path gets '/'

    The final candidate is returned even when no arm matched — callers
    gate membership themselves (the reference's redirect_to_nothing arm).
    ``known_urls`` may be any membership-testable collection; pass a set
    at scale."""
    base_parsed = urlparse(base_url)
    partial = unquote_plus(partial.strip())
    if not partial:
        return ""

    if _HTTP_SCHEME_RE.match(partial):
        final_url = partial
    else:
        try:
            final_url = urljoin(base_url, partial)
            # urljoin strips an empty query/fragment the partial carried
            if final_url not in known_urls and "?" in partial and "?" not in final_url:
                final_url += "?"
            if final_url not in known_urls and "#" in partial and "#" not in final_url:
                final_url += "#"
        except Exception:  # noqa: BLE001 — the reference's not-a-url arm
            return ""

    if final_url not in known_urls:
        # explicit default port in the partial, stripped in the known list
        try:
            netloc = urlparse(final_url).netloc
            if final_url.startswith("https://") and netloc.endswith(":443"):
                final_url = final_url.replace(":443", "", 1)
            if final_url.startswith("http://") and netloc.endswith(":80"):
                final_url = final_url.replace(":80", "", 1)
        except Exception:  # noqa: BLE001
            pass

    if final_url not in known_urls:
        # a redirect inherits the source URL's fragment
        if base_parsed.fragment:
            try:
                final_url = (
                    urlparse(final_url)._replace(fragment=base_parsed.fragment).geturl()
                )
            except Exception:  # noqa: BLE001
                pass
        elif "#" in base_url and "#" not in final_url:
            # empty fragment: urlparse sees no fragment but the '#' is real
            final_url += "#"

    if final_url not in known_urls:
        # collapse /./ and friends; normpath (not Path.resolve: no
        # filesystem, no symlinks)
        try:
            parsed = urlparse(final_url)
            if parsed.path:
                resolved_path = os.path.normpath(parsed.path)
                final_url = parsed._replace(path=resolved_path).geturl()
                if final_url not in known_urls and resolved_path[-1] != "/":
                    # normpath strips a trailing '/'; try re-adding it
                    resolved_path += "/"
                    final_url = parsed._replace(path=resolved_path).geturl()
            else:
                final_url = parsed._replace(path="/").geturl()
        except Exception:  # noqa: BLE001
            pass

    return final_url


def url_hostname(url: str) -> str:
    """The reference's URLNode hostname (nodes.py:186-212): urlparse
    hostname with the blob: unwrap arm; '' when absent."""
    try:
        parsed = urlparse(url)
        if parsed.scheme == "blob":
            parsed = urlparse(parsed.path)
        return parsed.hostname or ""
    except ValueError:
        return ""


# HTML5 "space characters" (the whitespace strip_html5_whitespace removes)
_HTML5_WS = " \t\n\r\x0c"
# path/fragment percent-quoting: keep every RFC-3986 pchar + '%' (already-
# encoded sequences pass through untouched -- no unquote/requote round trip,
# so no semantics-changing %2F decode)
_PATH_SAFE = "/;:@&=+$,%~*'()[]!-_."


def canonicalize_rendered_url(maybe_url: str, base_url: str) -> str | None:
    """The F28 sanitize pipeline (reference nodes.py:663-674 ``_sanitize``):
    strip HTML5 whitespace, resolve against the rendered node's URL, keep
    fragments, require a netloc; canonical form = lowercase scheme/netloc,
    default port stripped, percent-encoded path (encode-only: existing
    escapes are preserved, never decoded), query pairs SORTED and
    re-encoded with %XX escapes (blank values kept).

    The reference delegates to w3lib's safe_url_string + canonicalize_url;
    that library is deliberately not a dependency here, so this is a
    documented deterministic subset with the same observable behavior on
    the reference's own golden list (tests/simple_test.py:186-199: sorted
    query args, %3A%2F%2F-escaped embedded URLs, fragments kept).  Returns
    None for anything without a network location."""
    href = maybe_url.strip(_HTML5_WS)
    try:
        href = urljoin(base_url, href)
        parts = urlsplit(href)
    except ValueError:
        return None
    if not parts.netloc:
        return None
    scheme = parts.scheme.lower()
    netloc = parts.netloc.lower()
    if (scheme == "http" and netloc.endswith(":80")) or (
        scheme == "https" and netloc.endswith(":443")
    ):
        netloc = netloc.rsplit(":", 1)[0]
    path = quote(parts.path, safe=_PATH_SAFE) or "/"
    query = urlencode(
        sorted(parse_qsl(parts.query, keep_blank_values=True)), quote_via=quote
    )
    fragment = quote(parts.fragment, safe=_PATH_SAFE)
    return urlunsplit((scheme, netloc, path, query, fragment))

