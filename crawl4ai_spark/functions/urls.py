"""URL canonicalization — the identity of the URL-seen set.

The reference defines dedup identity via ``normalize_url_for_deep_crawl``
(semantics transcribed from /root/reference/crawl4ai/utils.py:2334-2390;
behavior pinned by golden tests, not copied code) and a lighter cached
variant (utils.py:2392-2429).  Per-row parity matters bit-for-bit, so the
canonical implementation is plain Python on top of stdlib ``urllib.parse``.

Design note (scale): ``normalize_deep_udf`` keeps self-canonical hrefs
in the JVM and sends only the rest to the stdlib function (guard and
parity argument in its docstring; measured in BENCH/BASELINE.md R6.1).
"""

from __future__ import annotations

import re
from urllib.parse import parse_qs, parse_qsl, urlencode, urljoin, urlparse, urlunparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# plain-Python canonicalizers (run inside pandas UDFs; also used by the
# pure-Python oracle in tests)
# ---------------------------------------------------------------------------

# tracking params of the deep-crawl normalizer (utils.py:2368) — exact set,
# case-sensitive because parse_qs does not fold key case.
_DEEP_TRACKING = ("utm_source", "utm_medium", "utm_campaign", "ref", "fbclid")

# tracking params of the extended normalizer (utils.py:2303-2306) — keys are
# lowercased by that function before comparison.
_EXT_TRACKING = frozenset(
    {
        "utm_source",
        "utm_medium",
        "utm_campaign",
        "utm_term",
        "utm_content",
        "gclid",
        "fbclid",
        "ref",
        "ref_src",
    }
)


def _preserve_https(full_url: str, base_url: str, href: str) -> str:
    # same-host http links inherit https from the base, except
    # protocol-relative hrefs (utils.py:2272-2282 semantics)
    pf, pb = urlparse(full_url), urlparse(base_url)
    if pf.scheme == "http" and pf.netloc == pb.netloc and not href.strip().startswith("//"):
        return full_url.replace("http://", "https://", 1)
    return full_url


def normalize_url_for_deep_crawl(
    href: str | None,
    base_url: str,
    preserve_https: bool = False,
    original_scheme: str | None = None,
) -> str | None:
    """Canonical URL for seen-set membership (deep-crawl identity).

    Semantics (utils.py:2334-2390): urljoin against the source page;
    lowercase netloc; drop fragment; drop tracking params
    {utm_source, utm_medium, utm_campaign, ref, fbclid}; re-encode the
    query via parse_qs→urlencode (this drops blank values and groups
    multi-valued keys in first-occurrence order — NOT sorted); rstrip all
    trailing slashes from the path (root '/' becomes '').
    """
    if not href:
        return None
    full_url = urljoin(base_url, href.strip())
    if preserve_https and original_scheme == "https":
        full_url = _preserve_https(full_url, base_url, href)
    p = urlparse(full_url)
    query = p.query
    if query:
        params = parse_qs(query)
        for k in _DEEP_TRACKING:
            params.pop(k, None)
        query = urlencode(params, doseq=True) if params else ""
    return urlunparse((p.scheme, p.netloc.lower(), p.path.rstrip("/"), p.params, query, ""))


def normalize_url(
    href: str | None,
    base_url: str,
    drop_query_tracking: bool = True,
    sort_query: bool = True,
    keep_fragment: bool = False,
    extra_drop_params=None,
    preserve_https: bool = False,
    original_scheme: str | None = None,
) -> str | None:
    """Extended canonicalizer (utils.py:2233-2331 semantics).

    Differences from the deep-crawl variant: parse_qsl keeps blank values
    and pair order; keys are lowercased; tracking set is larger; query keys
    are sorted when sort_query; trailing '/' stripped only once-per-rstrip
    with root preserved as '/'.
    """
    if not href:
        return None
    full_url = urljoin(base_url, href.strip())
    if preserve_https and original_scheme == "https":
        full_url = _preserve_https(full_url, base_url, href)
    p = urlparse(full_url)
    netloc = p.netloc.lower()
    path = p.path
    if path.endswith("/") and path != "/":
        path = path.rstrip("/")
    query = p.query
    if query:
        params = [(k.lower(), v) for k, v in parse_qsl(query, keep_blank_values=True)]
        if drop_query_tracking:
            drop = _EXT_TRACKING | {x.lower() for x in (extra_drop_params or ())}
            params = [(k, v) for k, v in params if k not in drop]
        if sort_query:
            params.sort(key=lambda kv: kv[0])
        query = urlencode(params, doseq=True) if params else ""
    fragment = p.fragment if keep_fragment else ""
    return urlunparse((p.scheme, netloc, path, p.params, query, fragment))


def efficient_normalize(href: str | None, base_url: str) -> str | None:
    """Light canonicalizer (utils.py:2392-2429): urljoin, lowercase netloc,
    strip fragment, rstrip path slashes; query untouched."""
    if not href:
        return None
    full_url = urljoin(base_url, href.strip())
    p = urlparse(full_url)
    return urlunparse((p.scheme, p.netloc.lower(), p.path.rstrip("/"), p.params, p.query, ""))


_SPECIAL_PREFIXES = ("mailto:", "tel:", "ftp:", "file:", "data:", "javascript:")
_SECOND_LEVEL = frozenset(
    {"co", "com", "org", "gov", "edu", "net", "mil", "int", "ac", "ad", "ae", "af", "ag"}
)


def get_base_domain(url: str) -> str:
    """Registrable base domain (utils.py:2516-2564 semantics): lowercase
    netloc, strip port + www., keep last 2 labels (3 when the 2nd-to-last
    is a known second-level label like 'co')."""
    try:
        domain = urlparse(url).netloc.lower()
        if not domain:
            return ""
        domain = domain.split(":")[0]
        domain = re.sub(r"^www\.", "", domain)
        parts = domain.split(".")
        if len(parts) > 2 and parts[-2] in _SECOND_LEVEL:
            return ".".join(parts[-3:])
        return ".".join(parts[-2:])
    except Exception:
        return ""


def is_external_url(url: str, base_domain: str) -> bool:
    """utils.py:2567-2598 semantics: special schemes are external;
    relative URLs are internal; otherwise endswith-compare www-stripped
    domains."""
    low = url.lower()
    if any(low.startswith(p) for p in _SPECIAL_PREFIXES):
        return True
    try:
        parsed = urlparse(url)
        if not parsed.netloc:
            return False
        url_domain = parsed.netloc.lower().replace("www.", "")
        base = base_domain.lower().replace("www.", "")
        return not url_domain.endswith(base)
    except Exception:
        return False


def is_valid_crawl_url(url: str) -> bool:
    """Frontier admission check (bfs_strategy.py:59-79): http(s) scheme,
    netloc present and containing a dot."""
    try:
        p = urlparse(url)
        return bool(p.scheme) and p.scheme in ("http", "https") and bool(p.netloc) and "." in p.netloc
    except Exception:
        return False


# ---------------------------------------------------------------------------
# deep-crawl canonicalizer as a column: JVM guard + stdlib residue
# ---------------------------------------------------------------------------


@F.pandas_udf(T.StringType())
def _normalize_deep_arrow(href: pd.Series, base_url: pd.Series) -> pd.Series:
    return pd.Series(
        [normalize_url_for_deep_crawl(h, b) for h, b in zip(href, base_url)], dtype=object
    )


# printable ASCII minus the characters that give urlsplit/urlparse work to
# do: IPv6 brackets, backslash, params, query, fragment (Java class syntax)
_PATH_CH = r"[!-~&&[^\[\]\\;?#]]"
_NETLOC_CH = r"[!-~&&[^\[\]\\;?#/]]"
# \z, not $: Java's $ also matches before a final line terminator
_SIMPLE_URL_RE = rf"(?i)^https?://{_NETLOC_CH}+(/{_PATH_CH}*)?\z"
_HEAD_RE = r"^[^/]*//[^/]*"
_TAIL_RE = r"^[^/]*//[^/]*(.*?)/*$"


def normalize_deep_udf(href, base_url) -> Column:
    """``normalize_url_for_deep_crawl(href, base_url)`` as a column.

    Rows whose href is *simple* are canonicalized by JVM expressions;
    every other row goes to the stdlib function in an Arrow UDF, which
    the simple rows feed with NULLs.  Simple means: an absolute
    ``http(s)://`` href of printable ASCII with a non-empty netloc and no
    ``[ ] \\ ; ? #`` or ``/.``, and a base that urlparse cannot reject
    (NULL or ASCII without brackets).  On that set
    ``urljoin`` returns the href's own components before any dot-segment
    removal, ``strip`` is the identity, and the params, query and
    fragment branches are vacuous, so the stdlib result reduces exactly
    to ``lower(scheme://netloc) + path.rstrip('/')``.  Outputs and
    exceptions therefore match the stdlib row for row.
    """
    href = F.col(href) if isinstance(href, str) else href
    base = F.col(base_url) if isinstance(base_url, str) else base_url
    # base == href only spares the base regex for the common (url, url) call
    base_ok = base.isNull() | (base == href) | ~base.rlike(r"[^\x00-\x7F]|[\[\]]")
    simple = href.isNotNull() & href.rlike(_SIMPLE_URL_RE) & ~href.contains("/.") & base_ok
    fast = F.concat(
        F.lower(F.regexp_extract(href, _HEAD_RE, 0)), F.regexp_extract(href, _TAIL_RE, 1)
    )
    slow = _normalize_deep_arrow(F.when(~simple, href), F.when(~simple, base))
    return F.when(simple, fast).otherwise(slow)


# ---------------------------------------------------------------------------
# pure-Catalyst fast paths (JVM-side, codegen'd — no Python at all)
# ---------------------------------------------------------------------------


def light_normalize_expr(url: Column) -> Column:
    """``efficient_normalize`` for already-absolute http(s) URLs as a pure
    column expression: strip fragment, lowercase scheme+netloc, rstrip
    trailing slashes from the path. Stays inside WholeStageCodegen.
    """
    u = F.regexp_replace(url, "#.*$", "")
    head = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1)
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    return F.concat(
        F.lower(head),
        F.regexp_replace(path, "/+$", ""),
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )


def host_expr(url: Column) -> Column:
    """netloc (lowercased, as RateLimiter.get_domain uses urlparse().netloc
    — async_dispatcher.py:43)."""
    return F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))


def base_domain_expr(url: Column) -> Column:
    """get_base_domain as a column expression for well-formed hosts
    (port-strip + www-strip + last-2/3 labels)."""
    host = F.split(host_expr(url), ":").getItem(0)
    host = F.regexp_replace(host, r"^www\.", "")
    parts = F.split(host, r"\.")
    n = F.size(parts)
    second = F.element_at(parts, -2)
    three = F.concat_ws(".", F.slice(parts, n - 2, 3))
    two = F.concat_ws(".", F.slice(parts, n - 1, 2))
    in_sl = second.isin(*sorted(_SECOND_LEVEL))
    return F.when((n > 2) & in_sl, three).otherwise(F.when(n >= 2, two).otherwise(host))


def is_valid_url_expr(url: Column) -> Column:
    """http(s) + dotted netloc as a column expression."""
    host = F.regexp_extract(url, r"^(https?)://([^/?#]+)", 2)
    return (host != "") & host.contains(".")
