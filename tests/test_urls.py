"""Golden tests for URL canonicalization — cases transcribed from the
reference suite (tests/test_normalize_url.py) plus deep-crawl identity
cases (utils.py:2334-2390 semantics)."""

import random

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.functions import urls
from crawl4ai_spark.functions.urls import (
    efficient_normalize,
    get_base_domain,
    is_external_url,
    is_valid_crawl_url,
    light_normalize_expr,
    normalize_deep_udf,
    normalize_url,
    normalize_url_for_deep_crawl,
)

NORMALIZE_CASES = [
    ("path/to/page.html", "http://example.com/base/", "http://example.com/base/path/to/page.html"),
    ("page.html", "http://example.com/base/", "http://example.com/base/page.html"),
    ("page.html", "http://example.com/base", "http://example.com/page.html"),
    ("http://another.com/page.html", "http://example.com/", "http://another.com/page.html"),
    ("  page.html  ", "http://example.com/", "http://example.com/page.html"),
    ("page.html?query=test", "http://example.com/", "http://example.com/page.html?query=test"),
    ("https://secure.example.com/page.html", "http://example.com/", "https://secure.example.com/page.html"),
    ("../otherpage.html", "http://example.com/base/current/", "http://example.com/base/otherpage.html"),
    ("/otherpage.html", "http://example.com/base/current/", "http://example.com/otherpage.html"),
    ("file.html", "http://example.com/path", "http://example.com/file.html"),
    ("page.html", "http://example.com", "http://example.com/page.html"),
    ("?query=true", "http://example.com/page.html", "http://example.com/page.html?query=true"),
]


@pytest.mark.parametrize("href,base,expected", NORMALIZE_CASES)
def test_normalize_url_goldens(href, base, expected):
    assert normalize_url(href, base) == expected


def test_normalize_url_fragment_dropped():
    assert normalize_url("page.html#section", "http://example.com/") == "http://example.com/page.html"
    assert normalize_url("#fragment", "http://example.com/page.html") == "http://example.com/page.html"


def test_normalize_url_tracking_and_sort():
    got = normalize_url(
        "page?b=2&a=1&utm_source=x&gclid=y&REF=z", "https://example.com/"
    )
    assert got == "https://example.com/page?a=1&b=2"


DEEP_CASES = [
    # fragment dropped, netloc lowercased, trailing slash stripped
    ("https://EXAMPLE.com/A/B/#frag", "https://example.com/", "https://example.com/A/B"),
    # root path rstripped to empty (pinned reference quirk)
    ("https://example.com/", "https://example.com/", "https://example.com"),
    # tracking params (deep set) removed, blanks dropped by parse_qs
    (
        "https://example.com/p?utm_source=a&keep=1&empty=&fbclid=z",
        "https://example.com/",
        "https://example.com/p?keep=1",
    ),
    # multi-valued keys grouped in first-occurrence order (NOT sorted)
    ("https://example.com/p?b=2&a=1&b=3", "https://example.com/", "https://example.com/p?b=2&b=3&a=1"),
    # relative resolution
    ("child1", "https://host0.example.com/docs/p1", "https://host0.example.com/docs/child1"),
]


@pytest.mark.parametrize("href,base,expected", DEEP_CASES)
def test_normalize_deep_goldens(href, base, expected):
    assert normalize_url_for_deep_crawl(href, base) == expected


def test_normalize_deep_none():
    assert normalize_url_for_deep_crawl(None, "https://x.com") is None
    assert normalize_url_for_deep_crawl("", "https://x.com") is None


def test_base_domain_goldens():
    assert get_base_domain("https://www.example.com/x") == "example.com"
    assert get_base_domain("https://sub.example.co.uk/x") == "example.co.uk"
    assert get_base_domain("https://example.com:8080/") == "example.com"
    assert get_base_domain("nonsense") == ""


def test_is_external():
    assert is_external_url("mailto:a@b.com", "example.com")
    assert is_external_url("https://other.com/x", "example.com")
    assert not is_external_url("/relative", "example.com")
    assert not is_external_url("https://sub.example.com/x", "example.com")


def test_is_valid_crawl_url():
    assert is_valid_crawl_url("https://example.com/x")
    assert not is_valid_crawl_url("ftp://example.com/x")
    assert not is_valid_crawl_url("https://localhost/x")  # no dot
    assert not is_valid_crawl_url("not a url")


def test_spark_udf_matches_python(spark):
    rows = [(h, b) for h, b, _ in DEEP_CASES]
    df = spark.createDataFrame(rows, "href string, base string")
    got = df.select(normalize_deep_udf("href", "base").alias("n")).collect()
    for (h, b, expected), r in zip(DEEP_CASES, got):
        assert r["n"] == expected == normalize_url_for_deep_crawl(h, b)


def test_light_normalize_expr_matches_python(spark):
    urls = [
        "https://EXAMPLE.com/A/B/#frag",
        "https://example.com/",
        "https://example.com/p?b=2&a=1#x",
        "http://Host.COM/path//x///",
        "https://example.com/p?q=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r["n"] for r in df.select(light_normalize_expr(F.col("url")).alias("n")).collect()]
    expected = [efficient_normalize(u, u) for u in urls]
    assert got == expected


def test_with_canonical_equals_udf_on_mixed_corpus(spark):
    """normalize_deep_udf (JVM guard + stdlib residue) must agree with the
    stdlib canonicalizer on every URL shape — clean, messy, relative,
    dotted, tracking-tainted, fragmented, uppercase, short."""
    hrefs = [
        # guard (JVM) shapes
        "https://Example.COM/a/b/",
        "http://host7.example.com/view/item42",
        "https://x.com",
        "https://x.com/",
        "HTTPS://X.com/A//B///",
        "https://x.com/a-b_c~d",
        # stdlib shapes
        "https://x.com/p?utm_source=a&q=1#frag",
        "https://x.com/p?b=2&a=&c=3",
        "/relative/path",
        "page2.html",
        "../up/one",
        "https://x.com/a/./b/../c",
        "  https://x.com/spaced  ",
        "https://x.com/semi;params",
        "mailto:a@b.com",
        None,
        "",
        "https://x.com/.hidden/dir",
        # trailing line terminators: Java's $ would accept these
        "https://x.com\n",
        "https://x.com\r\n",
        "https://x.com/a\n",
        "https://x.com/a\u2028",
    ]
    base = "https://base.example.com/dir/page"
    df = spark.createDataFrame([(i, h, base) for i, h in enumerate(hrefs)], "i int, href string, base string")
    got = {
        r["i"]: r["canon"]
        for r in df.select("i", normalize_deep_udf("href", "base").alias("canon")).collect()
    }
    for i, h in enumerate(hrefs):
        expected = normalize_url_for_deep_crawl(h, base)
        assert got[i] == expected, (h, got[i], expected)
    assert len(got) == len(hrefs)


# alphabet, schemes and hosts of test_fuzz_canonicalizer_parity, plus the
# shapes on the edges of normalize_deep_udf's JVM guard
_FUZZ_CHARS = "abcXYZ019-._~:/?#[]@!$&'()*+,;=% \té中"
_FUZZ_SCHEMES = ["http://", "https://", "ftp://", "", "//", "mailto:", "HTTPS://", "hTtP://"]
_FUZZ_HOSTS = ["example.com", "WWW.Example.Com", "sub.x.co.uk:81", "localhost", "a.b", "",
               "x.com:443", "u@Host.com"]
# the first five pass the guard, the rest send the href to the UDF
_FUZZ_PIECES = ["/", "//a//", "%7E", "/A/B/", "/p1", "\x7f", "\t", "\n", "\r", "é中", "/./", "/../",
                "\\"]


def _adversarial_rows(n: int, seed: int = 20):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        # half the rows are built from guard-passing pieces only
        chars, pieces = rng.choice([("", _FUZZ_PIECES[:5]), (_FUZZ_CHARS, _FUZZ_PIECES)])
        rest = "".join(
            rng.choice(chars) if chars and rng.random() < 0.4 else rng.choice(pieces)
            for _ in range(rng.randint(0, 6))
        )
        href = rng.choice(_FUZZ_SCHEMES) + rng.choice(_FUZZ_HOSTS) + rest
        base = rng.choice([href, href, "https://example.com/a/b", "http://shop.co.uk/dir/page?x=1", None, ""])
        rows.append((i, href, base))
    rows += [(n, None, "https://x.com/"), (n + 1, "", "https://x.com/"), (n + 2, None, None)]
    return rows


def test_normalize_deep_udf_guard_parity_adversarial(spark):
    """Row-by-row parity of the guarded column with the stdlib function on
    ~2k seeded adversarial hrefs (hrefs on which stdlib raises are covered
    by the next test), with both sides of the guard well populated."""

    def stdlib(h, b):
        try:
            return normalize_url_for_deep_crawl(h, b), None
        except ValueError as e:
            return None, e

    rows = [r for r in _adversarial_rows(2000) if stdlib(r[1], r[2])[1] is None]
    assert len(rows) > 1500
    df = spark.createDataFrame(rows, "i int, href string, base string")
    got = {r["i"]: r["c"] for r in df.select("i", normalize_deep_udf("href", "base").alias("c")).collect()}
    bad = [(h, b, got[i], stdlib(h, b)[0]) for i, h, b in rows if got[i] != stdlib(h, b)[0]]
    assert not bad, bad[:5]
    n_simple = df.filter(F.col("href").rlike(urls._SIMPLE_URL_RE) & ~F.col("href").contains("/.")).count()
    assert 300 < n_simple < len(rows) - 300


def test_normalize_deep_udf_stdlib_errors_still_raise(spark):
    """An href (or a base) that stdlib rejects must reach the UDF and fail
    the query, exactly as before the guard existed."""
    for href, base in [("https://[x/", "https://[x/"), ("https://x.com/a", "https://[x/")]:
        with pytest.raises(ValueError):
            normalize_url_for_deep_crawl(href, base)
        df = spark.createDataFrame([(href, base)], "href string, base string")
        with pytest.raises(Exception, match="Invalid IPv6 URL"):
            df.select(normalize_deep_udf("href", "base")).collect()
