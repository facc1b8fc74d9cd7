"""Golden-corpus conformance tests for URL/host canonicalization.

Every table below is ported verbatim from the reference test suite
(``warc-indexer/src/test/java/uk/bl/wa/util/NormalisationTest.java`` and
``.../indexer/WARCIndexerTest.java``) — same inputs, same expected outputs.
"""

import pytest

from webarchive_discovery_spark.functions.normalisation import (
    canonicalise_host,
    canonicalise_url,
    fix_url_errors,
    resolve_relative,
    sanitise_warc_header_value,
    sha1_hash_as_base32,
)
from webarchive_discovery_spark.functions.surt import (
    all_levels,
    extract_public_suffix,
    extract_private_suffix,
    host_surts,
    surt_key_from_canonical,
    to_surt,
)


# NormalisationTest.java:33-48
@pytest.mark.parametrize("inp,expected", [
    ("foo bar", "foo bar"),
    ("<foo bar", "<foo bar"),
    ("foo bar>", "foo bar>"),
    ("<foo bar>", "foo bar"),
    ("foo< >bar", "foo< >bar"),
    ("<foo< >bar>", "foo< >bar"),
])
def test_warc_header_value_sanitise(inp, expected):
    assert sanitise_warc_header_value(inp) == expected


# NormalisationTest.java testEncodedTrailingSlash
@pytest.mark.parametrize("inp,expected", [
    ("https://www.example.com/foo?param=https://www.example.com/other/",
     "http://example.com/foo?param=https://www.example.com/other"),
    ("https://www.example.com/foo?param=https:%2F%2Fwww.example.com%2Fother%2F",
     "http://example.com/foo?param=https://www.example.com/other"),
])
def test_encoded_trailing_slash(inp, expected):
    assert canonicalise_url(inp) == expected


# NormalisationTest.java restResolveRelative
@pytest.mark.parametrize("base,rel,expected,normalise", [
    ("http://example.com/", "foo.html", "http://example.com/foo.html", True),
    ("http://example.com/bar/", "zoo/baz.html", "http://example.com/bar/zoo/baz.html", True),
    ("http://example.com/bar", "/zoo/baz.html", "http://example.com/zoo/baz.html", True),
    ("http://example.com/bar/zoo", "/", "http://example.com/", True),
    ("http://example.com/", "http://other.example.com", "http://other.example.com/", True),
    ("http://example.com/", "", "http://example.com/", True),
    ("http://example.com/foo|bar.html", "/top/", "http://example.com/top/", False),
    ("http://example.com/foo | bar/", "sub/", "http://example.com/foo%20|%20bar/sub", True),
    ("http://example.com/foo | bar/", "sub/", "http://example.com/foo | bar/sub/", False),
    ("http://example.com/faulty%g/gg", "sub", "http://example.com/faulty%25g/sub", True),
    ("http://example.com/faulty%g/gg", "sub", "http://example.com/faulty%g/sub", False),
    ("http://www.example.com/faulty%g/gg", "sub", "http://example.com/faulty%25g/sub", True),
    ("http://www.example.com/faulty%g/gg", "sub", "http://www.example.com/faulty%g/sub", False),
])
def test_resolve_relative(base, rel, expected, normalise):
    assert resolve_relative(base, rel, normalise) == expected


def test_www_remove_on_normalisation():
    assert canonicalise_url("http://www.example.com/") == "http://example.com/"


# NormalisationTest.java testURLNormalisation: (input, ambiguous, unambiguous)
@pytest.mark.parametrize("inp,ambiguous,unambiguous", [
    ("http://example.com", "http://example.com/", "http://example.com/"),
    ("http://example.com/", "http://example.com/", "http://example.com/"),
    ("https://example.com", "http://example.com/", "http://example.com/"),
    ("http://www.example.com", "http://www.example.com/", "http://example.com/"),
    ("https://www.example.com", "http://www.example.com/", "http://example.com/"),
    ("https://ww2.example.com", "http://ww2.example.com/", "http://example.com/"),
    ("https://www8.example.com", "http://www8.example.com/", "http://example.com/"),
    ("http://ww2.example.com", "http://ww2.example.com/", "http://example.com/"),
    ("/foo", "/foo", "/foo"),
    ("/foo/", "/foo", "/foo"),
    ("/%2A", "/%2a", "/*"),
    ("/%2a", "/%2a", "/*"),
    ("/%2a*", "/%2a*", "/**"),
    ("/æblegrød", "/æblegrød", "/æblegrød"),
    ("%C3%A6blegr%C3%B8d", "æblegrød", "æblegrød"),
    ("/æblegrød og øl", "/æblegrød%20og%20øl", "/æblegrød%20og%20øl"),
    ("Red, Rosé 14%", "red,%20rosé%2014%25", "red,%20rosé%2014%25"),
    ("Red%2C%20Ros%C3%A9 14%25", "red%2c%20rosé%2014%25", "red,%20rosé%2014%25"),
    ("/backslash\\", "/backslash%5c", "/backslash%5c"),
    ("/backslash%5C", "/backslash%5c", "/backslash%5c"),
])
def test_url_normalisation(inp, ambiguous, unambiguous):
    assert canonicalise_url(inp, True, False) == ambiguous
    assert canonicalise_url(inp, True, True) == unambiguous


# NormalisationTest.java testFaultyHighOrderNormalisation
@pytest.mark.parametrize("inp,escaped,unescaped", [
    ("Red, Rosé 14%", "red,%20ros%c3%a9%2014%25", "red,%20rosé%2014%25"),
    ("red,%20ros%c3%a9%2014%25", "red,%20ros%c3%a9%2014%25", "red,%20rosé%2014%25"),
])
def test_faulty_high_order(inp, escaped, unescaped):
    assert canonicalise_url(inp, False, True) == escaped
    assert canonicalise_url(inp, True, True) == unescaped


# NormalisationTest.java testNonUTF8Escapes
@pytest.mark.parametrize("inp,expected", [
    ("http://example.com/%C3%86blegr%C3%B8d", "http://example.com/Æblegrød"),
    ("http://example.com/%C3%86blegr%C3", "http://example.com/Æblegr%c3"),
    ("http://example.com/Æblegrød", "http://example.com/æblegrød"),
    ("http://example.com/%C6blegr%F8d", "http://example.com/%c6blegr%f8d"),
    ("http://www.example.com/%C6blegr%F8d", "http://example.com/%c6blegr%f8d"),
])
def test_non_utf8_escapes(inp, expected):
    assert canonicalise_url(inp) == expected


# NormalisationTest.java testEscapeFix (fixURLErrors)
@pytest.mark.parametrize("inp,expected", [
    ("http://example.com/%", "http://example.com/%25"),
    ("http://example.com/%%25", "http://example.com/%25%25"),
    ("http://example.com/10% proof", "http://example.com/10%25%20proof"),
    ("http://example.com/%a%2A", "http://example.com/%25a%2a"),
    ("http://example.com/%g1%2A", "http://example.com/%25g1%2a"),
    ("http://example.com/foo|bar", "http://example.com/foo|bar"),
    ("http://www.example.com/foo|bar", "http://example.com/foo|bar"),
])
def test_escape_fix(inp, expected):
    assert fix_url_errors(inp) == expected


# NormalisationTest.java testSpace
@pytest.mark.parametrize("inp,expected", [
    ("http://example.com/%20 +path", "http://example.com/%20%20+path"),
    ("http://example.com/+%20 path", "http://example.com/+%20%20path"),
    ("http://example.com/path?foo=%20 +", "http://example.com/path?foo=+++"),
    ("http://example.com/%20 +path?foo=%20 +", "http://example.com/%20%20+path?foo=+++"),
    ("http://example.com/+%20 path?foo=+%20 ", "http://example.com/+%20%20path?foo=+++"),
])
def test_space(inp, expected):
    assert canonicalise_url(inp) == expected


# NormalisationTest.java testFaultyHARDURLNormalisation
@pytest.mark.parametrize("inp,expected", [
    ("http://example.com/%", "http://example.com/%25"),
    ("http://example.com/%%25", "http://example.com/%25%25"),
    ("http://example.com/10% proof", "http://example.com/10%25%20proof"),
    ("http://example.com/%a%2A", "http://example.com/%25a*"),
    ("http://example.com/%g1%2A", "http://example.com/%25g1*"),
    ("http://example.com/hash#%23", "http://example.com/hash#%23"),
])
def test_faulty_hard(inp, expected):
    assert canonicalise_url(inp) == expected


# NormalisationTest.java testCanonicaliseHost
@pytest.mark.parametrize("inp,expected", [
    ("http://example.com/", "example.com"),
    ("http://example.com", "example.com"),
    ("http://example.com ", "example.com"),
    ("https://example.com/", "example.com"),
    ("https://example.com", "example.com"),
    ("https://example.com ", "example.com"),
])
def test_canonicalise_host(inp, expected):
    assert canonicalise_host(inp) == expected


def test_sha1_base32():
    # Normalisation.sha1HashAsBase32: base16 sha1 → base32
    assert (
        sha1_hash_as_base32("sha1:da39a3ee5e6b4b0d3255bfef95601890afd80709")
        == "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ"
    )
    assert sha1_hash_as_base32("sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ") == \
        "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ"
    assert sha1_hash_as_base32(None) is None
    assert sha1_hash_as_base32("short") == "short"


# WARCIndexerTest.java:340-359 + LinkExtractor.allLevels
def test_host_surts():
    assert host_surts("archive.org") == ["(org,", "(org,archive,"]
    assert to_surt("web.archive.org") == "(org,archive,web,"
    assert all_levels("bbc.co.uk") == ["uk", "co.uk", "bbc.co.uk"]
    assert all_levels("192.168.0.1") == []


# urlsplit drops \t \r \n anywhere in the URL; the fast path must agree,
# since url_key is the fetch scheduler's tie-break key
@pytest.mark.parametrize("canon,expected", [
    ("http://example.org/a\tb", "(org,example,)/ab"),
    ("http://example.org/p?q=a\r1", "(org,example,)/p?q=a1"),
    ("http://exa\nmple.org/x", "(org,example,)/x"),
    ("http://example.org:8\t0/a", "(org,example,)/a"),
])
def test_surt_key_strips_tab_and_newlines(canon, expected):
    assert surt_key_from_canonical(canon) == expected


# LinkExtractor public/private suffix incl. .uk special cases
def test_suffixes():
    assert extract_public_suffix("www.google.com") == "com"
    assert extract_public_suffix("www.google.co.uk") == "co.uk"
    assert extract_public_suffix("www.google.sch.uk") == "sch.uk"
    assert extract_private_suffix("www.google.com") == "google.com"
    assert extract_private_suffix("www.google.co.uk") == "google.co.uk"


def test_expanded_psl_registries():
    """Multi-label public-suffix registries beyond the original compact set
    (the reference resolves these via Guava's full PSL; this table covers the
    registries a web-scale crawl actually encounters)."""
    cases = {
        "news.bbc.co.uk": ("co.uk", "bbc.co.uk"),
        "site.gouv.fr": ("gouv.fr", "site.gouv.fr"),
        "a.b.on.ca": ("on.ca", "b.on.ca"),
        "x.ac.ir": ("ac.ir", "x.ac.ir"),
        "shop.com.ro": ("com.ro", "shop.com.ro"),
        "uni.edu.gr": ("edu.gr", "uni.edu.gr"),
        "ministry.go.th": ("go.th", "ministry.go.th"),
        "firm.com.bd": ("com.bd", "firm.com.bd"),
        "paper.com.uy": ("com.uy", "paper.com.uy"),
        "plain.example.com": ("com", "example.com"),
    }
    for host, (pub, priv) in cases.items():
        assert extract_public_suffix(host) == pub, host
        assert extract_private_suffix(host) == priv, host


def test_full_psl_algorithm():
    """The PSL snapshot implements the full publicsuffix.org algorithm, not
    a 2-label lookup: wildcard rules, exception rules, 3+-label rules
    (US K-12, JP city, AU state), longest-match, and the PRIVATE hosting
    section Guava's publicSuffix() also includes."""
    cases = {
        # the classes the r2 review called out as wrong under the compact table
        "loja.americanas.com.br": ("com.br", "americanas.com.br"),
        "portal.nic.co.in": ("co.in", "nic.co.in"),
        "news.sina.com.cn": ("com.cn", "sina.com.cn"),
        # 3-label rules: US K-12 / library, JP city wildcard, AU state edu
        "lincoln.k12.ca.us": ("k12.ca.us", "lincoln.k12.ca.us"),
        "branch.lib.tx.us": ("lib.tx.us", "branch.lib.tx.us"),
        "ward.city.kawasaki.jp": ("kawasaki.jp", "city.kawasaki.jp"),  # exception rule
        "shop.foo.kawasaki.jp": ("foo.kawasaki.jp", "shop.foo.kawasaki.jp"),  # wildcard
        "school.nsw.edu.au": ("nsw.edu.au", "school.nsw.edu.au"),
        # wildcard TLDs + the !www.ck exception
        "site.example.bd": ("example.bd", "site.example.bd"),
        "anything.www.ck": ("ck", "www.ck"),
        "gov.np": ("gov.np", "gov.np"),
        # JP prefecture 2-label rules
        "www.pref.tokyo.jp": ("tokyo.jp", "pref.tokyo.jp"),
        # private section: hosted platforms roll up as their own domains
        "user.github.io": ("github.io", "user.github.io"),
        "myblog.blogspot.com": ("blogspot.com", "myblog.blogspot.com"),
        "app.herokuapp.com": ("herokuapp.com", "app.herokuapp.com"),
        "x.y.elb.amazonaws.com": ("y.elb.amazonaws.com", "x.y.elb.amazonaws.com"),
        # longest match beats shorter: ne.jp over jp
        "www.isp.ne.jp": ("ne.jp", "isp.ne.jp"),
        # unknown TLD → default rule (last label)
        "www.example.zz": ("zz", "example.zz"),
    }
    for host, (pub, priv) in cases.items():
        assert extract_public_suffix(host) == pub, host
        assert extract_private_suffix(host) == priv, host

    from webarchive_discovery_spark.functions import psl

    counts = psl.rule_counts()
    if psl.USING_FULL_LIST:
        # complete upstream list found on this system (publicsuffix package /
        # JDK copy): Guava-scale coverage
        assert counts["exact"] > 9000 and counts["wildcard"] >= 30
    else:
        assert counts["exact"] > 700 and counts["wildcard"] >= 13
    assert counts["exception"] >= 8


def test_psl_snapshot_fallback_builds_standalone():
    """The embedded snapshot remains a working fallback when no system copy
    of the full list exists (deploys without the publicsuffix package)."""
    from webarchive_discovery_spark.functions.psl import _build

    exact, wildcards, exceptions = _build(None)  # force the snapshot path
    assert len(exact) > 700 and len(wildcards) >= 13 and len(exceptions) >= 8
    assert "co.uk" in exact and "kawasaki.jp" in wildcards
    assert "city.kawasaki.jp" in exceptions
