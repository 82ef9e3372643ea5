"""RFC 3986 canonicalization — every non-canonical variant the fixture
emits must collapse to the canonical frontier key."""

from __future__ import annotations

import pytest

from pegasus_spark.crawler.urlnorm import canonicalize_str

CANON = "https://h0.lianjia.test/ershoufang/gumei/pg2co32/"


@pytest.mark.parametrize(
    "variant",
    [
        CANON,
        "HTTPS://H0.Lianjia.TEST/ershoufang/gumei/pg2co32/",
        "https://h0.lianjia.test:443/ershoufang/gumei/pg2co32/",
        "https://h0.lianjia.test/ershoufang/gumei/pg2co32/#frag",
        "https://h0.lianjia.test/ershoufang/../ershoufang/gumei/pg2co32/",
        "https://h0.lianjia.test/ershoufang/./gumei/pg2co32/",
        "  https://h0.lianjia.test/ershoufang/gumei/pg2co32/  ",
    ],
)
def test_variants_collapse(variant):
    assert canonicalize_str(variant) == CANON


def test_non_default_port_kept():
    assert (
        canonicalize_str("https://h0.lianjia.test:8443/x/")
        == "https://h0.lianjia.test:8443/x/"
    )


def test_http_default_port():
    assert canonicalize_str("http://a.test:80/") == "http://a.test/"


def test_query_sorted():
    assert canonicalize_str("https://a.test/p?b=2&a=1") == "https://a.test/p?a=1&b=2"


def test_empty_path():
    assert canonicalize_str("https://a.test") == "https://a.test/"


def test_trailing_slash_significant():
    assert canonicalize_str("https://a.test/x") != canonicalize_str("https://a.test/x/")


@pytest.mark.parametrize(
    "url", ["http://a.test:abc/x", "http://a.test:65536/x", "http://a.test:-1/x"]
)
def test_bad_port_returned_unchanged(url):
    assert canonicalize_str(url) == url


@pytest.mark.parametrize(
    "url, want",
    [
        ("http://[::1]:8080/", "http://[::1]:8080/"),
        ("HTTP://[2001:DB8::1]:80/a/../b", "http://[2001:db8::1]/b"),
    ],
)
def test_ipv6_host_keeps_brackets(url, want):
    assert canonicalize_str(url) == want
