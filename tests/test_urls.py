"""URL canonicalization / shaping operators (operators/urls.py).

Golden cases pin every clause of the documented contract; a python
re-implementation of the SAME contract fuzzes the composition; the
operator tests pin url_dedup's keep-choice and domain_cap's cap.
(The DuckDB string-twin is exercised by the corpus_filter_stats
kind='url*' oracle fold in test_queries_oracle.py.)
"""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark.operators import urls as U


def _canon(spark, values, **kw):
    df = spark.createDataFrame([(v,) for v in values], "url string")
    out = df.select(U.canonicalize_url("url", **kw).alias("c"))
    return [r.c for r in out.collect()]


GOLDENS = [
    # case folding + default port + // collapse + trailing / + tracking
    # strip + param sort + fragment drop
    ("HTTP://WWW.Example.com:80/a//b/?utm_source=x&b=2&a=1#top",
     "http://www.example.com/a/b?a=1&b=2"),
    # https default port, root path collapses away entirely
    ("https://Example.COM.AU:443/", "https://example.com.au"),
    # non-default port kept; scheme-less input defaults to http
    ("example.org:8080/x/", "http://example.org:8080/x"),
    # tracking-only query → no '?' at all
    ("https://host.com/?utm_source=a&utm_medium=b", "https://host.com"),
    # bare tracking param (no '=') is still stripped
    ("http://a.com/?utm_source", "http://a.com"),
    # non-tracking params survive, sorted
    ("http://a.com/p?b=1&a=2", "http://a.com/p?a=2&b=1"),
    # DNS-root trailing dot on the host
    ("http://example.com./x", "http://example.com/x"),
    # percent-encoding is NOT normalized
    ("http://a.com/%41", "http://a.com/%41"),
    # _ga / yclid / fbclid are tracking; 'gaq' is not
    ("http://a.com/?_ga=1&gaq=2&fbclid=3", "http://a.com?gaq=2"),
    # empty / NULL / host-less → ''
    ("", ""),
    (None, ""),
    ("/relative/path", ""),
]


def test_canonicalize_goldens(spark):
    got = _canon(spark, [g[0] for g in GOLDENS])
    for (src, want), out in zip(GOLDENS, got):
        assert out == want, f"{src!r}: {out!r} != {want!r}"


def test_url_key_merges_scheme_and_www(spark):
    variants = [
        "http://www.page.net/art?id=3",
        "https://page.net/art/?utm_source=rss&id=3",
        "HTTPS://WWW.PAGE.NET:443/art?id=3",
    ]
    df = spark.createDataFrame([(v,) for v in variants], "url string")
    keys = {r.k for r in
            df.select(U.url_key("url").alias("k")).collect()}
    assert keys == {"page.net/art?id=3"}


@pytest.mark.parametrize("host,want", [
    ("www.site.example.com.au", "example.com.au"),
    ("sub.example.org", "example.org"),
    ("example.com", "example.com"),
    ("localhost", "localhost"),
    ("a.b.co.uk", "b.co.uk"),
    ("x.y.github.io", "github.io"),
    ("deep.cs.ac.nz", "cs.ac.nz"),
    ("", ""),
])
def test_registrable_domain(spark, host, want):
    df = spark.createDataFrame([(host,)], "h string")
    got = df.select(U.registrable_domain("h").alias("d")).collect()[0].d
    assert got == want


# ---------------------------------------------------------------------------
# python twin of the documented contract — independent implementation
# ---------------------------------------------------------------------------

def _py_canonical(url, strip_www=False, with_scheme=True):
    if url is None or url == "":
        return ""
    u = url if re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", url) \
        else "http://" + url
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://(.*)$", u, re.S)
    scheme, rest = m.group(1).lower(), m.group(2)
    am = re.match(r"^([^/?#]*)", rest)
    authority = am.group(1)
    tail = rest[len(authority):]
    path = re.match(r"^([^?#]*)", tail).group(1)
    qm = re.match(r"^[^?#]*\?([^#]*)", tail)
    query = qm.group(1) if qm else ""
    host = re.sub(r":[0-9]*$", "", authority).lower()
    host = re.sub(r"\.$", "", host)
    if strip_www:
        host = re.sub(r"^www\.", "", host)
    if host == "":
        return ""
    pm = re.search(r":([0-9]+)$", authority)
    port = pm.group(1) if pm else ""
    if (scheme, port) in (("http", "80"), ("https", "443")):
        port = ""
    path = re.sub(r"/{2,}", "/", path)
    path = re.sub(r"/+$", "", path)
    params = sorted(p for p in query.split("&")
                    if p and not re.match(U.TRACKING_PARAM_RE, p))
    out = (f"{scheme}://" if with_scheme else "") + host
    if port:
        out += ":" + port
    out += path
    if params:
        out += "?" + "&".join(params)
    return out


# hostile extras beyond the fuzz grammar: odd and doubled ports, empty
# params, weird schemes, doubled '?', host-less and scheme-less forms
HOSTILE = [
    "https://sub.blog.example.co:8443//a///b//?z=9&utm_campaign&y=2#f",
    "http://:80/nohost", "scheme://h.gov.au/p?a=%41&b=a",
    "HtTpS://WWW.x.Y.asn.AU/p?utm_x=1&gclid=2", "just text",
    "http://host/?&&", "http://host/??a=1", "http://h/p#a?b=1",
    "http://h:8080:9090/p", "http://h/p?a=1&a=1&A=1", "//weird",
    "www.foo.NET/path//", "ftp://Host.Org:21/p?q=1",
]


def test_canonicalize_fuzz_vs_python_twin(spark):
    rng = random.Random(7)
    schemes = ["http://", "https://", "HTTP://", "FTP://", ""]
    hosts = ["www.Example.com", "a.b.CO.uk", "site.example.com.au.",
             "localhost", "x--y.net", ""]
    ports = ["", ":80", ":443", ":8080", ":"]
    paths = ["", "/", "//a//b/", "/a/b.html", "/%41/c", "///"]
    queries = ["", "?a=1&b=2", "?utm_source=x", "?b=2&a=1&utm_a=3",
               "?dup=1&dup=1", "?_ga=9&q=s", "?bare"]
    frags = ["", "#f", "#a?b=1"]
    cases = ["".join(rng.choice(x) for x in
                     (schemes, hosts, ports, paths, queries, frags))
             for _ in range(300)] + HOSTILE
    got = _canon(spark, cases)
    for src, out in zip(cases, got):
        assert out == _py_canonical(src), f"diverged on {src!r}"
    df = spark.createDataFrame([(c,) for c in cases], "url string")
    keys = [r.k for r in df.select(U.url_key("url").alias("k")).collect()]
    for src, key in zip(cases, keys):
        assert key == _py_canonical(src, strip_www=True,
                                    with_scheme=False), \
            f"url_key diverged on {src!r}"


# ---------------------------------------------------------------------------
# shaping operators
# ---------------------------------------------------------------------------

def test_url_dedup_keeps_min_id_and_all_unparseable(spark):
    rows = [
        (1, "https://www.page.net/a?utm_source=x"),
        (2, "http://page.net/a/"),          # same key as id 1
        (3, "http://page.net/a?x=1"),       # different key
        (4, ""),                            # unparseable — kept
        (5, None),                          # unparseable — kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = sorted(r.doc_id for r in
                  U.url_dedup(df, "url", "doc_id").collect())
    assert kept == [1, 3, 4, 5]


def test_domain_cap_caps_per_registrable_domain(spark):
    rows = [(i, f"http://h{i % 2}.big.example.com/p{i}", i)
            for i in range(10)]
    rows += [(100, "http://small.org/x", 0)]
    df = spark.createDataFrame(rows, "doc_id long, url string, ord long")
    out = U.domain_cap(df, "url", 3, order_col="ord")
    got = sorted(r.doc_id for r in out.collect())
    # example.com group keeps ord-ascending ids 0,1,2; small.org all
    assert got == [0, 1, 2, 100]
    assert "__dom" not in out.columns


def test_domain_cap_deterministic_without_order_col(spark):
    rows = [(i, "http://one.example.net/p%d" % i) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    a = sorted(r.doc_id for r in U.domain_cap(df, "url", 4).collect())
    b = sorted(r.doc_id for r in
               U.domain_cap(df.repartition(7), "url", 4).collect())
    assert a == b and len(a) == 4


def test_extract_urls_from_text(spark):
    rows = [
        ("see https://a.com/x and http://b.org/y?z=1.", 2),
        ("no links here", 0),
        (None, 0),
        ("wrapped (https://c.net/p) and <https://d.io/q>", 2),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    got = [len(r.u) for r in
           df.select(U.extract_urls(F.col("text")).alias("u")).collect()]
    assert got == [n for _, n in rows]
    one = df.select(U.extract_urls(F.col("text")).alias("u")) \
        .collect()[3].u
    assert one == ["https://c.net/p", "https://d.io/q"]


def test_filter_blocked_domains_modes(spark):
    rows = [
        (1, "http://WWW.Spam.example.com/a"),   # domain example.com
        (2, "https://good.org/b"),
        (3, "http://sub.spam-site.net/c"),
        (4, ""),                                 # unparseable — kept
        (5, "http://spam-site.net/d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    # domain mode: blocklist entries normalize to registrable domains
    kept = sorted(r.doc_id for r in U.filter_blocked_domains(
        df, "url", ["Spam-Site.NET", "http://x.example.com/ignored"]
    ).collect())
    assert kept == [2, 4]
    # host mode: only the exact (www-less) host is blocked
    kept = sorted(r.doc_id for r in U.filter_blocked_domains(
        df, "url", ["sub.spam-site.net"], mode="host").collect())
    assert kept == [1, 2, 4, 5]
    # DataFrame blocklist form
    blk = spark.createDataFrame([("spam-site.net",)], "d string")
    kept = sorted(r.doc_id for r in
                  U.filter_blocked_domains(df, "url", blk).collect())
    assert kept == [1, 2, 4]


def test_filter_blocked_domains_plan_broadcasts(spark):
    df = spark.createDataFrame([(1, "http://a.com/x")],
                               "doc_id long, url string")
    out = U.filter_blocked_domains(df, "url", ["b.com"])
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "Broadcast" in buf.getvalue()


def test_name_form_resolves_nested_struct_fields(spark):
    """_qcol quotes dot-separated segments individually (r12, advice):
    a caller passing "meta.url" gets nested-struct field access exactly
    as F.col("meta.url") resolves it — whole-name backtick quoting
    would instead demand a top-level column literally named "meta.url"
    and raise."""
    df = spark.createDataFrame(
        [("x", ("HTTP://WWW.Example.com:80/a//b/?utm_source=x&b=2&a=1",))],
        "id string, meta struct<url: string>")
    out = df.select(
        U.canonicalize_url("meta.url").alias("cn"),
        U.url_key("meta.url").alias("kn"),
        U.host_key("meta.url").alias("hn"),
        U.registrable_domain("meta.url").alias("rn"))
    r = out.collect()[0]
    assert r["cn"] == "http://www.example.com/a/b?a=1&b=2"
    assert r["kn"] == "example.com/a/b?a=1&b=2"
    assert r["hn"] == "www.example.com" and r["rn"] == "example.com"
