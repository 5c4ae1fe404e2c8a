"""URL canonicalization / per-domain corpus shaping (training-data ops).

Web-crawl corpora (Common Crawl derivatives like C4 / RefinedWeb /
FineWeb) dedup and downsample documents by URL before any content-level
pass: the same page is fetched under dozens of surface forms
(`HTTP://WWW.Example.com:80/a//b/?utm_source=x#top` is
`http://example.com/a/b`), and a handful of boilerplate-heavy hosts
otherwise dominate the corpus. This module provides that layer as pure
native SQL expressions — no UDF, fully whole-stage-codegen, and every
regex is RE2-safe (no backreferences / lookaround) so the DuckDB oracle
replays the exact same canonicalization.

Extends the reference's URL surface (F3 ``extract_domain`` /
P8 domain predicate, /root/reference/src/common/utils.py:120-161) from
"host of a URL" to the full canonical form a crawl pipeline keys on.

Canonicalization contract (deterministic, documented):
- NULL / empty / host-less input canonicalizes to ``''`` (unparseable
  marker — keeps the function total, lets callers quarantine)
- scheme-less input is treated as ``http://`` (crawl manifests carry a
  scheme; the default keeps ad-hoc host lists usable)
- scheme and host are lowercased; a trailing ``.`` on the host (DNS
  root form) is dropped
- default ports are dropped (``http``:80, ``https``:443); others kept
- the fragment is always dropped
- tracking query params are dropped (``TRACKING_PARAM_RE``); surviving
  params are byte-sorted so param order never splits one page into two
  keys (ASCII params assumed — crawl URLs)
- runs of ``/`` in the path collapse to one; trailing ``/`` is dropped
  (root path canonicalizes to no path at all, so ``http://x.com`` ==
  ``http://x.com/``)
- percent-encoding is NOT normalized (``%41`` vs ``A`` stay distinct) —
  a lossless simplification, stated so the contract is checkable

Scale: every function here is a projection — zero shuffles.
``url_dedup`` is one partial-aggregated shuffle + a semi join (AQE
broadcasts the keep-set when small); ``domain_cap`` inherits
``cap_per_key``'s two-level salted top-n, so the pathological 10⁹-row
host — exactly the key whose pile-up the cap exists to remove — fans
out over ``salt_buckets`` parallel tasks instead of serializing into
one (see cap_per_key's docstring for the exactness argument).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "TRACKING_PARAM_RE", "SECOND_LEVEL_LABELS", "URL_IN_TEXT_RE",
    "canonicalize_url", "url_key", "host_key", "registrable_domain",
    "url_dedup", "domain_cap", "extract_urls", "filter_blocked_domains",
]

# Anchored RE2-safe matcher for one `key=value` (or bare `key`) query
# param that is pure click-tracking. Shared verbatim with the DuckDB
# oracle (plans/text.py _URL_SQL) — change both together.
TRACKING_PARAM_RE = (
    r"^(utm_[a-zA-Z0-9_]*|fbclid|gclid|dclid|msclkid|mc_eid|mc_cid"
    r"|igshid|_ga|yclid)(=.*)?$"
)

# Heuristic public-suffix-lite: second-level labels under a short TLD
# that act as a suffix (example.com.au → registrable example.com.au,
# not com.au). A full Public Suffix List is a data file, not logic;
# this allowlist covers the reference's AU-centric corpus plus the
# global common cases, and the heuristic is part of the contract.
SECOND_LEVEL_LABELS = ("com", "net", "org", "gov", "edu", "ac", "co", "asn")

_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://"


# ---------------------------------------------------------------------------
# SQL templates: every key function takes its input as a COLUMN NAME and
# renders the whole canonicalization as ONE SQL string, which parses in
# ONE py4j round trip — an equivalent Column tree costs one round trip
# per node (~2,500 for the url branch of corpus_filter_stats). Values
# are pinned against the Python twin of the contract in
# tests/test_urls.py and against the DuckDB oracle (plans/text.py
# _URL_SQL) through the corpus_filter_stats url folds.
# ---------------------------------------------------------------------------

def _sq(s: str) -> str:
    """SQL single-quoted string literal (backslashes/quotes escaped —
    the session keeps the default escapedStringLiterals=false)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _qcol(name: str) -> str:
    """Backtick-quoted column reference with ``F.col``'s dotted-name
    semantics: each dot-separated segment quotes separately, so a
    caller passing ``"meta.url"`` gets nested-struct field access
    (``\\`meta\\`.\\`url\\```) exactly as ``F.col`` resolves it —
    whole-name quoting would instead demand a top-level column
    literally named ``meta.url`` (r12, closing the r11 advice)."""
    return ".".join("`" + seg.replace("`", "``") + "`"
                    for seg in name.split("."))


def _u_sql(e: str) -> str:
    c = f"coalesce({e}, '')"
    s = _sq(_SCHEME_RE)
    return (f"CASE WHEN {c} = '' THEN {c} ELSE "
            f"CASE WHEN {c} RLIKE {s} THEN {c} "
            f"ELSE concat('http://', {c}) END END")


def _parts_sql(e: str) -> dict[str, str]:
    u = _u_sql(e)
    scheme_cap = _sq(r'^([a-zA-Z][a-zA-Z0-9+.\-]*)://')
    query_cap = _sq(r'^[^?#]*\?([^#]*)')
    rest = f"regexp_replace({u}, {_sq(_SCHEME_RE)}, '')"
    tail = f"regexp_replace({rest}, '^[^/?#]*', '')"
    return {
        "scheme": f"lower(regexp_extract({u}, {scheme_cap}, 1))",
        "authority": f"regexp_extract({rest}, '^([^/?#]*)', 1)",
        "path": f"regexp_extract({tail}, '^([^?#]*)', 1)",
        "query": f"regexp_extract({tail}, {query_cap}, 1)",
    }


def _host_of_sql(authority: str, strip_www: bool) -> str:
    trail_dot = _sq(r'\.$')
    www = _sq(r'^www\.')
    host = f"lower(regexp_replace({authority}, ':[0-9]*$', ''))"
    host = f"regexp_replace({host}, {trail_dot}, '')"
    if strip_www:
        host = f"regexp_replace({host}, {www}, '')"
    return host


def _canonical_sql(e: str, *, strip_www: bool, with_scheme: bool,
                   tracking_re: str, sort_params: bool) -> str:
    p = _parts_sql(e)
    host = _host_of_sql(p["authority"], strip_www)
    port = f"regexp_extract({p['authority']}, ':([0-9]+)$', 1)"
    default_port = (f"(({p['scheme']} = 'http' AND {port} = '80') OR "
                    f"({p['scheme']} = 'https' AND {port} = '443'))")
    portpart = (f"CASE WHEN ({port} = '' OR {default_port}) THEN '' "
                f"ELSE concat(':', {port}) END")
    path = f"regexp_replace({p['path']}, '/{{2,}}', '/')"
    path = f"regexp_replace({path}, '/+$', '')"
    params = (f"filter(split({p['query']}, '&'), "
              f"q -> q != '' AND NOT (q RLIKE {_sq(tracking_re)}))")
    if sort_params:
        params = f"array_sort({params})"
    qs = f"array_join({params}, '&')"
    qspart = (f"CASE WHEN {qs} = '' THEN {qs} "
              f"ELSE concat('?', {qs}) END")
    prefix = (f"concat({p['scheme']}, '://'), " if with_scheme else "'', ")
    return (f"CASE WHEN {host} = '' THEN '' ELSE "
            f"concat({prefix}{host}, {portpart}, {path}, {qspart}) END")


def _registrable_domain_sql(e: str) -> str:
    host = _host_of_sql(_parts_sql(e)["authority"], strip_www=False)
    dot = _sq(r'\.')
    labels = f"split({host}, {dot})"
    n = f"size({labels})"
    last = f"element_at({labels}, -1)"
    second = f"element_at({labels}, -2)"
    in_list = ", ".join(_sq(x) for x in SECOND_LEVEL_LABELS)
    suffix3 = (f"({n} >= 3 AND length({last}) <= 3 "
               f"AND {second} IN ({in_list}))")
    return (f"CASE WHEN {host} = '' THEN '' "
            f"WHEN {n} <= 2 THEN {host} "
            f"WHEN {suffix3} THEN concat_ws('.', "
            f"element_at({labels}, -3), {second}, {last}) "
            f"ELSE concat_ws('.', {second}, {last}) END")


def _host(url: str, strip_www: bool) -> Column:
    return F.expr(_host_of_sql(_parts_sql(_qcol(url))["authority"],
                               strip_www))


def canonicalize_url(url: str, *, strip_www: bool = False,
                     tracking_re: str = TRACKING_PARAM_RE,
                     sort_params: bool = True) -> Column:
    """Full canonical URL string per the module contract ('' = bad) of
    the column named ``url`` (dotted names reach nested struct fields,
    as ``F.col`` resolves them)."""
    return F.expr(_canonical_sql(
        _qcol(url), strip_www=strip_www, with_scheme=True,
        tracking_re=tracking_re, sort_params=sort_params))


def url_key(url: str) -> Column:
    """Dedup key: canonical form minus scheme, ``www.`` stripped — the
    form under which http/https and www/bare fetches of one page
    collide. '' = unparseable (callers should quarantine, not dedup,
    the '' group). ``url`` is a column name (see ``canonicalize_url``)."""
    return F.expr(_canonical_sql(
        _qcol(url), strip_www=True, with_scheme=False,
        tracking_re=TRACKING_PARAM_RE, sort_params=True))


def host_key(url: str) -> Column:
    """Full lowercase host of a URL ('' = no host): port stripped,
    trailing dot dropped, ``www.`` KEPT (subdomains are signal — this
    is the key host-granularity PageRank and authority-weighted
    shaping rank on, where ``registrable_domain`` would collapse
    blog.example.com and spam.example.com into one node). Accepts full
    URLs or bare hosts (scheme defaulted). ``url`` is a column name
    (see ``canonicalize_url``)."""
    return _host(url, strip_www=False)


def registrable_domain(url: str) -> Column:
    """Heuristic registrable domain ('' = no host): last two labels of
    the host, or last three when the TLD is ≤3 chars and the
    second-level label is in ``SECOND_LEVEL_LABELS`` (example.com.au).
    Accepts full URLs or bare hosts (scheme defaulted). ``url`` is a
    column name (see ``canonicalize_url``)."""
    return F.expr(_registrable_domain_sql(_qcol(url)))


def url_dedup(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """Keep one row per ``url_key`` — the min-``id_col`` row
    (deterministic keep-first). Unparseable URLs (key='') are NOT
    collapsed into one survivor: they keep all their rows, because ''
    marks "unknown page", not "same page".

    Shape: partial-aggregated ``groupBy(min(id))`` (map-side combine,
    skew-safe — the same shape line_dedup mode='first' uses) + a semi
    join back on (key, id). No window, no row funnel.
    """
    tagged = df.withColumn("__uk", url_key(url_col))
    firsts = (tagged.filter(F.col("__uk") != "")
              .groupBy("__uk").agg(F.min(id_col).alias(id_col)))
    kept = tagged.join(firsts, ["__uk", id_col], "leftsemi")
    bad = tagged.filter(F.col("__uk") == "")
    return kept.unionByName(bad).drop("__uk")


def domain_cap(df: DataFrame, url_col: str, n: int,
               order_col: str | None = None,
               salt_buckets: int = 64,
               authority: DataFrame | None = None) -> DataFrame:
    """Keep ≤ ``n`` rows per registrable domain (anti-over-representation
    guard). Deterministic keep order per ``cap_per_key`` (``order_col``
    ascending when given — e.g. a negated quality score to keep the
    best — else a seeded content hash). The '' (host-less) group is
    capped too: it is a real over-representation bucket in dirty crawls.
    Skew-safe on the default path: cap_per_key's two-level salted
    top-n means a mega-host never serializes into one task.

    ``authority`` closes the loop ``graph.pagerank`` opens: a
    ``(node, rank)`` frame over FULL HOSTS (``host_graph(...,
    granularity='host')`` → ``pagerank``) is broadcast-joined on
    ``host_key`` and the keep order becomes highest-authority-first —
    under the cap, a registrable domain keeps its best-ranked
    subdomains' docs instead of a hash-random sample (unknown hosts
    rank as 0, i.e. last among ranked hosts; ties still break on the
    content hash, so the kept set stays layout-independent).
    Mutually exclusive with ``order_col``."""
    from .textstats import cap_per_key
    if authority is not None and order_col is not None:
        raise ValueError("pass order_col OR authority, not both")
    tagged = df.withColumn("__dom", registrable_domain(url_col))
    if authority is not None:
        node_col, rank_col = authority.columns[0], authority.columns[1]
        auth = authority.select(F.col(node_col).alias("__ahost"),
                                F.col(rank_col).alias("__arank"))
        # no broadcast hint: a rank table is one row per host — tiny at
        # test scale (AQE broadcasts it anyway) but 10^8 rows on a full
        # crawl, where this must stay a shuffled equi-join with AQE
        # skew handling on the doc side's hot hosts
        tagged = (tagged.withColumn("__host", host_key(url_col))
                  .join(auth,
                        F.col("__host") == F.col("__ahost"), "left")
                  .withColumn("__neg_auth",
                              -F.coalesce("__arank", F.lit(0.0)))
                  .drop("__host", "__ahost", "__arank"))
        return cap_per_key(tagged, ["__dom"], n, order_col="__neg_auth",
                           salt_buckets=salt_buckets) \
            .drop("__dom", "__neg_auth")
    return cap_per_key(tagged, ["__dom"], n, order_col=order_col,
                       salt_buckets=salt_buckets).drop("__dom")


URL_IN_TEXT_RE = r"https?://[^\s<>\"')\]]+"


def extract_urls(text: Column) -> Column:
    """All http(s) URLs appearing in free text (array<string>, [] when
    none) — the outlink extractor quality signals and link-graph
    analyses start from. RE2-safe single regex, pure projection; the
    trailing-punctuation convention (stop at whitespace / common
    closers) is the usual crawl heuristic, documented not configurable."""
    return F.coalesce(
        F.regexp_extract_all(F.coalesce(text, F.lit("")),
                             F.lit(URL_IN_TEXT_RE), F.lit(0)),
        F.array().cast("array<string>"))


def filter_blocked_domains(df: DataFrame, url_col: str, blocked,
                           mode: str = "domain") -> DataFrame:
    """Blocklist filter (the RefinedWeb shape: a multi-million-entry
    domain blocklist applied before anything content-level): drop rows
    whose registrable domain (``mode='domain'``) or full host
    (``mode='host'``) appears in ``blocked``.

    ``blocked`` is a 1-column DataFrame or an iterable of strings.
    Entries are normalized through the SAME key function as the data
    side (case-insensitive; under mode='domain' an entry
    'www.Spam.example.COM' normalizes to 'example.com' and therefore
    blocks the whole registrable domain — use mode='host' when an
    entry is meant to block only one host).

    Scale: broadcast LEFT ANTI join — a blocklist is millions of rows,
    tiny next to a crawl; an ``isin`` literal list would compile an
    unbounded expression tree into every task. Unparseable URLs
    (key='') are NEVER dropped by the blocklist — '' is "unknown", and
    a blocklist entry cannot mean "unknown".
    """
    if mode not in ("domain", "host"):
        raise ValueError(f"mode must be 'domain' or 'host', got {mode!r}")
    if not isinstance(blocked, DataFrame):
        blocked = df.sparkSession.createDataFrame(
            [(b,) for b in blocked], "b string")

    def key(url: str) -> Column:
        return (registrable_domain(url) if mode == "domain"
                else _host(url, strip_www=True))

    blk = (blocked.select(key(blocked.columns[0]).alias("__blk"))
           .where(F.col("__blk") != "").distinct())
    tagged = df.withColumn("__key", key(url_col))
    kept = (tagged.join(F.broadcast(blk),
                        tagged["__key"] == blk["__blk"], "left_anti")
            .drop("__key"))
    return kept
