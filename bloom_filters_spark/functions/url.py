"""URL canonicalization for web-page dedup keys — pure JVM expressions
(regexp extract/replace chains, codegen'd, no Python) so the column
composes with scans and the DuckDB oracle can mirror it.

Canonical form (the common CC-pipeline normalization), after control
characters (ASCII 0-31 and 127) are stripped:

1. drop the ``#fragment``;
2. lowercase scheme and host (path/query case preserved);
3. drop a leading ``www.`` host label;
4. drop the scheme's default port (``:80`` http, ``:443`` https);
5. remove tracking query params (``utm_*``, ``gclid``, ``fbclid``,
   ``ref``) and clean up leftover ``?``/``&`` separators;
6. strip trailing slashes from a query-less path (empty path → ``/``).

Inputs that don't parse as ``scheme://...`` are passed through with
only fragment stripping — canonicalization must never invent structure.

Note for the oracle author: Java regex replacement refs are ``$1``,
DuckDB/RE2 uses ``\\1`` and needs the ``'g'`` flag — the SQL mirror in
``__spark_entry__.oracle_sql`` differs in exactly those two spellings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
REST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)"
TRACKING_RE = r"([?&])(utm_[A-Za-z0-9_]+|gclid|fbclid|ref)=[^&#]*"
CONTROL_RE = r"[\x00-\x1f\x7f]"


def host_expr(url: Column) -> Column:
    """Registrable host key for per-domain operators (caps, stats,
    stratified sampling): lowercase authority with any ``userinfo@``
    prefix, the ``www.`` label, and any ``:port`` stripped.  Userinfo
    must go FIRST: ``http://x@blocked.com/`` would otherwise key on
    ``x@blocked.com`` and sail past every blocklist and domain cap.
    Pure JVM regexp chain (codegen'd)."""
    host = F.lower(F.regexp_extract(url, HOST_RE, 1))
    host = F.regexp_replace(host, r"^[^@]*@", "")
    host = F.regexp_replace(host, r"^www\.", "")
    return F.regexp_replace(host, r":[0-9]+$", "")


def host_blocked_expr(url: Column, blocked_hosts) -> Column:
    """True when the URL's host is a blocked domain or any subdomain of
    one (``a.b.example.com`` matches blocklist entry ``example.com``).
    ``blocked_hosts`` is a small Python list (domain blocklists are
    thousands of entries) compiled into ONE literal array membership +
    suffix test — pure JVM, no join, no shuffle; for million-entry
    blocklists use a broadcast semi-join on host_expr instead."""
    h = host_expr(url)
    arr = F.array(*[F.lit(b.lower()) for b in blocked_hosts])
    return F.exists(
        arr, lambda b: (h == b) | h.endswith(F.concat(F.lit("."), b))
    )


def canonicalize_url_expr(url: Column) -> Column:
    # control characters are not legal in a URL, and the chain below
    # uses \x01/\x02 as sentinels: strip them once, up front, so a
    # stray \x01 in the input can neither collide with a sentinel nor
    # split one key into two
    url = F.regexp_replace(url, CONTROL_RE, "")
    scheme = F.lower(F.regexp_extract(url, SCHEME_RE, 1))
    host = F.lower(F.regexp_extract(url, HOST_RE, 1))
    # drop userinfo@ (dedup keys identify the resource, not the
    # credentials; lowercasing it would also be wrong)
    host = F.regexp_replace(host, r"^[^@]*@", "")
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.when(
        scheme == "http", F.regexp_replace(host, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(host, r":443$", "")
    ).otherwise(host)

    rest = F.regexp_extract(url, REST_RE, 1)  # path[?query], no fragment
    # tracking params live in the QUERY only — '&' is a legal path
    # character, so '/a&ref=b' (no '?') must stay intact, not be
    # rewritten into the canonical key of the distinct page '/a'.
    #
    # The chain below is deliberately LINEAR (each step references its
    # input exactly once): Catalyst Columns are expression TREES, so a
    # branching formulation (F.when on a derived query column) inlines
    # the whole upstream chain once per reference and the generated
    # code re-evaluates every regexp several times per row — measured
    # ~1.6x slower on the canonical-clusters query.  \x01 marks the
    # path/query boundary and \x02 the string start (control chars were
    # stripped above); no RE2-unsupported lookarounds, so
    # the DuckDB oracle stays mirrorable.
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_replace(rest, r"^[^?]*\??", "")  # '' when no '?'
    # uniform '&'-prefixed params, kill tracking ones, clean debris
    query = F.regexp_replace(
        F.concat(F.lit("&"), query), TRACKING_RE, ""
    )
    query = F.regexp_replace(query, r"&&+", "&")
    query = F.regexp_replace(query, r"^&+", "")
    query = F.regexp_replace(query, r"&+$", "")
    s = F.concat(path, F.lit("\x01"), query)
    # query empty (sentinel at end): strip the path's trailing slashes
    s = F.regexp_replace(s, "/+\x01$", "\x01")
    s = F.regexp_replace(s, "\x01$", "")    # empty query: drop sentinel
    s = F.regexp_replace(s, "\x01", "?")    # non-empty: boundary → '?'
    s = F.concat(F.lit("\x02"), s)
    s = F.regexp_replace(s, "^\x02$", "/")  # empty rest → '/'
    rest = F.regexp_replace(s, "^\x02", "")

    out = F.concat(scheme, F.lit("://"), host, rest)
    # unparseable (no scheme://): pass through minus fragment
    return F.when(
        scheme != "", out
    ).otherwise(F.regexp_replace(url, r"#.*$", ""))
