"""URL column functions for the frontier (R1/R2, BASELINE.json north_star:
"murmur3 over RFC-3986-normalized URLs").

Canonicalization has no Spark built-in, so it runs as an arrow_udf over
``pyarrow.Array`` buffers: the canonical-form accept-regex executes as
RE2 in C with zero Python object boxing, and only the non-canonical tail
is touched per-row (never row-at-a-time Python through serde). Hashing
stays JVM-side: ``F.hash`` *is* murmur3_x86_32 (seed 42) and
``F.xxhash64`` the 64-bit variant — no UDF needed. Host extraction from
an already-canonical URL is a pure JVM expression
(``url_host_canonical``).

This is an independent implementation of the same spec as
``oracle.canonicalize_url`` (the tests cross-check them):
lowercase scheme/host, strip trailing host dot + default port, resolve
dot-segments, percent-decode unreserved chars / uppercase other escapes,
drop fragment, empty path → "/". Non-http(s) or unparseable → null.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SPLIT = re.compile(
    r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.-]*)://(?P<auth>[^/?#]*)(?P<path>[^?#]*)"
    r"(?:\?(?P<query>[^#]*))?(?:#.*)?$"
)
_DEFAULT_PORT = {"http": "80", "https": "443"}
_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT = re.compile(r"%([0-9A-Fa-f]{2})|%")
_IPV6_AUTH = re.compile(r"^\[(?P<v6>[0-9A-Fa-f:.]+)\](?::(?P<port>\d*))?$")


def _pct_norm(s: str) -> str:
    def repl(m: re.Match) -> str:
        hx = m.group(1)
        if hx is None:
            return "%"  # stray '%' kept verbatim (oracle does the same)
        ch = chr(int(hx, 16))
        return ch if ch in _UNRESERVED else "%" + hx.upper()

    return _PCT.sub(repl, s)


def _dot_segments(path: str) -> str:
    segs: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if segs and segs[-1] != "":
                segs.pop()
                if not segs:
                    segs = [""]
        else:
            segs.append(seg)
    out = "/".join(segs)
    return out if out.startswith("/") else "/" + out


def canonicalize_one(url) -> str | None:
    if url is None:
        return None
    m = _SPLIT.match(str(url).strip())
    if m is None:
        return None
    scheme = m["scheme"].lower()
    if scheme not in _DEFAULT_PORT:
        return None
    auth = m["auth"]
    if "@" in auth:  # userinfo not supported by the oracle spec either
        auth = auth.rsplit("@", 1)[1]
    if auth.startswith("["):  # IPv6 literal: keep brackets, lowercase hex
        m6 = _IPV6_AUTH.match(auth)
        if m6 is None:
            return None
        host = f"[{m6['v6'].lower()}]"
        port = m6["port"]
    else:
        host, _sep, port = auth.partition(":")
        host = host.lower().rstrip(".")
    if not host or host == "[]":
        return None
    if port is not None and port != "":
        if not port.isdigit():
            return None
        # compare numerically: ':080' IS the default port (oracle twin
        # uses urlsplit().port, an int — which also REJECTS ports beyond
        # the 16-bit range, hypothesis-found divergence)
        if int(port) > 65535:
            return None
        if int(port) != int(_DEFAULT_PORT[scheme]):
            host = f"{host}:{int(port)}"
    path = _pct_norm(_dot_segments(m["path"] or "/"))
    query = m["query"]
    out = f"{scheme}://{host}{path}"
    if query is not None and query != "":
        out += "?" + _pct_norm(query)
    return out


def _host_of(url) -> str | None:
    if url is None:
        return None
    m = _SPLIT.match(str(url))
    if m is None:
        return None
    auth = m["auth"]
    if "@" in auth:
        auth = auth.rsplit("@", 1)[1]
    if auth.startswith("["):  # IPv6: unbracketed, like urlsplit().hostname
        m6 = _IPV6_AUTH.match(auth)
        return m6["v6"].lower() if m6 else None
    return auth.partition(":")[0].lower().rstrip(".") or None


# A URL this regex accepts is ALREADY in canonical form: lowercase
# http(s), strict lowercase hostname (no trailing dot, no userinfo, no
# port — default ports are the only ones most crawls see, and non-default
# ports fall through to the slow path), a path that starts with '/', and no
# '%' escapes, '#' fragment, empty query, or '.'/'..' segments anywhere.
# For every accepted URL, canonicalize(url) == url (property-tested).
_CANONICAL_RE = (
    r"^https?://"
    r"[a-z0-9](?:[a-z0-9\-]*[a-z0-9])?(?:\.[a-z0-9](?:[a-z0-9\-]*[a-z0-9])?)*"
    r"/[^%#?\s]*(?:\?[^%#\s]+)?$"
)
_DOTSEG_RE = r"/\.\.?(?:/|$)"
# RE2 (pyarrow) has no lookahead: the delimiter after the host is consumed
# by a non-capturing group instead; only the named group is extracted.
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?P<h>[^/:?#@\[]+)(?:[/:?#]|$)"


def _chunked(a):
    return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a


def _scatter_slow(n: int, slow_idx, values) -> pa.Array:
    """Full-length string array with `values` at `slow_idx`, null elsewhere
    — the cheap way to feed pc.if_else without boxing the fast rows."""
    out = [None] * n
    for i, v in zip(slow_idx, values):
        out[i] = v
    return pa.array(out, type=pa.string())


@F.arrow_udf(T.StringType())
def canonicalize_url(urls: pa.Array) -> pa.Array:
    """Two-tier INSIDE the UDF: an RE2 regex (pyarrow compute — C over
    Arrow buffers, zero Python boxing) accepts already-canonical URLs
    verbatim — the common case in a well-behaved crawl — and only the
    messy tail goes through the per-row ``canonicalize_one``. Two design
    constraints, both measured:

    * The tiering must live inside the UDF, not in a JVM ``F.when``:
      Catalyst's ExtractPythonUDFs hoists a Python UDF out of CASE WHEN
      and evaluates it for EVERY row, so a JVM-side fast path never skips
      Python work (verified on the physical plan).
    * It must be an arrow_udf, not a pandas_udf: pandas object-dtype
      conversion boxes every string twice (in+out), which cost ~10× the
      regex kernel itself on the 4M-row bench frontier stage.

    A DataFrame-level split-union (JVM rlike gate routes canonical rows
    around the UDF) was ALSO measured and rejected: java.util.regex
    evaluates the accept-pattern at ~6 µs/row, costing more than the
    Arrow round-trip it avoids (9.9 s vs 4.7 s for the 4M-row frontier
    canonicalize at 8 cores). RE2-via-pyarrow inside the UDF is ~20×
    faster than the same pattern in the JVM.
    """
    urls = _chunked(urls)
    fast = pc.fill_null(
        pc.and_kleene(
            pc.match_substring_regex(urls, _CANONICAL_RE),
            pc.invert(pc.match_substring_regex(urls, _DOTSEG_RE)),
        ),
        False,
    )
    mask = fast.to_numpy(zero_copy_only=False)
    if mask.all():
        return urls
    slow_idx = np.flatnonzero(~mask)
    slow_vals = urls.take(pa.array(slow_idx)).to_pylist()
    scattered = _scatter_slow(
        len(urls), slow_idx.tolist(), (canonicalize_one(v) for v in slow_vals)
    )
    return _chunked(pc.if_else(fast, urls, scattered))


@F.arrow_udf(T.StringType())
def url_host(urls: pa.Array) -> pa.Array:
    """Host extraction: RE2 extract for plain authorities (no userinfo /
    IPv6 bracket), per-row fallback for the rest. Same arrow-native
    rationale as ``canonicalize_url``."""
    urls = _chunked(urls)
    ext = pc.struct_field(pc.extract_regex(urls, _HOST_RE), "h")
    host = pc.utf8_rtrim(pc.utf8_lower(ext), ".")
    ok = pc.fill_null(pc.not_equal(host, ""), False)
    mask = ok.to_numpy(zero_copy_only=False)
    if mask.all():
        return host
    slow_idx = np.flatnonzero(~mask)
    slow_vals = urls.take(pa.array(slow_idx)).to_pylist()
    scattered = _scatter_slow(
        len(urls), slow_idx.tolist(), (_host_of(v) for v in slow_vals)
    )
    return _chunked(pc.if_else(ok, host, scattered))


def url_host_canonical(canon_url: Column) -> Column:
    """Host of an ALREADY-canonical URL — pure JVM expressions, no UDF.

    A canonical URL (output of ``canonicalize_url``) has the shape
    ``scheme://host[:port]/path[?query]`` with a lowercase host, no
    userinfo, no trailing dot — so host extraction is authority-split +
    port-strip, all whole-stage-codegen. Agrees with ``url_host`` on every
    canonical URL (property-tested); on non-canonical input use the UDF.
    Null/garbage input yields null, like the UDF.

    Deliberately regex-free on the hot path: java.util.regex costs
    ~1-2 µs/row, dominating this extraction at frontier row counts;
    locate+substring_index are plain codegen'd string scans. The one
    regexp_extract sits in a CASE branch only IPv6-literal rows enter
    (CASE evaluates branches lazily per row)."""
    # substring after the FIRST '://' (substring_index(-1) would take the
    # last — wrong when the path itself contains '://'); locate==0 means
    # no scheme separator at all → null, not a substring from position 3
    sep = F.locate("://", canon_url)
    rest = F.substring(canon_url, sep + F.lit(3), F.length(canon_url))
    auth = F.substring_index(rest, "/", 1)
    host = F.when(
        auth.startswith("["), F.regexp_extract(auth, r"^\[([^\]]+)\]", 1)
    ).otherwise(F.substring_index(auth, ":", 1))
    return F.when((sep == 0) | (host == ""), None).otherwise(host)


def url_path_query(canon_url: Column) -> Column:
    """path[?query] part of an already-canonical URL, for robots matching —
    pure JVM expression (regexp), no UDF."""
    return F.regexp_replace(canon_url, r"^[a-z]+://[^/]*", "")
