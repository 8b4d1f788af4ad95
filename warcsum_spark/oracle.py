"""Pure-Python single-node oracle for the warcsum pipeline semantics.

No Spark, no pandas — this is the executable spec (SURVEY.md §5.2 item 1).
It implements the *documented* semantics of the reference
(/root/reference/warcsum.1, warccollres.1, warcsumproc; structure per
SURVEY.md §2), against which the Spark engine must match byte-for-byte:

* gzip-member walk of a ``.warc.gz`` (one WARC record per gzip member,
  compressed offset/length reported — warcsum.c:822, :842, :859)
* WARC + HTTP header parsing, case-insensitive keys (warcsum.c:280–584)
* response/application-http filters (warcsum.c:478–509)
* payload = member bytes after both header blocks, minus the trailing
  4-byte ``\\r\\n\\r\\n`` separator (warcsum.c:621–806)
* digest: recompute over payload, or reuse the stored
  ``WARC-Payload-Digest`` (base32 → hex) when algo matches and not forced
  (documented semantics of warcsum.1:52–55; the C code's inverted
  ``recalculate_hash`` flag at warcsum.c:414–417 is a known bug we do NOT
  reproduce — see SURVEY.md §2.3 F4)
* collision resolution: within a same-digest cluster, group members by
  exact payload bytes in first-seen order → ``ext`` (warccollres.c:1039–1130)
* copy numbering: ``copy_no`` within (digest, ext), first copy is the
  reference member for later copies (warcsumproc:37–53)
* frontier simulator: deterministic crawl ordering oracle (north_rule)
"""

from __future__ import annotations

import base64
import hashlib
import os
import re
import zlib
from dataclasses import dataclass, field

HASH_ALGOS = {"md5", "sha1", "sha256", "sha512"}
SEPARATOR = b"\r\n\r\n"


# ---------------------------------------------------------------------------
# gzip member walk
# ---------------------------------------------------------------------------

_GZIP_CHUNK = 1 << 16


def iter_gzip_members(data: bytes):
    """Yield (offset, compressed_length, inflated_bytes) per gzip member.

    A .warc.gz is a concatenation of independent gzip members
    (warcsum.h:20–21). zlib with wbits=31 stops at each member's end;
    ``unused_data`` marks the start of the next member. Each inflater is
    fed ``_GZIP_CHUNK``-byte slices of a ``memoryview``, so the walk is
    linear in the file size (no per-member copy of the rest of the file).
    """
    view = memoryview(data)
    pos, n = 0, len(view)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        out = []
        end = pos
        while not d.eof and end < n:
            out.append(d.decompress(view[end : end + _GZIP_CHUNK]))
            end = min(end + _GZIP_CHUNK, n)
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        consumed = end - pos - len(d.unused_data)
        yield pos, consumed, b"".join(out)
        pos += consumed


def parse_archive(path: str) -> list[dict]:
    """Every record of an archive as {type, uri, date, headers, body}:
    the WARC header block split on ``": "`` (all record types, no
    filters) and ``body`` = the Content-Length bytes after it. The
    round-trip reference for the sink tests — independent of the engine
    scanner."""
    with open(path, "rb") as f:
        data = f.read()
    out = []
    for _, _, member in iter_gzip_members(data):
        head, _, rest = member.partition(b"\r\n\r\n")
        hdrs = {}
        for ln in head.split(b"\r\n")[1:]:
            k, _, v = ln.partition(b": ")
            hdrs[k.decode()] = v.decode()
        out.append(
            {
                "type": hdrs["WARC-Type"],
                "uri": hdrs["WARC-Target-URI"],
                "date": hdrs["WARC-Date"],
                "headers": hdrs,
                "body": rest[: int(hdrs["Content-Length"])],
            }
        )
    return out


# ---------------------------------------------------------------------------
# header parsing
# ---------------------------------------------------------------------------

@dataclass
class WarcMember:
    warcfile: str
    offset: int
    length: int  # compressed member length
    warc_type: str | None = None
    uri: str | None = None
    date: str | None = None
    content_type: str | None = None
    stored_algo: str | None = None
    stored_digest_b32: str | None = None
    payload: bytes = b""
    is_warc: bool = False


def parse_member(inflated: bytes, warcfile: str, offset: int, length: int) -> WarcMember:
    m = WarcMember(warcfile=warcfile, offset=offset, length=length)
    # P4: first line must be WARC/1.0 (case-insensitive, warcsum.c:330–347)
    first_nl = inflated.find(b"\r\n")
    if first_nl < 0 or not inflated[:first_nl].upper().startswith(b"WARC/"):
        return m
    m.is_warc = True
    warc_end = inflated.find(SEPARATOR)
    if warc_end < 0:
        return m
    header_block = inflated[first_nl + 2 : warc_end]
    for line in header_block.split(b"\r\n"):
        sp = line.find(b":")
        if sp < 0:
            continue
        key = line[:sp].strip().lower()
        val = line[sp + 1 :].strip()
        if key == b"warc-type":
            m.warc_type = val.decode("utf-8", "replace")
        elif key == b"warc-target-uri":
            m.uri = val.decode("utf-8", "replace")
        elif key == b"warc-date":
            m.date = val.decode("utf-8", "replace")
        elif key == b"content-type":
            # prefix before ';' (warcsum.c:442–455)
            m.content_type = val.split(b";", 1)[0].strip().decode("utf-8", "replace")
        elif key == b"warc-payload-digest":
            colon = val.find(b":")
            if colon > 0:
                m.stored_algo = val[:colon].decode("utf-8", "replace").lower()
                m.stored_digest_b32 = val[colon + 1 :].decode("utf-8", "replace")
    # P2: HTTP header block ends at the next \r\n\r\n
    http_end = inflated.find(SEPARATOR, warc_end + 4)
    if http_end < 0:
        m.payload = b""
        return m
    body = inflated[http_end + 4 :]
    # F2: the trailing 4-byte member separator is not part of the payload
    if body.endswith(SEPARATOR):
        body = body[:-4]
    m.payload = body
    return m


def base32_to_hex(b32: str) -> str | None:
    """RFC 4648 base32 → lowercase hex (warcsum.c:195–250)."""
    try:
        s = b32.strip().upper()
        pad = (-len(s)) % 8
        return base64.b32decode(s + "=" * pad).hex()
    except Exception:
        return None


def compute_digest(payload: bytes, algo: str) -> str:
    return hashlib.new(algo, payload).hexdigest()


# ---------------------------------------------------------------------------
# stage 1: digest manifest
# ---------------------------------------------------------------------------

def member_passes_filters(m: WarcMember) -> bool:
    """P5 + P6: WARC-Type response ∧ Content-Type application/http."""
    return (
        m.is_warc
        and m.warc_type is not None
        and m.warc_type.lower() == "response"
        and m.content_type is not None
        and m.content_type.lower() == "application/http"
    )


def oracle_manifest(
    warc_paths: list[str],
    algo: str = "sha1",
    force: bool = True,
    skip_empty: bool = False,
) -> list[dict]:
    """Digest manifest rows, one per qualifying member, file+offset order.

    Row schema mirrors warcsum.h:23–30 / warcsum.c:858–860:
    (warcfile, offset, length, uri, date, digest) with
    digest = "algo:hexdigest" and warcfile = basename.
    """
    if algo not in HASH_ALGOS:
        raise ValueError(f"unsupported algo {algo!r}")
    rows: list[dict] = []
    for path in warc_paths:
        with open(path, "rb") as f:
            data = f.read()
        name = os.path.basename(path)
        for offset, length, inflated in iter_gzip_members(data):
            m = parse_member(inflated, name, offset, length)
            if not member_passes_filters(m):
                continue
            if skip_empty and len(m.payload) == 0:
                continue
            digest_hex = None
            if not force and m.stored_algo == algo and m.stored_digest_b32:
                digest_hex = base32_to_hex(m.stored_digest_b32)
            if digest_hex is None:
                digest_hex = compute_digest(m.payload, algo)
            rows.append(
                {
                    "warcfile": name,
                    "offset": offset,
                    "length": length,
                    "uri": m.uri if m.uri is not None else "-",
                    "date": m.date if m.date is not None else "-",
                    "digest": f"{algo}:{digest_hex}",
                    "payload": m.payload,
                }
            )
    return rows


def manifest_lines(rows: list[dict]) -> list[str]:
    """Byte-identical text-manifest rendering (warcsum.c:858–860)."""
    return [
        f"{r['warcfile']} {r['offset']} {r['length']} {r['uri']} {r['date']} {r['digest']}"
        for r in rows
    ]


# ---------------------------------------------------------------------------
# stage 3+4: collision resolution + copy numbering
# ---------------------------------------------------------------------------

def oracle_extended(rows: list[dict]) -> list[dict]:
    """Assign ext / copy_no / refersto per the documented semantics.

    Clusters are keyed on the digest value (grouping, not physical sort —
    SURVEY §2.4 O3); within a cluster, members are visited in input order
    (file, offset). ``ext`` is the 1-based first-seen ordinal of the
    member's exact payload bytes within its digest cluster
    (warccollres.c:189–241); ``copy_no`` the 1-based ordinal within
    (digest, ext); refersto_uri/date are the FIRST copy's uri/date for
    copies > 1, None for copy 1 (warcsumproc:37–53 — the documented
    first-copy semantics, not warccollres.c:221–231's current-record bug).
    """
    out: list[dict] = []
    clusters: dict[str, dict] = {}
    for ord_, r in enumerate(rows):
        d = r["digest"]
        cl = clusters.setdefault(d, {"contents": {}, "next_ext": 1})
        key = r["payload"]
        grp = cl["contents"].get(key)
        if grp is None:
            grp = {"ext": cl["next_ext"], "copies": 0, "first_uri": r["uri"], "first_date": r["date"]}
            cl["next_ext"] += 1
            cl["contents"][key] = grp
        grp["copies"] += 1
        copy_no = grp["copies"]
        out.append(
            {
                **{k: r[k] for k in ("warcfile", "offset", "length", "uri", "date", "digest")},
                "ext": grp["ext"],
                "copy_no": copy_no,
                "refersto_uri": None if copy_no == 1 else grp["first_uri"],
                "refersto_date": None if copy_no == 1 else grp["first_date"],
            }
        )
    return out


def extended_lines(rows: list[dict]) -> list[str]:
    """Text rendering with the '-' null sentinel (warccollres.h:36–49)."""
    return [
        "{warcfile} {offset} {length} {uri} {date} {digest} {ext} {copy_no} {ru} {rd}".format(
            ru=r["refersto_uri"] or "-", rd=r["refersto_date"] or "-", **r
        )
        for r in rows
    ]


# ---------------------------------------------------------------------------
# run statistics (warccollres.c:1338–1368)
# ---------------------------------------------------------------------------

def oracle_stats(extended: list[dict]) -> dict:
    total = len(extended)
    unique = sum(1 for r in extended if r["copy_no"] == 1)
    duplicates = total - unique
    collisions = sum(1 for r in extended if r["ext"] > 1 and r["copy_no"] == 1)
    return {
        "total": total,
        "unique": unique,
        "duplicates": duplicates,
        "collisions": collisions,
        "distinct_digests": len({r["digest"] for r in extended}),
    }


# ---------------------------------------------------------------------------
# text extraction (input_hint per-row invariant: byte-identical text per url)
# ---------------------------------------------------------------------------

_RE_SCRIPT = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_RE_COMMENT = re.compile(rb"(?s)<!--.*?-->")
_RE_TAG = re.compile(rb"(?s)<[^>]*>")
_RE_WS = re.compile(rb"\s+")


def extract_text(html: bytes) -> str:
    """Deterministic HTML → text: drop script/style/comments, strip tags,
    decode a handful of entities, collapse whitespace. This function IS the
    spec for the ``text`` column; the engine's vectorized extractor must
    reproduce it byte-for-byte (input_hint)."""
    s = _RE_SCRIPT.sub(b" ", html)
    s = _RE_COMMENT.sub(b" ", s)
    s = _RE_TAG.sub(b" ", s)
    for ent, ch in (
        (b"&amp;", b"&"),
        (b"&lt;", b"<"),
        (b"&gt;", b">"),
        (b"&quot;", b'"'),
        (b"&#39;", b"'"),
        (b"&nbsp;", b" "),
    ):
        s = s.replace(ent, ch)
    s = _RE_WS.sub(b" ", s).strip()
    return s.decode("utf-8", "replace")


# ---------------------------------------------------------------------------
# frontier simulator (crawl-ordering oracle, north_rule)
# ---------------------------------------------------------------------------

@dataclass
class FrontierSimResult:
    scheduled_per_round: list[list[str]] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)


def canonicalize_url(url: str) -> str | None:
    """RFC-3986 normalization, the oracle twin of functions/urls.py.

    lowercase scheme+host, strip default port, resolve dot-segments,
    percent-decode unreserved characters, uppercase remaining escapes,
    drop fragment, '' path → '/'.
    """
    from urllib.parse import urlsplit, urlunsplit

    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = parts.hostname
    if not host:
        return None
    host = host.lower().rstrip(".")
    if not host:
        return None
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    default = {"http": 80, "https": 443}[scheme]
    if ":" in host:  # IPv6 literal — re-bracket (urlsplit strips brackets)
        host = f"[{host}]"
    netloc = host if port in (None, default) else f"{host}:{port}"
    path = parts.path or "/"
    path = _remove_dot_segments(path)
    path = _normalize_pct(path)
    query = _normalize_pct(parts.query)
    return urlunsplit((scheme, netloc, path, query, ""))


_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)


def _normalize_pct(s: str) -> str:
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 2 < n + 1 and i + 3 <= n:
            hx = s[i + 1 : i + 3]
            # strict RFC 3986 pct-encoded: exactly two HEXDIGs. A bare
            # int(hx, 16) also accepts sign/space prefixes ("+a" parses
            # as +0xA), silently treating malformed escapes like "%+a"
            # as valid — the engine's regex (%[0-9A-Fa-f]{2}) never did,
            # and a Hypothesis draw caught the divergence.
            if not all(ch in "0123456789abcdefABCDEF" for ch in hx):
                out.append(c)
                i += 1
                continue
            ch = chr(int(hx, 16))
            if ch in _UNRESERVED:
                out.append(ch)
            else:
                out.append("%" + hx.upper())
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
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
    if not out.startswith("/"):
        out = "/" + out
    return out


def url_host(url: str) -> str:
    from urllib.parse import urlsplit

    return (urlsplit(url).hostname or "").lower()


def robots_allows(rules: list[tuple[bool, str]], path: str) -> bool:
    """Longest-prefix-match allow/disallow (Google robots.txt semantics,
    simplified to plain prefixes). Empty rule list → allowed; an
    equal-length allow/disallow tie resolves to ALLOW (RFC 9309 §2.2.2 /
    Google's documented rule)."""
    best_len, best_allow = -1, True
    for allow, prefix in rules:
        if path.startswith(prefix) and (
            len(prefix) > best_len or (len(prefix) == best_len and allow)
        ):
            best_len, best_allow = len(prefix), allow
    return best_allow


def _parent_domains(host: str) -> list[str]:
    """Oracle twin of frontier/blocklist.parent_domains: every suffix
    domain except the bare TLD, the host itself first; single-label
    hosts expand to just themselves."""
    labels = host.split(".")
    if len(labels) <= 1:
        return [host]
    return [".".join(labels[i:]) for i in range(len(labels) - 1)]


def _blocked(url: str, blocked_domains: set[str], patterns: list) -> bool:
    import re

    for p in patterns:
        if re.search(p, url):
            return True
    if blocked_domains:
        host = url_host(url)
        if any(d in blocked_domains for d in _parent_domains(host)):
            return True
    return False


def simulate_crawl(
    seeds: list[tuple[str, float]],
    link_graph: dict[str, list[str]],
    budgets: dict[str, int],
    robots: dict[str, list[tuple[bool, str]]],
    rounds: int,
    default_budget: int = 2,
    depth_decay: float = 0.5,
    blocked_domains: set[str] | None = None,
    block_patterns: list[str] = [],
) -> FrontierSimResult:
    """Deterministic frontier oracle.

    Per round: rank pending canonical URLs per host by
    (priority DESC, url ASC); take ≤ budget(host) after robots gating;
    scheduled URLs are fetched, their outlinks canonicalized and enqueued
    at priority*depth_decay if never seen and not already pending.
    Scheduled list per round is sorted (host ASC, rank ASC) — a total,
    reproducible order the engine must reproduce exactly.
    """
    from urllib.parse import urlsplit

    res = FrontierSimResult()
    pending: dict[str, float] = {}
    for url, pri in seeds:
        cu = canonicalize_url(url)
        if cu is not None and cu not in pending:
            pending[cu] = pri
    for _ in range(rounds):
        if not pending:
            res.scheduled_per_round.append([])
            continue
        by_host: dict[str, list[tuple[float, str]]] = {}
        for url, pri in pending.items():
            if url in res.seen:
                continue
            # blocklist gate sits between "discovered" and "scheduled":
            # blocked URLs are never scheduled but stay pending (same
            # placement as frontier_round's blocklist_gate call)
            if _blocked(url, blocked_domains or set(), list(block_patterns)):
                continue
            host = url_host(url)
            sp = urlsplit(url)
            path = sp.path + (("?" + sp.query) if sp.query else "")
            if not robots_allows(robots.get(host, []), path):
                continue
            by_host.setdefault(host, []).append((pri, url))
        scheduled: list[str] = []
        for host in sorted(by_host):
            cands = sorted(by_host[host], key=lambda t: (-t[0], t[1]))
            budget = budgets.get(host, default_budget)
            scheduled.extend(u for _, u in cands[:budget])
        res.scheduled_per_round.append(scheduled)
        parent_pri = {u: pending[u] for u in scheduled}
        for u in scheduled:
            res.seen.add(u)
            pending.pop(u, None)
        # discoveries: child priority = max over discovering parents of
        # parent_priority * depth_decay (order-free set semantics); a URL
        # already pending from an earlier round keeps its priority
        discovered: dict[str, float] = {}
        for u in scheduled:
            for link in link_graph.get(u, []):
                cu = canonicalize_url(link)
                if cu is None or cu in res.seen:
                    continue
                p = parent_pri[u] * depth_decay
                if p > discovered.get(cu, float("-inf")):
                    discovered[cu] = p
        for cu, p in discovered.items():
            if cu not in pending:
                pending[cu] = p
    return res
