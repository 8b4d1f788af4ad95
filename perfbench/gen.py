"""Seeded input generators for the benchmark workloads.

Everything here depends only on the seed and the constants below, never
on the engine under test, so every commit is measured on byte-identical
inputs. The same seed always writes the same bytes.

* ``write_warc_inputs`` — ``.warc.gz`` archives, one gzip member per WARC
  record, for ``warc_dedup`` and (with no duplicates) ``warc_unique``.
* ``write_crawl_inputs`` — a synthetic web as link-graph parquet
  ``(url, outlinks)`` plus seeds, robots rules and politeness budgets, for
  ``frontier_crawl``.
"""

from __future__ import annotations

import gzip
import itertools
import math
import os
import random
from base64 import b32encode
from hashlib import sha1

# --- warc_dedup shape --------------------------------------------------------
#: many more archives than cores, so tasks are file-granular and balanced
WARC_ARCHIVES = 48
WARC_MEMBERS_PER_ARCHIVE = 700
#: share of members that are request/metadata records the filter drops
WARC_NON_RESPONSE = 0.10
#: share of response payloads that copy an earlier payload
WARC_DUP_SHARE = 0.30
#: duplicate clusters; a duplicate picks its cluster with Zipf weight 1/k
WARC_DUP_CLUSTERS = 400
#: share of response members that carry a stored WARC-Payload-Digest
WARC_STORED_DIGEST = 0.40
#: payload sizes are log-uniform over two decades
WARC_PAYLOAD_MIN = 100
WARC_PAYLOAD_MAX = 10_000

# --- frontier_crawl shape ----------------------------------------------------
CRAWL_HOSTS = 1500
CRAWL_PAGES_TOTAL = 60_000
CRAWL_SEEDS = 1200
CRAWL_ROUNDS = 2
#: the crawl command's default per-host budget
CRAWL_DEFAULT_BUDGET = 2
#: hot hosts listed in the politeness table, with a larger budget
CRAWL_HOT_HOSTS = 40
CRAWL_HOT_BUDGET = 12
#: share of hosts that publish robots rules
CRAWL_ROBOTS_SHARE = 0.15
#: share of outlinks written in a non-canonical form
CRAWL_NONCANON_SHARE = 0.10

_WORDS = (
    "archive crawl record digest payload member header response request "
    "metadata frontier host page link seen robots budget round schedule "
    "shuffle stage task spark arrow python gzip offset length copy cluster "
    "collision manifest warc index text html body title anchor the a of and"
).split()


def _gz(member: bytes) -> bytes:
    return gzip.compress(member, compresslevel=6, mtime=0)


def _warc_record(
    warc_type: str, uri: str, date: str, payload: bytes, stored: bool
) -> bytes:
    body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + payload
    ctype = (
        "application/http; msgtype=response"
        if warc_type == "response"
        else "application/http; msgtype=request"
        if warc_type == "request"
        else "application/warc-fields"
    )
    lines = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Target-URI: " + uri.encode(),
        b"WARC-Date: " + date.encode(),
        b"Content-Type: " + ctype.encode(),
    ]
    if stored:
        b32 = b32encode(sha1(payload).digest()).decode().rstrip("=")
        lines.append(b"WARC-Payload-Digest: sha1:" + b32.encode())
    lines.append(b"Content-Length: " + str(len(body)).encode())
    return b"\r\n".join(lines) + b"\r\n\r\n" + body + b"\r\n\r\n"


def _size(u: float) -> int:
    """Payload size at quantile ``u`` of the log-uniform size range."""
    lo, hi = math.log(WARC_PAYLOAD_MIN), math.log(WARC_PAYLOAD_MAX)
    return int(math.exp(lo + u * (hi - lo)))


def _payload(rng: random.Random, corpus: str, tag: str, size: int) -> bytes:
    off = rng.randrange(0, len(corpus) - size)
    return (
        f"<html><head><title>{tag}</title></head><body><p>"
        + corpus[off : off + size]
        + "</p></body></html>"
    ).encode()


def write_warc_inputs(
    outdir: str,
    seed: int,
    n_archives: int = WARC_ARCHIVES,
    n_members: int = WARC_MEMBERS_PER_ARCHIVE,
    dup_share: float = WARC_DUP_SHARE,
) -> dict:
    """Write the ``warc_dedup`` archives under ``outdir``; return a summary
    (paths, member counts, compressed bytes). ``dup_share`` is the share of
    response payloads that copy a duplicate cluster's."""
    rng = random.Random(seed)
    os.makedirs(outdir, exist_ok=True)
    corpus = " ".join(rng.choice(_WORDS) for _ in range(200_000))
    cluster_cw = list(
        itertools.accumulate(1.0 / k for k in range(1, WARC_DUP_CLUSTERS + 1))
    )
    clusters: list[bytes | None] = [None] * WARC_DUP_CLUSTERS
    paths, members, responses, nbytes = [], 0, 0, 0
    for a in range(n_archives):
        path = os.path.join(outdir, f"bench-{a:03d}.warc.gz")
        with open(path, "wb") as f:
            for i in range(n_members):
                host = f"h{rng.randrange(200)}.example"
                uri = f"http://{host}/a{a}/p{i}"
                date = f"2016-0{1 + a % 9}-{1 + i % 28:02d}T00:00:{i % 60:02d}Z"
                if rng.random() < WARC_NON_RESPONSE:
                    kind = "request" if rng.random() < 0.5 else "metadata"
                    rec = _warc_record(kind, uri, date, b"GET / HTTP/1.1", False)
                else:
                    responses += 1
                    if rng.random() < dup_share:
                        k = rng.choices(range(WARC_DUP_CLUSTERS), cum_weights=cluster_cw)[0]
                        if clusters[k] is None:
                            # a cluster's size is fixed by its rank, not drawn:
                            # the top clusters hold thousands of copies, and a
                            # drawn size would swing total bytes from seed to seed
                            u = (k * 0.6180339887498949) % 1.0
                            clusters[k] = _payload(rng, corpus, f"dup {k}", _size(u))
                        payload = clusters[k]
                    else:
                        payload = _payload(rng, corpus, f"{a} {i}", _size(rng.random()))
                    stored = rng.random() < WARC_STORED_DIGEST
                    rec = _warc_record("response", uri, date, payload, stored)
                member = _gz(rec)
                nbytes += len(member)
                f.write(member)
                members += 1
        paths.append(path)
    return {
        "paths": paths,
        "members": members,
        "responses": responses,
        "compressed_bytes": nbytes,
    }


def _noncanonical(rng: random.Random, host: str, path: str) -> str:
    roll = rng.randrange(4)
    if roll == 0:
        return f"HTTP://{host.upper()}{path}"
    if roll == 1:
        return f"http://{host}:80{path}#frag"
    if roll == 2:
        return f"http://{host}/x/..{path}"
    return f"http://{host}{path.replace('/p', '/%70', 1)}"


def crawl_web(
    seed: int,
    n_hosts: int = CRAWL_HOSTS,
    n_pages: int = CRAWL_PAGES_TOTAL,
    n_seeds: int = CRAWL_SEEDS,
) -> dict:
    """The synthetic web as Python structures: ``link_graph`` keyed by
    canonical URL, ``seeds`` (url, priority), ``budgets`` host → budget,
    ``robots`` host → [(allow, prefix)]."""
    rng = random.Random(seed)
    hosts = [f"s{h}.web{h % 7}.test" for h in range(n_hosts)]
    # Zipf-skewed host sizes: host k holds ~1/(k+1) of the pages
    weights = [1.0 / (k + 1) for k in range(n_hosts)]
    wsum = sum(weights)
    host_cw = list(itertools.accumulate(weights))
    sizes = [max(4, int(n_pages * w / wsum)) for w in weights]
    pages = [[f"http://{h}/p/{j}" for j in range(n)] for h, n in zip(hosts, sizes)]
    link_graph: dict[str, list[str]] = {}
    for hi, host in enumerate(hosts):
        n = sizes[hi]
        for j in range(n):
            outs = []
            for _ in range(rng.randint(2, 8)):
                if rng.random() < 0.6:
                    th, tj = hi, rng.randrange(n)
                else:
                    th = rng.choices(range(n_hosts), cum_weights=host_cw)[0]
                    tj = rng.randrange(sizes[th])
                if rng.random() < CRAWL_NONCANON_SHARE:
                    outs.append(_noncanonical(rng, hosts[th], f"/p/{tj}"))
                else:
                    outs.append(pages[th][tj])
            link_graph[pages[hi][j]] = outs
    # distinct seed URLs (a repeated seed's priority is order-dependent);
    # priorities on a 1/64 grid are exact in binary, so halving per depth
    # never rounds and ties break on the URL alone
    seeds: dict[str, float] = {}
    while len(seeds) < n_seeds:
        hi = rng.randrange(n_hosts)
        url = pages[hi][rng.randrange(sizes[hi])]
        seeds.setdefault(url, rng.randint(1, 64) / 64.0)
    budgets = {hosts[k]: CRAWL_HOT_BUDGET for k in range(min(CRAWL_HOT_HOSTS, n_hosts))}
    robots = {}
    for hi, host in enumerate(hosts):
        if rng.random() < CRAWL_ROBOTS_SHARE:
            d = rng.randint(1, 9)
            robots[host] = [(False, f"/p/{d}"), (True, f"/p/{d}0")]
    return {"link_graph": link_graph, "seeds": list(seeds.items()), "budgets": budgets, "robots": robots}


def write_crawl_inputs(outdir: str, web: dict) -> dict:
    """Write a ``crawl_web`` result under ``outdir`` as parquet; return the
    file paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(outdir, exist_ok=True)
    out = {k: os.path.join(outdir, f"{k}.parquet") for k in ("links", "seeds", "robots", "politeness")}
    lg = web["link_graph"]
    pq.write_table(
        pa.table({"url": list(lg), "outlinks": pa.array(list(lg.values()), pa.list_(pa.string()))}),
        out["links"],
    )
    pq.write_table(
        pa.table(
            {
                "url": [u for u, _ in web["seeds"]],
                "priority": pa.array([p for _, p in web["seeds"]], pa.float64()),
            }
        ),
        out["seeds"],
    )
    rule = pa.struct([("allow", pa.bool_()), ("prefix", pa.string())])
    pq.write_table(
        pa.table(
            {
                "host": list(web["robots"]),
                "rules": pa.array(
                    [[{"allow": a, "prefix": p} for a, p in r] for r in web["robots"].values()],
                    pa.list_(rule),
                ),
            }
        ),
        out["robots"],
    )
    pq.write_table(
        pa.table(
            {
                "host": list(web["budgets"]),
                "budget": pa.array(list(web["budgets"].values()), pa.int32()),
            }
        ),
        out["politeness"],
    )
    return out
