"""The whole engine in one loop: a real loopback site is crawled with
PageRank-derived priorities and apportioned host budgets, pages are
fetched over sockets, archived as .warc.gz, and the archives re-ingest
through the digest/dedup pipeline with oracle byte parity.

    site graph → PageRank → seed priorities
               → allocate_host_budgets → politeness budgets
               → frontier rounds (real HTTP fetch, anchor extraction)
               → write_warc_archives per round
               → scan_warc_members → digest manifest == oracle manifest

Every stage is an independently-tested operator; this pins that they
COMPOSE into the north-star system.
"""

from __future__ import annotations

import glob
import os
import threading

import pytest
from pyspark.sql import functions as F

from warcsum_spark.frontier.budget import allocate_host_budgets
from warcsum_spark.frontier.superstep import frontier_round, init_frontier
from warcsum_spark.functions.urls import url_host_canonical
from warcsum_spark.operators.pagerank import pagerank
from warcsum_spark.oracle import manifest_lines, oracle_manifest
from warcsum_spark.sources.fetch import (
    HttpRangeFetcher,
    fetch_pages,
    fetching_link_source,
)
from warcsum_spark.sources.warc import scan_warc_members
from warcsum_spark.sources.warc_writer import write_warc_archives


@pytest.fixture()
def site():
    """Loopback two-'host' site (two ports, same interface) with a
    deterministic link graph."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    graph = {
        "/p/0": ["/p/1", "/p/2"],
        "/p/1": ["/p/3", "/p/0"],
        "/p/2": ["/p/3", "/p/4"],
        "/p/3": ["/p/5"],
        "/p/4": [],
        "/p/5": [],
    }
    servers = []
    bases = []
    for _ in range(2):
        pages = {}
        srv_holder = {}

        def make_handler(pages=pages):
            class H(BaseHTTPRequestHandler):
                def log_message(self, *a):
                    pass

                def do_GET(self):
                    b = pages.get(self.path)
                    if b is None:
                        self.send_error(404)
                        return
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(b)))
                    self.end_headers()
                    self.wfile.write(b)

            return H

        srv = ThreadingHTTPServer(("127.0.0.1", 0), make_handler())
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        bases.append(base)
        srv_holder["pages"] = pages
        for path, outs in graph.items():
            links = "".join(f'<a href="{base}{o}">to {o}</a>' for o in outs)
            pages[path] = f"<html><body>page {path} {links}</body></html>".encode()
    try:
        yield bases, graph
    finally:
        for srv in servers:
            srv.shutdown()
            srv.server_close()


def test_full_cycle(spark, site, tmp_path):
    bases, graph = site

    # 1. PageRank over the known seed-site graph → seed priorities
    edges = spark.createDataFrame(
        [
            (f"{b}{u}", f"{b}{v}")
            for b in bases
            for u, outs in graph.items()
            for v in outs
        ],
        "src string, dst string",
    )
    pr = pagerank(edges, iters=3)
    seeds = pr.select(
        F.col("node").alias("url"), F.col("rank").alias("priority")
    )

    # 2. host budgets from priority mass (both hosts get slots; total caps
    # the per-round fetch volume)
    budgets = allocate_host_budgets(
        seeds.withColumn("host", url_host_canonical(F.col("url"))),
        total_budget=8,
    ).select("host", "budget")

    # 3. crawl three rounds with REAL fetches; archive each round
    state = init_frontier(spark, seeds)
    source = fetching_link_source(lambda: HttpRangeFetcher(timeout=10))
    out_root = str(tmp_path / "archives")
    all_urls: set[str] = set()
    for rnd in range(3):
        state, sched = frontier_round(
            spark, state, source, politeness=budgets, default_budget=2
        )
        assert state.pending.select("url").intersect(state.seen).count() == 0, rnd
        fetched = fetch_pages(
            sched.select("url"), lambda: HttpRangeFetcher(timeout=10)
        ).filter(F.col("status") == 200)
        round_dir = os.path.join(out_root, f"round_{rnd}")
        manifest = write_warc_archives(fetched, round_dir).collect()
        n_rows = fetched.count()
        assert sum(r["n_records"] for r in manifest) == n_rows
        all_urls.update(r["url"] for r in sched.select("url").collect())

    # every page of both hosts is reachable within 3 rounds at these
    # budgets; seen set equals the crawled set
    assert all_urls == {f"{b}{p}" for b in bases for p in graph}
    seen = {r["url"] for r in state.seen.collect()}
    assert seen == all_urls

    # 4. archives re-ingest: engine scan payloads match the live site,
    # and the digest manifest equals the pure-Python oracle byte-for-byte
    members = scan_warc_members(spark, out_root)
    got = {
        r["uri"]: bytes(r["payload"])
        for r in members.filter(F.col("warc_type") == "response").collect()
    }
    assert set(got) == all_urls
    for b in bases:
        for path in graph:
            links = "".join(
                f'<a href="{b}{o}">to {o}</a>' for o in graph[path]
            )
            assert got[f"{b}{path}"] == (
                f"<html><body>page {path} {links}</body></html>".encode()
            )
    paths = sorted(glob.glob(out_root + "/**/*.warc.gz", recursive=True))
    expected = sorted(manifest_lines(oracle_manifest(paths, algo="sha1", force=True)))
    from warcsum_spark.operators.digest_manifest import digest_manifest, manifest_text

    got_lines = sorted(
        r["line"]
        for r in manifest_text(
            digest_manifest(members, algo="sha1", keep_payload=False)
        ).collect()
    )
    assert got_lines == expected
