"""R6 — the frontier superstep: one crawl round as a single Spark job.

    scheduled   = top-k-per-host( robots_ok( pending ) )
    seen'       = seen ⊎ scheduled
    discovered  = canonicalize( outlinks(scheduled) ) ∖ (seen ∪ pending)
    pending'    = (pending ∖ scheduled) ∪ discovered

All set operations key on the canonical URL (``⊎`` is a disjoint union;
pending holds one row per URL). Invariant: ``pending ∩ seen = ∅`` —
``init_frontier`` starts with an empty seen set, and every round adds to
seen only scheduled URLs (which leave pending) and adds to pending only
URLs in neither set. So pending needs no seen gate, seen' needs no
distinct, and the URL-seen gate (exact, or with the bloom tier of
frontier/seen.py) runs once, on the discoveries, where it filters:
``seen' ∪ pending = seen ∪ pending`` because ``scheduled ⊆ pending``.
Everything is DataFrame ops; the only Python is the canonicalizer UDF
over newly discovered links (and the filter tier's blob build and test).
The crawl loop is iterative batch (SURVEY §2.9): supersteps with
checkpointed state, not Structured Streaming. Each round cuts lineage
with ``localCheckpoint``; ``statestore.run_crawl`` drives the rounds and
commits them through a ``StateStore`` for durable resume.

The fetch itself is abstracted as a ``fetcher`` that maps scheduled URLs
to outlinks — in production a vectorized HTTP fetch inside mapInPandas
writing WARC/web_pages rows; in tests a broadcast-joined synthetic link
graph. The scheduler is agnostic to it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warcsum_spark.frontier.politeness import schedule_per_host
from warcsum_spark.frontier.robots import robots_allowed
from warcsum_spark.frontier.seen import anti_join_urls, build_seen_filters, filter_unseen
from warcsum_spark.functions.urls import canonicalize_url, url_host_canonical

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),  # canonical
        T.StructField("host", T.StringType(), True),
        T.StructField("priority", T.DoubleType(), True),
        T.StructField("depth", T.IntegerType(), True),
    ]
)
SEEN_SCHEMA = T.StructType([T.StructField("url", T.StringType(), False)])
# a discovered URL's priority is its best parent's times this (oracle's
# simulate_crawl default)
DEPTH_DECAY = 0.5
# hash partitions of the seen ∪ pending set the bloom tier builds one
# blob each for
BLOOM_PARTITIONS = 16


@dataclass
class FrontierState:
    pending: DataFrame  # FRONTIER_SCHEMA
    seen: DataFrame  # SEEN_SCHEMA
    round_no: int = 0


def init_frontier(spark: SparkSession, seeds: DataFrame) -> FrontierState:
    """seeds(url, priority) → round-0 state. Seed URLs are canonicalized;
    duplicates collapse keeping the max priority (set semantics).

    ``pending`` is cut like every later round's (there eagerly, here
    lazily, so the first action of round 0 fills it): round 0 has three
    consumers of it (schedule, ``seen ∪ pending``, ``pending ∖
    scheduled``), and without the cut each one re-ran the seed
    canonicalizer and the groupBy."""
    pending = (
        seeds.select(canonicalize_url(F.col("url")).alias("url"), F.col("priority"))
        .filter(F.col("url").isNotNull())
        .groupBy("url")
        .agg(F.max("priority").alias("priority"))
        .withColumn("host", url_host_canonical(F.col("url")))
        .withColumn("depth", F.lit(0))
        .select([f.name for f in FRONTIER_SCHEMA.fields])
        .localCheckpoint(eager=False)
    )
    seen = spark.createDataFrame([], SEEN_SCHEMA)
    return FrontierState(pending=pending, seen=seen, round_no=0)


def frontier_round(
    spark: SparkSession,
    state: FrontierState,
    # (url, outlinks array<string>) table, OR a callable scheduled-urls →
    # that shape (e.g. sources.fetch.fetching_link_source — a real fetch)
    link_graph,
    robots: DataFrame | None = None,
    politeness: DataFrame | None = None,
    blocklist=None,  # Sequence[str] (inline literal) | DataFrame(domain)
    block_patterns: tuple[str, ...] = (),
    traps: DataFrame | None = None,  # detect_traps() output
    trap_keep: int | None = None,  # None = drop trapped hosts entirely
    default_budget: int = 2,
    use_bloom: bool = False,
    salt_buckets: int = 0,
) -> tuple[FrontierState, DataFrame]:
    """Run one superstep; returns (new_state, scheduled).

    ``scheduled`` carries (url, host, priority, depth, host_rank) — the
    deterministic crawl order for the round is (host ASC, host_rank ASC).

    ``state`` must satisfy ``pending ∩ seen = ∅`` (module docstring); the
    returned state does too. ``use_bloom`` puts the bloom tier in front
    of the discovery gate's exact anti-join.

    Every round truncates lineage (localCheckpoint of the schedule and of
    the new state): an iterative job whose state stays lazy re-executes
    EVERY prior round's joins on each action and the plan grows without
    bound. In production the StateStore commit (statestore.run_crawl)
    provides the same cut durably; localCheckpoint is the in-memory
    equivalent between commits.
    """
    pending = candidates = state.pending
    if blocklist is not None or block_patterns:
        # UT1-style pre-fetch gate between "discovered" and "scheduled":
        # blocked URLs are never scheduled, but they stay pending (and
        # keep consuming nothing) rather than entering the seen set —
        # un-blocking a domain on a later round makes them schedulable
        from warcsum_spark.frontier.blocklist import blocklist_gate

        candidates = blocklist_gate(
            candidates,
            [] if blocklist is None else blocklist,
            url_patterns=block_patterns,
        )
    if traps is not None:
        # same discovered→scheduled placement as the blocklist: trapped
        # hosts' URLs are not scheduled (or only their top trap_keep are)
        # but stay pending — a host cleared of its trap flag on a later
        # round becomes schedulable again. Detection itself is the
        # caller's cadence (frontier/traps.detect_traps over pending or
        # the link stream), like robots/politeness refresh.
        from warcsum_spark.frontier.traps import trap_gate

        candidates = trap_gate(
            candidates,
            traps,
            keep_per_trap_host=trap_keep,
            salt_buckets=salt_buckets,
        )
    if robots is not None:
        candidates = robots_allowed(candidates, robots)
    scheduled = schedule_per_host(
        candidates, politeness, default_budget, salt_buckets
    )
    # cut here too: everything downstream (seen', discoveries, pending')
    # reuses the scheduled set — don't recompute the gate+rank per branch
    scheduled = scheduled.localCheckpoint(eager=True)

    sched_urls = scheduled.select("url", "priority", "depth")
    # disjoint union, no distinct: scheduled ⊆ pending, one row per url
    new_seen = state.seen.unionByName(sched_urls.select("url"))

    # fetch: look up outlinks of scheduled urls, or run the real fetcher
    out_edges = (
        link_graph(sched_urls.select("url")) if callable(link_graph) else link_graph
    )
    discoveries = (
        sched_urls.join(out_edges, "url", "inner")
        .select(
            F.explode("outlinks").alias("raw_url"),
            (F.col("priority") * F.lit(DEPTH_DECAY)).alias("priority"),
            (F.col("depth") + 1).alias("depth"),
        )
        .withColumn("url", canonicalize_url(F.col("raw_url")))
        .filter(F.col("url").isNotNull())
        .groupBy("url")
        .agg(F.max("priority").alias("priority"), F.min("depth").alias("depth"))
    )
    # ∖ seen' ∖ pending = ∖ (seen ∪ pending), a disjoint union by the
    # invariant (a URL already pending keeps its original priority)
    known = state.seen.unionByName(pending.select("url"))
    filters = (
        build_seen_filters(known, n_partitions=BLOOM_PARTITIONS) if use_bloom else None
    )
    discoveries = filter_unseen(discoveries, known, filters, BLOOM_PARTITIONS)
    discoveries = discoveries.withColumn(
        "host", url_host_canonical(F.col("url"))
    ).select([f.name for f in FRONTIER_SCHEMA.fields])
    new_pending = (
        anti_join_urls(pending, sched_urls.select("url"))
        .select([f.name for f in FRONTIER_SCHEMA.fields])
        .unionByName(discoveries)
    )
    return (
        FrontierState(
            pending=new_pending.localCheckpoint(eager=True),
            seen=new_seen.localCheckpoint(eager=True),
            round_no=state.round_no + 1,
        ),
        scheduled,
    )


def scheduled_order(scheduled: DataFrame) -> list[str]:
    """The round's deterministic total crawl order (host ASC, rank ASC).

    WARNING: test/CLI helper only — collects the round's schedule to the
    driver (O(scheduled rows) driver memory). Production consumers keep
    the schedule distributed: fetch via sources/fetch.fetch_pages, persist
    via a StateStore (statestore.run_crawl)."""
    rows = scheduled.select("host", "host_rank", "url").collect()
    return [r["url"] for r in sorted(rows, key=lambda r: (r["host"], r["host_rank"]))]
