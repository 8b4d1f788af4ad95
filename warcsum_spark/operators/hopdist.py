"""T70 — multi-source BFS hop distance: label every reachable node with
its minimum hop count from a seed set, and with the claiming seed
(min seed id among shortest paths).

This is crawl-depth labeling — the signal behind "crawl to depth d",
per-depth budget decay (frontier priority ∝ damping^depth), seed
attribution ("which seed's tree discovered this URL"), and coverage
audits (how much of the link graph is within k hops of the seed list).
The graph suite's other operators answer membership (T3/T48
components), importance (T32/T52 PageRank/redirects), community (T61)
and density (T65) — none answer DISTANCE; this does.

Scale design — textbook distributed BFS, expressed as the repo's
iterative-operator idiom (clusters.py / pagerank.py):

* **One hash exchange per hop**: frontier ⋈ edges keyed on src, then a
  (node → min root) aggregation with map-side combine. Shuffle rows are
  (long, long) — URLs reduce to ids upstream.
* **Visited-set anti-join per hop** keeps the frontier monotone
  shrinking: a node enters the frontier exactly once, at its shortest
  depth, so total work across all rounds is O(edges within max_hops),
  not O(edges × rounds). At production scale the visited set is the
  frontier checkpoint table, bucketed by node hash (statestore.py), so
  the anti-join is co-located; here it is a plain hash join.
* **Rounds are bounded by max_hops**, which for crawl scheduling is the
  crawl-depth budget (single digits to low tens) — the diameter
  concern that motivates star-contraction for components does not
  apply, because beyond-budget nodes are EXCLUDED by definition.
* ``localCheckpoint(eager=True)`` per round cuts lineage (the
  clusters.py discipline; references dropped so ContextCleaner
  reclaims blocks).

Determinism: dist is the true BFS minimum; ``root`` is collapsed with
``min`` at every discovery round, which by induction equals the global
minimum seed id over all shortest paths — no tie depends on engine
iteration order.

Reference anchor: no counterpart in the reference engine (its unit is
the WARC record, warcsum.c:881–1011); frontier/§2.12 surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hop_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """(node, dist, root) for every node within ``max_hops`` of a seed:
    ``dist`` = min hop count from any seed, ``root`` = min seed id among
    the shortest paths. Seeds themselves come back with dist 0 and
    root = node (a seed reachable from another seed keeps dist 0 — BFS
    never relabels a visited node). Duplicate edges and duplicate seeds
    are tolerated (collapsed by the per-round min aggregation)."""
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    )
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select(
            "node",
            F.lit(0).cast("int").alias("dist"),
            F.col("node").alias("root"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = visited
    # plain per-round planning in the small-state regime (no-op at
    # production scale) — see session.loop_plan_conf
    from warcsum_spark.session import loop_plan_conf

    with loop_plan_conf(visited, e):
        return _bfs_loop(e, visited, frontier, max_hops)


def _bfs_loop(e, visited, frontier, max_hops):
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.node == e._src)
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.min("root").alias("root"))
            .withColumn("dist", F.lit(hop).cast("int"))
            .join(visited.select("node"), "node", "left_anti")
            .select("node", "dist", "root")
            .localCheckpoint(eager=False)
        )
        # count() materializes the lazy checkpoint AND answers the
        # emptiness test in the SAME job (eager=True + limit(1).count()
        # was two jobs per round); later consumers reuse the persisted
        # blocks of the same RDD
        if nxt.count() == 0:
            break
        # the union IS re-checkpointed each round: leaving it as a lazy
        # union of per-round checkpoint RDDs was measured 1.5-2x SLOWER
        # (the per-round anti-join re-shuffles an ever-growing pile of
        # tiny partitions; the checkpoint re-compacts visited to a few
        # AQE-coalesced partitions). The checkpoint is LAZY: the next
        # round's count() job materializes it through the anti-join (one
        # job per round instead of two — measured 51→45 jobs on the
        # driver query); the break-round's count materializes the final
        # union. When the loop instead uses up ``max_hops`` without an
        # empty round, nothing has run on the last round's union: the
        # returned frame is then a LAZY checkpoint, and callers that need
        # persisted blocks must force it themselves.
        # narrow coalesce: a plain union concatenates partition lists, so
        # visited would grow by frontier's partition count EVERY round
        # (measured 3→31 partitions over a 15-round sweep — every later
        # stage pays one task launch per tiny partition); capping at the
        # wider of the two inputs keeps the count flat at bench scale and
        # data-proportional at production scale (nxt is AQE-sized there)
        tgt = max(
            visited.rdd.getNumPartitions(), nxt.rdd.getNumPartitions()
        )
        visited = (
            visited.unionByName(nxt).coalesce(tgt).localCheckpoint(eager=False)
        )
        frontier = nxt
    return visited
