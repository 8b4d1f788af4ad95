"""T101 — bow-tie decomposition of the webgraph (Broder, Kumar et al.,
"Graph structure in the Web", WWW/Computer Networks 2000: the web's
directed structure factors into a giant strongly-connected CORE, the
IN set that can reach it, the OUT set it reaches, and the rest —
tendrils, tubes, disconnected islands).

Why a crawl engine wants it: the bow-tie is the standard one-table
answer to "what did we actually crawl". A healthy broad crawl has a
large CORE and balanced IN/OUT; a crawl seeded too narrowly shows a
bloated OUT (you only went downstream), dead seed lists show up as
OTHER, and the CORE/total ratio is the first number every webgraph
release (including Common Crawl's) reports alongside T86's
centralities.

Pinned, engine-portable semantics:

* the decomposition is anchored at a PIVOT node — by definition the
  smallest node id unless the caller passes one (the true bow-tie
  anchors at the largest SCC; at web scale the giant SCC is found by
  pivot probing anyway — Broder's own method — and a pinned pivot
  makes the operator deterministic and oracle-able; callers probe by
  running it at a few pivots and keeping the biggest core);
* ``fwd`` = nodes reachable from the pivot within ``max_hops``;
  ``bwd`` = nodes that reach the pivot within ``max_hops`` (forward
  BFS on the transposed graph);
* classes: CORE = fwd ∩ bwd (the SCC containing the pivot, exact once
  max_hops ≥ diameter); IN = bwd \\ CORE; OUT = fwd \\ CORE;
  OTHER = everything else (tendrils + tubes + disconnected);
* output: one row per node (node, cls) plus the summary is one
  groupBy away; ``bowtie_summary`` emits (cls, n_nodes, share) with
  share = round(n/total, 6), one pinned division.

Plan shape at 100 TB: two multi-source BFS runs (T70's hop_distance —
per-round frontier⋈edges join + min-combine, visited anti-join, the
O(diameter)-round discipline), one union of two (node, flag)
dimension-per-node tables, one join back to the node set, map-only
classification. BFS rounds dominate; everything else is two slim
joins.

No reference counterpart; the decomposition is the published one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warcsum_spark.operators.hopdist import hop_distance


def bowtie(
    edges: DataFrame,
    max_hops: int,
    pivot: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, cls) with cls ∈ {'CORE','IN','OUT','OTHER'} — the bow-tie
    anchored at ``pivot`` (default: the smallest node id).

    The two reachability sweeps run as ONE BFS: the transposed graph is
    embedded at a disjoint node-id offset (node v ↦ v + OFF, OFF = one
    past the max id), and the single run is seeded with {pivot,
    pivot + OFF}. The two sweeps can never touch (the spaces are
    disjoint, so hop_distance's min-root relabeling can't mix them),
    and each BFS round's fixed job-launch cost is paid once instead of
    twice — measured 2× on the driver query, whose rounds are
    overhead-dominated at bench scale."""
    # dedupe ONCE and cut lineage: hop_distance tolerates multi-edges
    # but re-scans its edge input EVERY round — on a crawl-log-derived
    # list (many events per link) that re-scan dominates; the simple
    # graph is what BFS actually walks (measured 2× on the driver
    # query: 14 s → 7 s at sf0.1; the remainder is per-round
    # action overhead, which the suite-scale tiers show amortizing)
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # two tiny driver-side scalars — the pinned anchor + the space
    # offset, not data
    lo, hi = nodes.agg(F.min("node"), F.max("node")).collect()[0]
    if pivot is None:
        pivot = lo
    # backward copies x + off start at hi + 1 + max(lo, 0) > hi, so the
    # two sweeps split on node > hi — negative ids included
    off = int(hi) + 1 - min(0, int(lo))
    fwd_e = e
    bwd_e = e.select(
        (F.col("dst") + off).alias("src"), (F.col("src") + off).alias("dst")
    )
    # JVM LocalRelation (VALUES), not createDataFrame: the pickled-RDD
    # form spawns Python workers on every scan of the 2-row seed table
    seeds = nodes.sparkSession.sql(
        "SELECT CAST(c1 AS BIGINT) AS node FROM "
        f"(VALUES ({int(pivot)}), ({int(pivot) + off})) AS t(c1)"
    )
    reached = hop_distance(
        fwd_e.unionByName(bwd_e), seeds, max_hops=max_hops
    ).localCheckpoint(eager=False)
    # ONE aggregated flag table + ONE join, not a (fwd left-join bwd
    # left-join) chain: each reached row folds to (original node,
    # which-sweep flag) and a max-combine collapses the <= 2 rows per
    # node — same CORE/IN/OUT/OTHER classification, one join and one
    # broadcast build fewer
    bwd = F.col("node") > int(hi)
    flags = (
        reached.select(
            F.when(bwd, F.col("node") - off).otherwise(F.col("node")).alias("node"),
            F.when(bwd, 0).otherwise(1).alias("_f"),
            F.when(bwd, 1).otherwise(0).alias("_b"),
        )
        .groupBy("node")
        .agg(F.max("_f").alias("_f"), F.max("_b").alias("_b"))
    )
    return (
        nodes.join(flags, "node", "left")
        .select(
            "node",
            F.when((F.col("_f") == 1) & (F.col("_b") == 1), "CORE")
            .when(F.col("_b") == 1, "IN")
            .when(F.col("_f") == 1, "OUT")
            .otherwise("OTHER")
            .alias("cls"),
        )
    )


def bowtie_summary(
    edges: DataFrame,
    max_hops: int,
    pivot: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(cls, n_nodes, share) — the headline bow-tie table."""
    tagged = bowtie(edges, max_hops, pivot, src_col, dst_col)
    counts = tagged.groupBy("cls").agg(F.count("*").alias("n_nodes"))
    # total from the 4-row counts table, NOT a second agg over tagged —
    # sum of the class counts IS the node count, and the second branch
    # re-ran the whole classification join subtree
    total = counts.agg(F.sum("n_nodes").alias("_t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "cls",
        "n_nodes",
        F.round(
            F.col("n_nodes").cast("double") / F.col("_t").cast("double"), 6
        ).alias("share"),
    )


def bowtie_sql(
    edges_sql: str,
    max_hops: int,
    pivot: int | None = None,
) -> str:
    """The bow-tie summary for DuckDB — reachability via unrolled
    MATERIALIZED BFS rounds (the harmonic_sql/kcore precedent: CTEs
    are inlined by DuckDB, materialization keeps the plan linear),
    identical classification and the pinned share division."""
    piv = (
        str(pivot)
        if pivot is not None
        else "(SELECT min(node) FROM nodes)"
    )

    def bfs(tag: str, s: str, d: str) -> list[str]:
        parts = [
            f"{tag}0 AS MATERIALIZED (SELECT {piv} AS node)"
        ]
        for i in range(max_hops):
            parts.append(
                f"{tag}{i + 1} AS MATERIALIZED ("
                f"SELECT node FROM {tag}{i} UNION "
                f"SELECT e.{d} FROM e JOIN {tag}{i} r ON e.{s} = r.node)"
            )
        return parts

    ctes = [
        f"e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS MATERIALIZED "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e)",
    ]
    ctes += bfs("f", "src", "dst")
    ctes += bfs("b", "dst", "src")
    return f"""
WITH {', '.join(ctes)},
tagged AS (
  SELECT n.node,
    CASE WHEN f.node IS NOT NULL AND b.node IS NOT NULL THEN 'CORE'
         WHEN b.node IS NOT NULL THEN 'IN'
         WHEN f.node IS NOT NULL THEN 'OUT'
         ELSE 'OTHER' END AS cls
  FROM nodes n
  LEFT JOIN f{max_hops} f ON n.node = f.node
  LEFT JOIN b{max_hops} b ON n.node = b.node
), c AS (
  SELECT cls, count(*)::BIGINT AS n_nodes FROM tagged GROUP BY cls
), t AS (SELECT count(*)::BIGINT AS total FROM tagged)
SELECT cls, n_nodes,
  round(CAST(n_nodes AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
FROM c CROSS JOIN t
"""
