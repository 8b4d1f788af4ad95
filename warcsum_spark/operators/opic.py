"""T100 — OPIC: On-line Page Importance Computation (Abiteboul, Preda
& Cobéna, WWW 2003) — the crawl-ordering importance metric designed to
be maintained WHILE crawling: every page holds *cash*; a crawled page
distributes its cash equally to its out-links and banks the amount in
its *history*; a page's importance estimate is its share of the total
flow, (history + cash) / (total distributed + 1). Greedily fetching
the largest-cash page is the paper's adaptive crawl order.

Relation to the neighbours here: PageRank/TrustRank (T32/T79) answer
"what converged"; OPIC answers "what should the crawler fetch NEXT",
cheaply, with an estimate that improves monotonically as the crawl
runs — which is why production frontiers carry cash/history columns,
not power-iteration snapshots. This operator is the SYNCHRONOUS batch
variant (every page distributes each round — the paper's §4 baseline
policy): the right form for a Spark engine, and the fixpoint matches
PageRank with damping 1 while the finite-round estimates are exactly
what an in-flight crawl would rank by.

Pinned, engine-portable semantics (the pagerank.py discipline):

* simple edges (duplicates collapsed); nodes = src ∪ dst, n of them;
* ``C_0 = round(1/n, rs)``, ``H_0 = 0``;
* each round, in this order: ``H ← round(H + C, rs)``; then
  ``C ← round(Σ_{u→v} C(u)/outdeg(u) + D/n, rs)`` where D is the
  dangling cash — the paper's *virtual page* absorbed: pages with no
  out-links pay their cash to everyone uniformly, keeping ΣC = 1 (up
  to rounding); no damping anywhere — OPIC has none;
* per-round rounding at ``round_scale`` makes both engines' float
  sums comparable EXACTLY (the pagerank.py lesson: without it,
  summation order drifts below the final rounding grid);
* after T rounds: ``importance = round((H + C) / (T + 1), 6)`` — ΣH
  is T (each round banks one unit of cash), so this is the paper's
  (H + C)/(ΣH + 1) normalization with the sum closed-form.

Plan shape: pagerank.py's shared ``mass_flow`` loop with ``cash`` as
the one flowing column — one edge⋈cash join + one dst-keyed
aggregation per round over (long, double) rows, dangling mass a
one-row broadcast, ``localCheckpoint`` lineage cuts per round; rounds
are a parameter (a crawler runs ONE round per frontier cycle).

Reference anchor: SURVEY §2.11 — the reference has no importance
metric; OPIC is the crawl-native one (frontier/politeness.py orders by
priority; this supplies the principled priority).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warcsum_spark.operators.pagerank import _link_flow, mass_flow


def opic(
    edges: DataFrame,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    round_scale: int = 10,
) -> DataFrame:
    """(node, cash, history, importance) after ``iters`` synchronous
    OPIC rounds. See module docstring for the pinned semantics."""
    rs = round_scale
    state = mass_flow(
        *_link_flow(edges, src_col, dst_col),
        {
            "cash": (
                F.round(F.lit(1.0) / F.col("_n"), rs),
                lambda contrib, dm: F.round(contrib + dm / F.col("_n"), rs),
            ),
            # banks the PREVIOUS round's cash (step reads the old state)
            "hist": (
                F.lit(0.0),
                lambda contrib, dm: F.round(F.col("hist") + F.col("cash"), rs),
            ),
        },
        ("cash",),
        iters,
    )
    return state.select(
        "node",
        "cash",
        F.col("hist").alias("history"),
        F.round(
            (F.col("hist") + F.col("cash")) / F.lit(float(iters + 1)), 6
        ).alias("importance"),
    )


def opic_oracle_sql(
    edges_cte: str,
    iters: int = 4,
    round_scale: int = 10,
) -> str:
    """The same rounds as chained CTEs for DuckDB — identical per-round
    rounding, so the oracle is exact (the pagerank_oracle_sql
    pattern). ``edges_cte`` is a SELECT yielding (src, dst)."""
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_cte}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "n AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        f"s0 AS (SELECT node, round(1.0 / n.n, {round_scale}) AS cash,"
        f" 0.0 AS hist FROM nodes, n)",
    ]
    for i in range(iters):
        prev, cur = f"s{i}", f"s{i + 1}"
        parts.append(
            f"c{i + 1} AS (SELECT e.dst AS node,"
            f" sum({prev}.cash / deg.deg) AS contrib"
            f" FROM e JOIN deg USING (src)"
            f" JOIN {prev} ON {prev}.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"d{i + 1} AS (SELECT coalesce(sum(cash), 0.0) AS dm"
            f" FROM {prev} WHERE node NOT IN (SELECT src FROM deg))"
        )
        parts.append(
            f"{cur} AS (SELECT {prev}.node,"
            f" round(coalesce(c{i + 1}.contrib, 0.0)"
            f" + d{i + 1}.dm / n.n, {round_scale}) AS cash,"
            f" round({prev}.hist + {prev}.cash, {round_scale}) AS hist"
            f" FROM {prev} LEFT JOIN c{i + 1}"
            f" ON c{i + 1}.node = {prev}.node, d{i + 1}, n)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, cash, hist AS history,"
        f" round((hist + cash) / {float(iters + 1)!r}, 6) AS importance"
        f" FROM s{iters}"
    )
