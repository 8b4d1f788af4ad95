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

Pinned, engine-portable semantics, in exact fixed-point integers (the
pagerank.py ``mass_flow`` shares and sums; rs = ``round_scale``,
g = 18 − rs, ``half_up(a, b) = ⌊(2a + b) / 2b⌋``):

* simple edges (duplicates collapsed); nodes = src ∪ dst, n of them;
* cash C and history H are BIGINT counts of 10^-rs units;
  ``C_0 = half_up(10^rs, n)``, ``H_0 = 0``;
* each round, from the previous state: ``H ← H + C``; each edge u→v
  carries ``half_up(C(u)·10^g, outdeg(u))`` units of 10^-18, summed per
  target as ``contrib``, and the dangling cash ``D = Σ C(u)·10^g`` over
  pages without out-links — the paper's *virtual page* absorbed: they
  pay their cash to everyone uniformly, keeping ΣC = 1 (up to
  rounding); then ``C ← half_up(contrib + half_up(D, n), 10^g)``; no
  damping anywhere — OPIC has none;
* the sums are BIGINT, so no summation order changes them, and every
  rounding is an exact half-up. Float sums rounded per round are not
  enough: on the 12-node graph of the DuckDB parity test the exact
  round-3 cash of node 0 is the tie 0.16168094125, which Spark summed to
  that double and DuckDB to 0.16168094124999996, and whose ``round(·,
  10)`` differs between the engines even from the same double;
* after T rounds: ``importance = half_up(H + C, (T + 1)·10^(rs−6))
  / 10^6`` — ΣH is T (each round banks one unit of cash), so this is
  the paper's (H + C)/(ΣH + 1) normalization with the sum closed-form,
  rounded to 6 places;
* doubles appear only in the output: cash = C / 10^rs,
  history = H / 10^rs. ``round_scale`` must lie in [6, 18]: 6 places
  for importance, and 2·10^18 must fit a BIGINT.

Plan shape: pagerank.py's shared ``mass_flow`` loop with ``cash`` as
the one flowing column — one edge⋈cash join + one dst-keyed
aggregation per round over (long, long) rows, dangling mass a
one-row broadcast, ``localCheckpoint`` lineage cuts per round; rounds
are a parameter (a crawler runs ONE round per frontier cycle).

Reference anchor: SURVEY §2.11 — the reference has no importance
metric; OPIC is the crawl-native one (frontier/politeness.py orders by
priority; this supplies the principled priority).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warcsum_spark.operators.pagerank import (
    _grid,
    _half_up,
    _half_up_sql,
    _link_flow,
    mass_flow,
)

_IMPORTANCE_SCALE = 6


def _check_round_scale(round_scale: int) -> tuple[int, int]:
    """``(10^rs, 10^g)`` for an OPIC ``round_scale``; raises
    ``ValueError`` outside [6, 18]."""
    if round_scale < _IMPORTANCE_SCALE:
        raise ValueError(
            f"round_scale must be at least {_IMPORTANCE_SCALE}, the"
            f" importance rounding, got {round_scale}"
        )
    return _grid(round_scale)


def opic(
    edges: DataFrame,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    round_scale: int = 10,
) -> DataFrame:
    """(node, cash, history, importance) after ``iters`` synchronous
    OPIC rounds. See module docstring for the pinned semantics."""
    scale, g = _check_round_scale(round_scale)
    state = mass_flow(
        *_link_flow(edges, src_col, dst_col),
        {
            "cash": (
                _half_up(F.lit(scale), F.col("_n")),
                lambda contrib, dm: _half_up(
                    contrib + _half_up(dm, F.col("_n")), F.lit(g)
                ),
            ),
            # banks the PREVIOUS round's cash (step reads the old state)
            "hist": (
                F.lit(0).cast("long"),
                lambda contrib, dm: F.col("hist") + F.col("cash"),
            ),
        },
        {"cash": F.col("cash") * F.lit(g)},
        iters,
    )
    imp_q = (iters + 1) * 10 ** (round_scale - _IMPORTANCE_SCALE)
    return state.select(
        "node",
        (F.col("cash") / F.lit(float(scale))).alias("cash"),
        (F.col("hist") / F.lit(float(scale))).alias("history"),
        (
            _half_up(F.col("hist") + F.col("cash"), F.lit(imp_q))
            / F.lit(float(10**_IMPORTANCE_SCALE))
        ).alias("importance"),
    )


def opic_oracle_sql(
    edges_cte: str,
    iters: int = 4,
    round_scale: int = 10,
) -> str:
    """The same rounds as chained CTEs for DuckDB, in the same BIGINT
    fixed point as ``opic`` (integer ``//`` for Spark's ``div``, sums
    cast back to BIGINT), so the oracle is exact. ``edges_cte`` is a
    SELECT yielding (src, dst). Every CTE is MATERIALIZED: DuckDB inlines
    CTEs, and each round reads the previous one three times."""
    scale, g = _check_round_scale(round_scale)
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_cte}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "n AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        f"s0 AS MATERIALIZED (SELECT node, {_half_up_sql(scale, 'n.n')} AS cash,"
        f" 0::BIGINT AS hist FROM nodes, n)",
    ]
    for i in range(iters):
        prev, cur = f"s{i}", f"s{i + 1}"
        parts.append(
            f"c{i + 1} AS MATERIALIZED (SELECT e.dst AS node,"
            f" sum({_half_up_sql(f'{prev}.cash * {g}', 'deg.deg')})::BIGINT"
            f" AS contrib FROM e JOIN deg USING (src)"
            f" JOIN {prev} ON {prev}.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"d{i + 1} AS MATERIALIZED"
            f" (SELECT coalesce(sum(cash * {g}), 0)::BIGINT AS dm"
            f" FROM {prev} WHERE node NOT IN (SELECT src FROM deg))"
        )
        cash = _half_up_sql(
            f"coalesce(c{i + 1}.contrib, 0)"
            f" + {_half_up_sql(f'd{i + 1}.dm', 'n.n')}",
            g,
        )
        parts.append(
            f"{cur} AS MATERIALIZED (SELECT {prev}.node, {cash} AS cash,"
            f" {prev}.hist + {prev}.cash AS hist"
            f" FROM {prev} LEFT JOIN c{i + 1}"
            f" ON c{i + 1}.node = {prev}.node, d{i + 1}, n)"
        )
    body = ",\n".join(parts)
    imp_q = (iters + 1) * 10 ** (round_scale - _IMPORTANCE_SCALE)
    return (
        f"{body}\n"
        f"SELECT node, cash::DOUBLE / {float(scale)!r} AS cash,"
        f" hist::DOUBLE / {float(scale)!r} AS history,"
        f" {_half_up_sql('hist + cash', imp_q)}::DOUBLE"
        f" / {float(10**_IMPORTANCE_SCALE)!r} AS importance"
        f" FROM s{iters}"
    )
