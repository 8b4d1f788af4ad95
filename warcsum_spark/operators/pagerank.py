"""T32 — PageRank over the crawl link graph, the classic priority
signal a production frontier feeds into its per-host queues (the
north-star scheduler ranks by priority; this computes that priority
from link structure instead of taking it on faith from the seed list).

Spark-first iterative shape (same idiom as clusters.py / the frontier
superstep): each iteration is ONE edge-keyed join + ONE dst-keyed
aggregation, with the rank frame ``localCheckpoint``ed per round —
a lazy chain would re-expand the whole prior lineage at every of the
three places the rank frame is consumed (contributions, dangling mass,
rank base), i.e. O(3^iters) subtrees. The degree-weighted edge list is
built once and checkpointed; per-iteration shuffles key on node ids
and carry (node, long share) rows only. Dangling-node mass (pages with no
outlinks — crawl frontiers are FULL of these: every not-yet-fetched
leaf) is redistributed uniformly via a one-row broadcast join, never a
driver collect.

One loop for every link-mass operator: ``_link_flow`` builds the
shared edge prep (distinct edges with out-degree, the node table with
its fixed flags, the one-row constants) and ``mass_flow`` runs the
rounds. PageRank, TrustRank (T79), spam mass (T121: both ranks as two
columns of ONE loop) and OPIC (operators/opic.py, T100) differ only in
their per-column start and update expressions, which they pass in.

Engine-portability: mass travels along edges in fixed point. A state
value on the 10^-rs grid is ``round(v·10^rs)`` units of 10^-rs, scaled
to units of 10^-FLOW_SCALE (10^-18); each edge carries the half-up
rounded share ``half_up(units·10^g, outdeg)`` with g = 18 − rs, and the
in-link and dangling sums are BIGINT sums, which no summation order
can change. The driver's DuckDB oracle unrolls the same iterations as
chained CTEs (one group per round) with the same integer expressions.
A float sum could not give this: on one OPIC graph the exact cash is
the rounding tie 0.16168094125, Spark's hash aggregation summed it to
that double and DuckDB to 0.16168094124999996, and each engine's
``round(·, 10)`` then rounds a tie its own way (Spark half-up on the
shortest decimal string, DuckDB on the binary value). PageRank and
TrustRank turn the exact sums into doubles once and still
``round(·, round_scale)`` the rank each round, so a rank whose exact
value is such a tie can still round apart; OPIC (opic.py) keeps its
whole state in integers.

At 10^10 edges: both per-iteration shuffles are hash exchanges on node
id — the same key every round, so a production run pre-partitions the
edge list once and every iteration reuses the layout; rank state is
2 doubles per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Flowing mass is a BIGINT count of 10^-FLOW_SCALE units: a share of
# mass 1 is at most 10^18, so its half-up rounding never overflows.
FLOW_SCALE = 18


def _half_up(a, b):
    """``a / b`` rounded half up, for BIGINT ``a ≥ 0`` and ``b > 0``:
    ``(a + b div 2) div b``, which equals ``(2a + b) div 2b`` without the
    doubling of ``a``."""
    return F.call_function("div", a + F.call_function("div", b, F.lit(2)), b)


def _half_up_sql(a: str, b) -> str:
    """DuckDB twin of ``_half_up``."""
    return f"((({a}) + ({b}) // 2) // ({b}))"


def _grid(round_scale: int) -> tuple[int, int]:
    """``(10^rs, 10^g)`` with g = FLOW_SCALE − rs: a value on the
    10^-rs grid is ``units·10^g`` flow units. Raises ``ValueError`` when
    rs is not in [0, FLOW_SCALE]."""
    if not 0 <= round_scale <= FLOW_SCALE:
        raise ValueError(
            f"round_scale must be in [0, {FLOW_SCALE}], got {round_scale}"
        )
    return 10**round_scale, 10 ** (FLOW_SCALE - round_scale)


def _grid_units(v, round_scale: int):
    """The flow units of a double state value on the 10^-rs grid:
    ``round(v·10^rs)`` (exact for rs ≤ 15) times 10^g."""
    scale, g = _grid(round_scale)
    return F.round(v * F.lit(scale)).cast("long") * F.lit(g)


def _grid_units_sql(v: str, round_scale: int) -> str:
    """DuckDB twin of ``_grid_units``."""
    scale, g = _grid(round_scale)
    return f"round({v} * {scale})::BIGINT * {g}"


def _as_mass(units):
    """An exact flow sum (10^-FLOW_SCALE units) as one double."""
    return units.cast("double") / F.lit(float(10**FLOW_SCALE))


def _as_mass_sql(units: str) -> str:
    """DuckDB twin of ``_as_mass``."""
    return f"{units}::DOUBLE / {float(10**FLOW_SCALE)!r}"


def _link_flow(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seeds: DataFrame | None = None,
    seed_col: str = "node",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The edge prep every link-mass loop shares: ``(e_w, marked,
    consts)``. ``e_w`` is the distinct (src, dst, _deg) edge list; duplicate
    edges are collapsed (link multiplicity does not multiply mass flow —
    the classic formulation). ``marked`` is the node table (every id
    appearing as src or dst) with the FIXED dangling flag ``_has_out`` —
    computing it once replaces the per-round state⋈deg anti-join with a
    filter over the already-materialized state, one join + two exchanges
    fewer per round — and, when ``seeds`` is given, the ``_is_seed`` flag
    (seeds outside the graph drop out here). ``consts`` is the one-row
    ``(_n[, _ns])`` frame each round broadcasts: node count and, with
    seeds, the effective seed count."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("_deg"))
    flags = [F.coalesce(F.col("_has_out"), F.lit(False)).alias("_has_out")]
    consts = [F.count("*").alias("_n")]
    if seeds is not None:
        s = seeds.select(F.col(seed_col).alias("node")).distinct()
        nodes = nodes.join(
            F.broadcast(s.withColumn("_is_seed", F.lit(True))), "node", "left"
        )
        flags.insert(
            0, F.coalesce(F.col("_is_seed"), F.lit(False)).alias("_is_seed")
        )
        consts.append(F.sum(F.col("_is_seed").cast("long")).alias("_ns"))
    marked = nodes.join(
        deg.select(F.col("src").alias("node"), F.lit(True).alias("_has_out")),
        "node",
        "left",
    ).select("node", *flags).localCheckpoint(eager=True)
    e_w = e.join(deg, "src").localCheckpoint(eager=True)
    return e_w, marked, marked.agg(*consts)


def mass_flow(
    e_w: DataFrame,
    marked: DataFrame,
    consts: DataFrame,
    columns: dict,
    flows: dict,
    iters: int,
) -> DataFrame:
    """``iters`` rounds of link-mass flow over ``_link_flow``'s output;
    returns the final state: ``marked``'s columns plus one per
    ``columns`` entry.

    ``columns`` maps each state column to ``(start, step)``: ``start``
    is its round-0 expression over marked ⋈ consts, and ``step(contrib,
    dm)`` its next value. ``step`` is evaluated over the previous state
    ⋈ contributions ⋈ dangling mass ⋈ consts, so it may read any
    previous-state or consts column.

    Only the columns named in ``flows`` travel along edges. ``flows``
    maps each of them to its mass as a BIGINT count of 10^-FLOW_SCALE
    units over the state (``_grid_units`` for a double on the 10^-rs
    grid). Each edge carries ``_half_up(mass, outdeg)``; ``contrib`` is
    the BIGINT sum of the shares arriving over in-links this round (0
    when none) and ``dm`` the BIGINT sum of the dangling nodes' mass,
    both in 10^-FLOW_SCALE units and so the same under any summation
    order. The step of any other column must ignore ``contrib`` and
    ``dm``.

    Each round is ONE edge⋈state join + ONE dst-keyed aggregation
    summing every flow column, ONE dangling-mass scan, and ONE state
    update — all flow columns share the round's shuffles."""
    from warcsum_spark.session import loop_plan_conf

    state = (
        marked.crossJoin(F.broadcast(consts))
        .select(*marked.columns, *[s.alias(c) for c, (s, _) in columns.items()])
        .localCheckpoint(eager=True)
    )
    # plain per-round planning in the small-state regime (no-op at
    # production scale) — see session.loop_plan_conf; per-round
    # checkpoints are LAZY (plan truncation happens at build either
    # way; materialization merges into the next round's stages)
    with loop_plan_conf(e_w, marked):
        for _ in range(iters):
            contribs = (
                e_w.join(state, e_w.src == state.node)
                .select(
                    F.col("dst").alias("node"),
                    *[
                        _half_up(m, F.col("_deg")).alias(f"_c_{c}")
                        for c, m in flows.items()
                    ],
                )
                .groupBy("node")
                .agg(*[F.sum(f"_c_{c}").alias(f"_contrib_{c}") for c in flows])
            )
            dangling = state.filter(~F.col("_has_out")).agg(
                *[
                    F.coalesce(F.sum(m), F.lit(0)).alias(f"_dm_{c}")
                    for c, m in flows.items()
                ]
            )
            state = (
                state.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .crossJoin(F.broadcast(consts))
                .select(
                    *marked.columns,
                    *[
                        step(
                            F.coalesce(F.col(f"_contrib_{c}"), F.lit(0)),
                            F.col(f"_dm_{c}"),
                        ).alias(c)
                        for c, (_, step) in columns.items()
                    ],
                )
                .localCheckpoint(eager=False)
            )
    return state


def _pagerank_column(damping: float, round_scale: int) -> tuple:
    """T32's ``(start, step)`` for ``mass_flow``: uniform start, uniform
    (1−d)/n teleport, dangling mass spread uniformly."""

    def step(contrib, dm):
        return F.round(
            (1.0 - damping) / F.col("_n")
            + damping * (_as_mass(contrib) + _as_mass(dm) / F.col("_n")),
            round_scale,
        )

    return F.round(F.lit(1.0) / F.col("_n"), round_scale), step


def _trustrank_column(damping: float, round_scale: int) -> tuple:
    """T79's ``(start, step)`` for ``mass_flow``: start, teleport and
    dangling mass all concentrate on the seeds."""

    def teleport():
        return F.when(
            F.col("_is_seed"), F.lit(1.0) / F.col("_ns")
        ).otherwise(F.lit(0.0))

    def step(contrib, dm):
        return F.round(
            (1.0 - damping) * teleport()
            + damping * (_as_mass(contrib) + _as_mass(dm) * teleport()),
            round_scale,
        )

    return F.round(teleport(), round_scale), step


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    round_scale: int = 10,
) -> DataFrame:
    """(node, rank) after ``iters`` power iterations from the uniform
    start. Nodes are every id appearing as src or dst; duplicate edges
    are collapsed (link multiplicity does not multiply rank flow —
    match the classic formulation)."""
    ranks = mass_flow(
        *_link_flow(edges, src_col, dst_col),
        {"rank": _pagerank_column(damping, round_scale)},
        {"rank": _grid_units(F.col("rank"), round_scale)},
        iters,
    )
    return ranks.select("node", "rank")


def pagerank_oracle_sql(
    edges_cte: str,
    damping: float = 0.85,
    iters: int = 4,
    round_scale: int = 10,
    final_scale: int = 8,
) -> str:
    """The same computation as chained CTEs for DuckDB — one
    (contrib, dangling, rank) group per unrolled iteration, with
    ``mass_flow``'s integer shares and sums and the step's double
    formula and per-round rounding. ``edges_cte`` is a SELECT yielding
    (src, dst).

    Every CTE is MATERIALIZED: each round's rank is read three times by
    the next round, and DuckDB inlines CTEs, so an inlined query would grow
    about 8× per round. The teleport is the engine's double ``1.0 - d``
    (not DuckDB's exact DECIMAL ``1.0 - d``)."""
    d = damping
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_cte}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "n AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT node, round(1.0 / n.n, {round_scale}) "
        "AS rank FROM nodes, n)",
    ]
    for i in range(iters):
        prev, cur = f"r{i}", f"r{i + 1}"
        units = _grid_units_sql(f"{prev}.rank", round_scale)
        parts.append(
            f"c{i + 1} AS MATERIALIZED (SELECT e.dst AS node, "
            f"sum({_half_up_sql(units, 'deg.deg')})::BIGINT AS contrib "
            f"FROM e JOIN deg USING (src) JOIN {prev} ON {prev}.node = e.src "
            f"GROUP BY e.dst)"
        )
        parts.append(
            f"d{i + 1} AS MATERIALIZED (SELECT coalesce(sum({units}), 0)::BIGINT "
            f"AS dm FROM {prev} WHERE node NOT IN (SELECT src FROM deg))"
        )
        parts.append(
            f"{cur} AS MATERIALIZED (SELECT nodes.node, "
            f"round({1.0 - d!r}::DOUBLE / n.n + {d} * ("
            f"{_as_mass_sql(f'coalesce(c{i + 1}.contrib, 0)')} "
            f"+ {_as_mass_sql(f'd{i + 1}.dm')} / n.n), {round_scale}) AS rank "
            f"FROM nodes LEFT JOIN c{i + 1} ON c{i + 1}.node = nodes.node, "
            f"d{i + 1}, n)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, round(rank, {final_scale}) AS rank FROM r{iters}"
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    round_scale: int = 10,
) -> DataFrame:
    """T79 — TrustRank (Gyongyi, Garcia-Molina, Pedersen, VLDB 2004):
    personalized PageRank whose teleport vector is uniform over a
    trusted SEED SET instead of all nodes — trust flows out from
    hand-vetted pages, and spam neighborhoods that organic link mass
    never reaches end up with rank ≈ 0. The standard web-spam demotion
    signal beside raw PageRank (a page with high PageRank but low
    TrustRank is the classic link-farm signature).

    Differences from ``pagerank`` above, per the paper: the start
    vector, the (1−d) teleport term, and the dangling-node mass all
    concentrate on the seeds (mass returns to the trusted set, not
    uniformly). Seeds outside the graph's node set are ignored; the
    effective seed count normalizes the teleport. Everything else —
    integer link-mass sums and per-round rounding, one edge join + one
    dst-keyed aggregation per iteration, localCheckpoint lineage cuts,
    (node, long) shuffle rows — is the T32 discipline unchanged. The
    seed table is dimension-sized by definition (hand-vetted) and is
    broadcast; at 10^10 edges the per-iteration cost is identical to
    pagerank's.
    """
    ranks = mass_flow(
        *_link_flow(edges, src_col, dst_col, seeds, seed_col),
        {"rank": _trustrank_column(damping, round_scale)},
        {"rank": _grid_units(F.col("rank"), round_scale)},
        iters,
    )
    return ranks.select("node", "rank")


def trustrank_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    damping: float = 0.85,
    iters: int = 4,
    round_scale: int = 10,
    final_scale: int = 8,
) -> str:
    """The identical iteration unrolled as chained CTEs (the
    ``pagerank_oracle_sql`` integer shares and sums). ``seeds_cte``
    yields (node); seeds outside the graph are dropped before
    normalization, exactly as the engine does. CTEs are MATERIALIZED and
    the teleport is a double, as in ``pagerank_oracle_sql``."""
    d = damping
    t = "CASE WHEN m.is_seed THEN 1.0 / ns.ns ELSE 0.0 END"
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_cte}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"s AS MATERIALIZED (SELECT DISTINCT node FROM ({seeds_cte}) "
        "WHERE node IN (SELECT node FROM nodes))",
        "m AS MATERIALIZED (SELECT nodes.node, "
        "nodes.node IN (SELECT node FROM s) AS is_seed FROM nodes)",
        "ns AS MATERIALIZED (SELECT count(*) AS ns FROM s)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT m.node, round({t}, {round_scale}) AS rank "
        "FROM m, ns)",
    ]
    for i in range(iters):
        prev, cur = f"r{i}", f"r{i + 1}"
        units = _grid_units_sql(f"{prev}.rank", round_scale)
        parts.append(
            f"c{i + 1} AS MATERIALIZED (SELECT e.dst AS node, "
            f"sum({_half_up_sql(units, 'deg.deg')})::BIGINT AS contrib "
            f"FROM e JOIN deg USING (src) JOIN {prev} ON {prev}.node = e.src "
            f"GROUP BY e.dst)"
        )
        parts.append(
            f"d{i + 1} AS MATERIALIZED (SELECT coalesce(sum({units}), 0)::BIGINT "
            f"AS dm FROM {prev} WHERE node NOT IN (SELECT src FROM deg))"
        )
        parts.append(
            f"{cur} AS MATERIALIZED (SELECT m.node, "
            f"round({1.0 - d!r}::DOUBLE * {t} + {d} * ("
            f"{_as_mass_sql(f'coalesce(c{i + 1}.contrib, 0)')} "
            f"+ {_as_mass_sql(f'd{i + 1}.dm')} * {t}), {round_scale}) AS rank "
            f"FROM m LEFT JOIN c{i + 1} ON c{i + 1}.node = m.node, "
            f"d{i + 1}, ns)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, round(rank, {final_scale}) AS rank FROM r{iters}"
    )


def spam_mass(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iters: int = 4,
    rel_thresh: float = 0.5,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """T121 — link-spam mass estimation (Gyöngyi, Berkhin,
    Garcia-Molina & Pedersen, "Link spam detection based on mass
    estimation", VLDB 2006): how much of a page's PageRank arrives
    from OUTSIDE the trusted good core. With p = PageRank and
    p⁺ = TrustRank (the good-core-personalized rank, both L1-mass-1
    by construction), the paper's estimates are the absolute mass
    M̃ = p − p⁺ and the relative mass m̃ = (p − p⁺)/p; pages whose
    rank is mostly spam-delivered (m̃ above a threshold) are the
    link-farm beneficiaries — the page T79's prose calls
    "high PageRank but low TrustRank", now quantified per node.

    Output: (node, pagerank, trustrank, spam_mass, rel_mass,
    is_spam). Both input ranks are the gate-proven round-8 columns of
    T32/T79; spam_mass = round(p − p⁺, 8) and
    rel_mass = round((p − p⁺)/p, 6) are fixed IEEE expressions over
    them (p > 0 always: the teleport floor (1−d)/n is positive), and
    ``is_spam`` tests the ROUNDED rel_mass — every column engine-exact.
    Seeds, as in T79, are dimension-sized and broadcast.

    Plan shape: both ranks are two columns of ONE ``mass_flow`` loop —
    the edge prep is built once, and each round is one edge join + one
    dst-keyed aggregation summing both contributions, one dangling scan
    over both columns and one state update (localCheckpoint lineage
    cuts). Each column's arithmetic is its solo operator's expression
    verbatim, so both follow the solo trajectories bit for bit; the
    composition adds only a map-only projection. At 10^10 edges both
    ranks are computed once per crawl cycle anyway — this materializes
    their difference."""
    state = mass_flow(
        *_link_flow(edges, src_col, dst_col, seeds, seed_col),
        {
            "pr": _pagerank_column(damping, 10),
            "tr": _trustrank_column(damping, 10),
        },
        {c: _grid_units(F.col(c), 10) for c in ("pr", "tr")},
        iters,
    )
    j = state.select(
        "node",
        F.round("pr", 8).alias("pagerank"),
        F.round("tr", 8).alias("trustrank"),
    )
    mass = F.round(F.col("pagerank") - F.col("trustrank"), 8)
    rel = F.round(
        (F.col("pagerank") - F.col("trustrank")) / F.col("pagerank"), 6
    )
    return j.select(
        "node",
        "pagerank",
        "trustrank",
        mass.alias("spam_mass"),
        rel.alias("rel_mass"),
        (rel >= F.lit(float(rel_thresh))).alias("is_spam"),
    )


def spam_mass_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    damping: float = 0.85,
    iters: int = 4,
    rel_thresh: float = 0.5,
) -> str:
    """The composition of the two unrolled-CTE twins: each full
    WITH-statement becomes a derived table, joined on node, with the
    identical mass/relative-mass expressions."""
    pr_sql = pagerank_oracle_sql(edges_cte, damping=damping, iters=iters)
    tr_sql = trustrank_oracle_sql(
        edges_cte, seeds_cte, damping=damping, iters=iters
    )
    return f"""
SELECT pr.node, pr.rank AS pagerank, tr.rank AS trustrank,
       round(pr.rank - tr.rank, 8) AS spam_mass,
       round((pr.rank - tr.rank) / pr.rank, 6) AS rel_mass,
       (round((pr.rank - tr.rank) / pr.rank, 6) >= {rel_thresh!r})
         AS is_spam
FROM ({pr_sql}) pr
JOIN ({tr_sql}) tr ON tr.node = pr.node
"""
