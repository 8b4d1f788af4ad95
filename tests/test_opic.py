"""operators/opic.py (T100) — synchronous OPIC: a pure-Python rounds
twin, cash conservation (ΣC = 1 per round up to rounding), the
dangling virtual-page path, importance ≡ normalized flow, agreement
with PageRank's ORDER at damping→1 on a strongly connected graph,
DuckDB twin bit parity, rows independent of the partition count, the
round_scale range, and the Python-free plan contract."""

from __future__ import annotations

import duckdb
import pytest

from warcsum_spark.operators.opic import opic, opic_oracle_sql


def _py_ref(edges, iters, rs=10):
    e = sorted(set(edges))
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    n = len(nodes)
    outs = {}
    for u, v in e:
        outs.setdefault(u, []).append(v)
    cash = {v: round(1.0 / n, rs) for v in nodes}
    hist = {v: 0.0 for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        dm = 0.0
        for u in nodes:
            if u in outs:
                for v in outs[u]:
                    contrib[v] += cash[u] / len(outs[u])
            else:
                dm += cash[u]
        new_hist = {v: round(hist[v] + cash[v], rs) for v in nodes}
        cash = {v: round(contrib[v] + dm / n, rs) for v in nodes}
        hist = new_hist
    return {
        v: (
            cash[v],
            hist[v],
            round((hist[v] + cash[v]) / float(iters + 1), 6),
        )
        for v in nodes
    }


def _run(spark, edges, iters=4):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: (r["cash"], r["history"], r["importance"])
        for r in opic(df, iters=iters).collect()
    }


def test_python_reference_twin_with_dangling(spark):
    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (3, 4)]  # 4 dangling
    got = _run(spark, edges, iters=5)
    ref = _py_ref(edges, iters=5)
    assert set(got) == set(ref)
    for v in ref:
        for g, w in zip(got[v], ref[v]):
            assert g == pytest.approx(w, abs=1e-9), v


def test_cash_conservation(spark):
    edges = [(i, (i * 3 + 1) % 7) for i in range(7)] + [(0, 9)]
    got = _run(spark, edges, iters=6)
    total_cash = sum(c for c, _, _ in got.values())
    total_imp = sum(i for _, _, i in got.values())
    assert total_cash == pytest.approx(1.0, abs=1e-6)
    assert total_imp == pytest.approx(1.0, abs=1e-5)


def test_hub_outranks_leaf(spark):
    # everyone links the hub; hub links one leaf
    edges = [(i, 100) for i in range(1, 9)] + [(100, 50)]
    got = _run(spark, edges, iters=4)
    assert got[100][2] > got[50][2] > 0
    assert got[100][2] > got[1][2]


def test_matches_pagerank_order_on_strong_graph(spark):
    from warcsum_spark.operators.pagerank import pagerank

    # strongly connected, no dangling: OPIC flow order should agree
    # with damping-0.99 PageRank order
    edges = (
        [(i, (i + 1) % 6) for i in range(6)]
        + [(i, 0) for i in range(1, 6)]
        + [(0, 3)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    o = {r["node"]: r["importance"] for r in opic(df, iters=12).collect()}
    p = {
        r["node"]: r["rank"]
        for r in pagerank(df, damping=0.99, iters=12).collect()
    }
    order_o = sorted(o, key=lambda v: (-o[v], v))
    order_p = sorted(p, key=lambda v: (-p[v], v))
    assert order_o == order_p


@pytest.mark.parametrize("iters", [4, 8])
def test_duckdb_twin_bit_parity(spark, iters):
    edges = [(i % 11, (i * i + 1) % 13) for i in range(60)]
    got = _run(spark, edges, iters=iters)
    vals = ", ".join(f"({u}, {v})" for u, v in set(edges))
    sql = opic_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)", iters=iters
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duckdb.connect().execute(sql).fetchall()
    }
    assert got == want  # per-round rounding makes this exact


def test_partition_count_does_not_change_rows(spark):
    # the parity graph: node 0's round-3 cash is an exact rounding tie,
    # so with float sums the summation order could decide it
    edges = [(i % 11, (i * i + 1) % 13) for i in range(60)]
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    rows = {}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for parts in (1, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            df = spark.createDataFrame(edges, "src long, dst long")
            rows[parts] = sorted(
                tuple(r) for r in opic(df.repartition(parts), iters=4).collect()
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert rows[1] == rows[8]


@pytest.mark.parametrize("rs", [5, 19])
def test_round_scale_out_of_range_raises(spark, rs):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="round_scale"):
        opic(df, round_scale=rs)
    with pytest.raises(ValueError, match="round_scale"):
        opic_oracle_sql("SELECT 0 AS src, 1 AS dst", round_scale=rs)


def test_plan_python_free(spark):
    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    plan = opic(df, iters=1)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan
