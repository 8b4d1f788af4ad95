"""operators/bowtie.py (T101) — bow-tie decomposition: a Python
reachability twin, exact class pins on a constructed bow-tie, the
default min-node pivot, hop-budget truncation, DuckDB twin bit parity,
and the Python-free plan contract."""

from __future__ import annotations

import duckdb
import pytest

from warcsum_spark.operators.bowtie import bowtie, bowtie_sql, bowtie_summary


def _py_ref(edges, pivot, max_hops):
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    fwd_adj, bwd_adj = {}, {}
    for u, v in set(edges):
        fwd_adj.setdefault(u, set()).add(v)
        bwd_adj.setdefault(v, set()).add(u)

    def reach(adj):
        seen = {pivot}
        frontier = {pivot}
        for _ in range(max_hops):
            nxt = set()
            for u in frontier:
                nxt |= adj.get(u, set())
            frontier = nxt - seen
            if not frontier:
                break
            seen |= frontier
        return seen

    f, b = reach(fwd_adj), reach(bwd_adj)
    out = {}
    for n in nodes:
        if n in f and n in b:
            out[n] = "CORE"
        elif n in b:
            out[n] = "IN"
        elif n in f:
            out[n] = "OUT"
        else:
            out[n] = "OTHER"
    return out


def _bowtie_edges():
    core = [(100 + i, 100 + (i + 1) % 6) for i in range(6)]
    in_chain = [(i, i + 1) for i in range(4)] + [(4, 100)]
    out_chain = [(103, 200)] + [(200 + i, 201 + i) for i in range(4)]
    island = [(500, 501), (501, 500)]
    return core + in_chain + out_chain + island


def _run_tagged(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["cls"] for r in bowtie(df, **kw).collect()}


def test_constructed_bowtie_classes(spark):
    got = _run_tagged(spark, _bowtie_edges(), max_hops=16, pivot=100)
    assert {n for n, c in got.items() if c == "CORE"} == set(range(100, 106))
    assert {n for n, c in got.items() if c == "IN"} == set(range(5))
    assert {n for n, c in got.items() if c == "OUT"} == set(range(200, 205))
    assert {n for n, c in got.items() if c == "OTHER"} == {500, 501}


@pytest.mark.parametrize("shift", [0, -20])
def test_python_reference_twin_odd_graph(spark, shift):
    # shift -20 makes ids negative: the backward-sweep copies must not
    # fold into the forward sweep
    edges = [
        (i % 13 + shift, (i * i + 3) % 13 + shift) for i in range(40)
    ] + [(50 + shift, shift)]
    got = _run_tagged(spark, edges, max_hops=13, pivot=shift)
    assert got == _py_ref(edges, pivot=shift, max_hops=13)


def test_default_pivot_is_min_node(spark):
    edges = [(7, 8), (8, 7), (8, 9)]
    got = _run_tagged(spark, edges, max_hops=5)
    ref = _py_ref(edges, pivot=7, max_hops=5)
    assert got == ref


def test_hop_budget_truncates_reach(spark):
    chain = [(i, i + 1) for i in range(10)]
    got = _run_tagged(spark, chain, max_hops=3, pivot=0)
    # forward reach stops at node 3; nothing reaches 0
    assert got[3] == "OUT" and got[4] == "OTHER"


def test_summary_shares(spark):
    df = spark.createDataFrame(_bowtie_edges(), "src long, dst long")
    s = {
        r["cls"]: (r["n_nodes"], r["share"])
        for r in bowtie_summary(df, max_hops=16, pivot=100).collect()
    }
    total = sum(n for n, _ in s.values())
    assert total == 18
    assert s["CORE"][0] == 6
    assert s["CORE"][1] == pytest.approx(6 / 18, abs=1e-6)


def test_duckdb_twin_bit_parity(spark):
    edges = _bowtie_edges()
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["cls"]: (r["n_nodes"], r["share"])
        for r in bowtie_summary(df, max_hops=16, pivot=100).collect()
    }
    vals = ", ".join(f"({u}, {v})" for u, v in edges)
    sql = bowtie_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)",
        max_hops=16,
        pivot=100,
    )
    want = {
        r[0]: (r[1], r[2])
        for r in duckdb.connect().execute(sql).fetchall()
    }
    assert got == want


def test_plan_python_free(spark):
    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    plan = (
        bowtie(df, max_hops=2, pivot=0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "BatchEval" not in plan
