"""query_suite: the headline queries (``bench.HEADLINE``) over a directory
of the TPC-H-style parquet tables described in TESTDATA.md, each forced
with the noop sink as ``bench.py`` does.

It is not listed in BENCHMARK.json: its tables are not generated from a
seed but read from ``--sf-dir`` outside the checkout, and one pass takes
about 100 s at local[4], more than one benchmark run may spend. Run it by
hand:

    python3 perfbench/run.py --workload query_suite --seed 0 --seconds 1 \\
        --trace 0 --sf-dir /path/to/sf0.1
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time

END_TO_END = [
    {"name": "suite_s", "unit": "s"},
    {"name": "query_p50_s", "unit": "s"},
    {"name": "query_p90_s", "unit": "s"},
    {"name": "setup_s", "unit": "s"},
    {"name": "peak_rss_mb", "unit": "MB"},
]
PER_LAYER = [
    {"name": n, "unit": u}
    for n, u in (
        ("session.get_spark_s", "s"),
        ("session.warmup_s", "s"),
        ("session.cold_setup_s", "s"),
        ("queries.build_s", "s"),
        ("queries.plan_s", "s"),
        ("queries.exec_s", "s"),
        ("queries.jobs", "count"),
        ("queries.stages", "count"),
        ("queries.tasks", "count"),
        ("queries.exchanges", "count"),
        ("queries.python_nodes", "count"),
        ("queries.shuffle_write_mb", "MB"),
        ("queries.spill_mb", "MB"),
        ("queries.executor_run_s", "s"),
        ("queries.gc_s", "s"),
        ("spark.tasks_failed", "count"),
        ("trace.overhead_frac", "fraction"),
    )
]

#: physical operators that hand rows to Python workers
_PYTHON_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInArrow|AggregateInPandas|WindowInPandas|ArrowEvalPythonUDTF)\b"
)


def _headline():
    import __spark_entry__ as entry
    from bench import HEADLINE

    return HEADLINE, entry.queries()


def run_query(spark, fn, sf_dir: str) -> dict:
    """Build, plan and execute one query; the three times and plan counts."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan().toString()
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return {
        "build_s": t1 - t0,
        "plan_s": t2 - t1,
        "exec_s": t3 - t2,
        "latency_s": t3 - t0,
        "exchanges": plan.count("Exchange "),
        "python_nodes": len(_PYTHON_NODES.findall(plan)),
    }


def _pass(spark, sf_dir: str, run, tracer=None) -> tuple[float, dict]:
    names, qs = _headline()
    recs = {}
    t0 = time.perf_counter()
    for name in names:
        if tracer is None:
            rec = run.attempt(run_query, spark, qs[name], sf_dir)
        else:
            with tracer.span(f"__spark_entry__.{name}") as span:
                rec = run.attempt(run_query, spark, qs[name], sf_dir)
                span.update(rec or {})
            if rec is not None:
                rec.update(span["spark"])
        if rec is not None:
            recs[name] = rec
    return time.perf_counter() - t0, recs


def check(spark, sf_dir: str, run) -> None:
    """Each query against its DuckDB ``oracle_sql()`` under
    ``tools/check_oracle.py``'s canonical form; queries without an oracle
    must only run."""
    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    import __spark_entry__ as entry
    from check_oracle import TABLES, canon

    names, qs = _headline()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    sqls = entry.oracle_sql_for(sf_dir)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            rows, cols = df.collect(), [c.lower() for c in df.columns]
            if name in sqls:
                rel = con.sql(sqls[name])
                dcols = [c.lower() for c in rel.columns]
                ok = sorted(cols) == sorted(dcols) and canon(
                    [list(r) for r in rows], cols
                ) == canon(rel.fetchall(), dcols)
                run.check(ok, f"query_suite {name} != oracle_sql")
        except Exception as e:  # noqa: BLE001 — one query must not end the run
            run.check(False, f"query_suite {name} raised {type(e).__name__}: {e}")
    con.close()


def measure(spark, sf_dir: str, seconds: float, run) -> dict:
    """Passes over the headline queries until ``seconds`` have been spent
    (at least one). Per-query latency is the median over passes."""
    walls, lat = [], {}
    while not walls or sum(walls) < seconds:
        wall, recs = _pass(spark, sf_dir, run)
        walls.append(wall)
        for name, rec in recs.items():
            lat.setdefault(name, []).append(rec["latency_s"])
    check(spark, sf_dir, run)
    per_query = sorted(statistics.median(v) for v in lat.values())
    suite = statistics.median(walls)
    p50 = statistics.median(per_query)
    p90 = statistics.quantiles(per_query, n=10)[8] if len(per_query) > 1 else p50
    return {
        "metrics": {"suite_s": suite, "query_p50_s": p50, "query_p90_s": p90},
        "human": {
            "suite_s": (suite, "s"),
            "query_p50_s": (p50, "s"),
            "query_p90_s": (p90, "s"),
            "queries": (len(per_query), "count"),
            "passes": (len(walls), "count"),
        },
    }


def traced(spark, tracer, workload: str, inputs: dict, run) -> dict:
    """One untraced pass, then one pass with a span per query; the per-query
    records land in the trace file."""
    sf_dir = inputs["query_suite"]
    plain, _ = _pass(spark, sf_dir, run)
    with tracer.span("__spark_entry__") as top:
        _, recs = _pass(spark, sf_dir, run, tracer)
    check(spark, sf_dir, run)
    total = {
        k: sum(r[k] for r in recs.values())
        for k in (
            "build_s", "plan_s", "exec_s", "jobs", "stages", "tasks", "exchanges",
            "python_nodes", "shuffle_write_mb", "spill_mb", "executor_run_s", "gc_s",
        )
    }
    metrics = {f"queries.{k}": v for k, v in total.items()}
    metrics["trace.overhead_frac"] = (top["end"] - top["start"]) / plain - 1
    return metrics
