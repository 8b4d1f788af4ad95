"""Benchmark runner for the headline query suite (driver contract).

Default mode: run the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

``--scale-suite`` mode: the same suite at sf0.1 and at an amplified input
(see ``run_scale_suite``). Core-count scaling (local[1] vs local[N]) is
measured by ``perfbench/run.py --cores N`` on the oracle-checked
``warc_dedup`` and ``frontier_crawl`` workloads; see BENCH/BASELINE.md.

Each query is forced end-to-end with the noop sink (full execution, no
driver collect). Timing excludes session startup; a warmup query primes
the JVM/Arrow workers.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve via globals

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from warcsum_spark.session import default_cores, get_spark  # noqa: E402

#: headline query → its primary input table (the rows/sec denominator of
#: --scale-suite), in catalogue order; see __spark_entry__.CATALOGUE
QUERY_PRIMARY_TABLE = {
    name: table for name, _, _, table in entry_mod.CATALOGUE if table is not None
}
HEADLINE = list(QUERY_PRIMARY_TABLE)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_arrow_workers(spark) -> None:
    """Spawn the Python/Arrow worker pool (pandas+pyarrow imports, ~1 s
    per worker, amortized in parallel) before any timed query — a JVM-only
    warmup leaves the first Arrow-UDF query paying worker startup."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _ident(x: pd.Series) -> pd.Series:
        return x

    _force(spark.range(100_000).repartition(64).select(_ident("id")))


def run_suite(spark, sf_dir: str) -> dict[str, float]:
    """Per-query wall clock, min over WARCSUM_SUITE_REPS passes
    (default 2). Single-pass numbers on this box swing 2-20x with
    co-tenant load and one-off JIT/GC events (a 1.3 s query has been
    observed at 45 s once); min-of-2 keeps the suite honest without
    tripling its cost."""
    qs = entry_mod.queries()
    times: dict[str, float] = {}
    # warmup: JVM + Arrow python workers
    _force(qs["pricing_agg"](spark, sf_dir))
    _warm_arrow_workers(spark)
    reps = int(os.environ.get("WARCSUM_SUITE_REPS", "2"))
    for _ in range(reps):
        for name in HEADLINE:
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            t = round(time.perf_counter() - t0, 3)
            times[name] = min(times.get(name, float("inf")), t)
    return times


def _session(cores: int | str, shuffle: int):
    # At bench scale the shuffled data is tens of MB; AQE's default 64 MB
    # advisory size would coalesce every shuffle to ~1 partition and
    # serialize the windows/joins. Size partitions to keep all cores busy —
    # the same rows-per-task tuning a real cluster job does, in reverse.
    return get_spark(
        cores=cores,
        shuffle_partitions=shuffle,
        app_name=f"bench_{cores}",
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m"},
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cores()
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    if sys.argv[1:] not in ([], ["--scale-suite"]):
        sys.exit(f"usage: {sys.argv[0]} [--scale-suite]")
    if "--scale-suite" in sys.argv:
        run_scale_suite(sf_dir, cpus)
        return

    spark = _session(cpus, max(int(cpus), 8))
    times = run_suite(spark, sf_dir)
    total = round(sum(times.values()), 3)
    payload = {
        "metric": f"headline query suite wall-clock at sf={sf} on local[{cpus}]",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf),
        "loadavg_1min": round(os.getloadavg()[0], 1),
    }
    # carry the latest data-scaling evidence (bench.py --scale-suite)
    # into the per-round artifact so BENCH_r{N}.json is self-contained:
    # one summary per stored amplification factor (x10, x30, ...)
    repo = os.path.dirname(os.path.abspath(__file__))
    arts = _load_scale_artifacts(repo)
    if arts:
        payload["scale_suite"] = arts[0]["summary"]  # back-compat: x10
        if len(arts) > 1:
            payload["scale_suite_curve"] = [a["summary"] for a in arts]
    print(json.dumps(payload))
    # The full payload (now ~60 queries + the scale curve) exceeds the
    # driver's 2000-char stdout tail capture, which made BENCH_r04.json
    # parse as null. Persist it, then end stdout with a compact line that
    # always fits inside any tail window — the LAST line is what a
    # tail-capture parser sees.
    os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
    with open(os.path.join(repo, "BENCH", "headline_full.json"), "w") as f:
        json.dump(payload, f, indent=1)
    print(compact_line(payload, arts))
    spark.stop()


def compact_line(payload: dict, arts: list[dict]) -> str:
    """The last stdout line: every headline key's time, as a positional
    array in ``HEADLINE`` order (``queries_order`` names it), so all 107
    fit the driver's 2000-char tail capture (≈890 chars) without naming
    each query. ``arts`` are the stored --scale-suite artifacts."""
    times = payload["queries"]
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "sf": payload["sf"],
        "n_queries": len(times),
        "queries": [times.get(name) for name in HEADLINE],
        "queries_order": "bench.HEADLINE",
        "loadavg_1min": payload["loadavg_1min"],
        "queries_full": "BENCH/headline_full.json",
    }
    if arts:
        # terse curve — "factor:time_ratio:median_throughput_ratio" per
        # tier; the structured form lives in headline_full.json and
        # BENCH/suite_scale_x*.json
        compact["scale_curve"] = ";".join(
            "x{factor}:t{time_ratio}:tp{median_throughput_ratio}".format(
                **a["summary"]
            )
            for a in arts
        )
    return json.dumps(compact, separators=(",", ":"))


def _table_rows(sf_dir: str, table: str) -> int:
    """Row count from the parquet footer — no Spark job."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(
        os.path.join(sf_dir, f"{table}.parquet")
    ).metadata.num_rows


def run_scale_suite(base_dir: str, cpus: str) -> None:
    """The full headline suite at sf0.1 AND at a deterministically amplified
    input (tools/gen_scale.py, default ×10 ≈ sf1), same session and
    config — per-query rows/sec at both scales plus the throughput
    ratio. This is the suite-wide form of the amortization evidence: at
    fixed parallelism, per-task work grows with data, so throughput
    should RISE wherever the small-input time was dominated by fixed
    task-launch/fan-in latency rather than by the engine.

    Writes BENCH/suite_scale.json and refreshes the marked section of
    BENCH/BASELINE.md; the default bench mode embeds the summary into
    its one-line JSON so BENCH_r{N}.json carries the evidence."""
    repo = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from gen_scale import generate_scaled

    factor = int(os.environ.get("WARCSUM_SCALE_FACTOR", "10"))
    scale_dir = os.environ.get(
        "WARCSUM_SCALE_DIR", f"/tmp/warcsum_scale_x{factor}"
    )
    generate_scaled(base_dir, scale_dir, factor)

    spark = _session(cpus, max(int(cpus), 8))
    # UNTIMED full sweep first: whole-stage-codegen JIT is per query
    # shape, and plan shapes are identical at both scales — without this
    # the first timed sweep pays every query's C2 compile and the second
    # one rides it, biasing the ratio toward whichever order ran last
    _ = run_suite(spark, base_dir)
    sweep = {}
    loads = {}
    for tag, d in (("base", base_dir), ("scaled", scale_dir)):
        loads[tag] = round(os.getloadavg()[0], 1)
        sweep[tag] = run_suite(spark, d)
    spark.stop()

    per_query = {}
    for name in HEADLINE:
        table = QUERY_PRIMARY_TABLE[name]
        rows_b = _table_rows(base_dir, table)
        rows_s = _table_rows(scale_dir, table)
        tb, ts = sweep["base"][name], sweep["scaled"][name]
        rps_b = rows_b / tb
        rps_s = rows_s / ts
        per_query[name] = {
            "table": table,
            "rows_base": rows_b,
            "rows_scaled": rows_s,
            "sec_base": tb,
            "sec_scaled": ts,
            "rows_per_sec_base": round(rps_b, 1),
            "rows_per_sec_scaled": round(rps_s, 1),
            "throughput_ratio": round(rps_s / rps_b, 2),
        }
    total_b = round(sum(sweep["base"].values()), 3)
    total_s = round(sum(sweep["scaled"].values()), 3)
    rising = sum(1 for q in per_query.values() if q["throughput_ratio"] > 1.0)
    summary = {
        "factor": factor,
        "cpus": int(cpus),
        "reps": int(os.environ.get("WARCSUM_SUITE_REPS", "2")),
        "total_sec_base": total_b,
        "total_sec_scaled": total_s,
        "time_ratio": round(total_s / total_b, 2),
        "queries_throughput_rising": rising,
        "n_queries": len(per_query),
        "median_throughput_ratio": round(
            sorted(q["throughput_ratio"] for q in per_query.values())[
                len(per_query) // 2
            ],
            2,
        ),
        "loadavg_1min": loads,
    }
    art_name = (
        "suite_scale.json" if factor == 10 else f"suite_scale_x{factor}.json"
    )
    art_path = os.path.join(repo, "BENCH", art_name)
    os.makedirs(os.path.dirname(art_path), exist_ok=True)
    prev = None
    if os.path.exists(art_path):
        with open(art_path) as f:
            prev = json.load(f)
    # merge-min on seconds across runs (same noise-robust estimator as
    # the scaling protocol), then recompute derived fields
    # merge-min is only coherent across runs at the SAME core count —
    # a local[16] second and a local[32] second are different units
    if (
        prev
        and prev.get("factor") == factor
        and prev.get("summary", {}).get("cpus", 32) == int(cpus)
    ):
        for name, q in per_query.items():
            p = prev.get("per_query", {}).get(name)
            if not p:
                continue
            q["sec_base"] = min(q["sec_base"], p["sec_base"])
            q["sec_scaled"] = min(q["sec_scaled"], p["sec_scaled"])
            q["rows_per_sec_base"] = round(q["rows_base"] / q["sec_base"], 1)
            q["rows_per_sec_scaled"] = round(
                q["rows_scaled"] / q["sec_scaled"], 1
            )
            q["throughput_ratio"] = round(
                q["rows_per_sec_scaled"] / q["rows_per_sec_base"], 2
            )
        summary["total_sec_base"] = round(
            sum(q["sec_base"] for q in per_query.values()), 3
        )
        summary["total_sec_scaled"] = round(
            sum(q["sec_scaled"] for q in per_query.values()), 3
        )
        summary["time_ratio"] = round(
            summary["total_sec_scaled"] / summary["total_sec_base"], 2
        )
        summary["queries_throughput_rising"] = sum(
            1 for q in per_query.values() if q["throughput_ratio"] > 1.0
        )
        summary["median_throughput_ratio"] = round(
            sorted(q["throughput_ratio"] for q in per_query.values())[
                len(per_query) // 2
            ],
            2,
        )
    artifact = {"factor": factor, "summary": summary, "per_query": per_query}
    with open(art_path, "w") as f:
        json.dump(artifact, f, indent=1)
    _write_scale_suite_md(repo)
    print(json.dumps(summary))


def _load_scale_artifacts(repo) -> list[dict]:
    import glob as _glob

    arts = []
    for p in sorted(
        _glob.glob(os.path.join(repo, "BENCH", "suite_scale*.json"))
    ):
        with open(p) as f:
            arts.append(json.load(f))
    arts.sort(key=lambda a: a["factor"])
    return arts


def _write_scale_suite_md(repo) -> None:
    """One marked block rendering every stored amplification factor —
    the multi-point curve of throughput vs data volume."""
    start, end = "<!-- scale-suite:start -->", "<!-- scale-suite:end -->"
    arts = _load_scale_artifacts(repo)
    lines = [
        start,
        "## Suite throughput vs data scale",
        "",
        f"Same {len(HEADLINE)} queries, sf0.1 input measured in the same "
        "session/config as its scaled tier (per-tier config in each "
        "header) "
        "vs deterministic amplifications (tools/gen_scale.py: keys "
        "re-keyed consistently so join fan-outs are preserved, texts "
        "per-replica cipher-rotated so dedup/LSH candidate structure "
        "scales instead of collapsing into R-way near-dup clusters, "
        "embeddings rotated). rows/sec = primary-table rows / wall sec; "
        "a ratio > 1 means the query got FASTER per row with more data — "
        "its small-input time was fixed overhead, not engine cost. "
        "Seconds are min-of-reps, merge-min across runs.",
    ]
    for art in arts:
        factor, summary, per_query = art["factor"], art["summary"], art["per_query"]
        cores = summary.get("cpus", 32)
        reps = summary.get("reps")
        cfg = f"local[{cores}]" + (f", {reps} rep(s)" if reps else "")
        lines += [
            "",
            f"### ×{factor} ({cfg})",
            "",
            f"| query | table | sec @sf0.1 | sec @×{factor} | rows/s @sf0.1 | "
            f"rows/s @×{factor} | throughput ratio |",
            "|---|---|---|---|---|---|---|",
        ]
        for name in HEADLINE:
            q = per_query.get(name)
            if q is None:
                continue
            lines.append(
                f"| {name} | {q['table']} | {q['sec_base']} | {q['sec_scaled']} "
                f"| {q['rows_per_sec_base']} | {q['rows_per_sec_scaled']} "
                f"| **{q['throughput_ratio']}** |"
            )
        lines.append(
            f"\nTotals: {summary['total_sec_base']} s → "
            f"{summary['total_sec_scaled']} s for {factor}× the rows "
            f"(time ratio {summary['time_ratio']}× — ideal strong-scaling-"
            f"free cost would be {factor}×). Throughput rises on "
            f"{summary['queries_throughput_rising']}/{summary['n_queries']} "
            f"queries; median ratio {summary['median_throughput_ratio']}."
        )
    lines.append(end)
    block = "\n".join(lines)
    path = os.path.join(repo, "BENCH", "BASELINE.md")
    md = ""
    if os.path.exists(path):
        with open(path) as f:
            md = f.read()
    if start in md and end in md:
        pre, rest = md.split(start, 1)
        _, post = rest.split(end, 1)
        md = pre + block + post
    else:
        md = md.rstrip() + "\n\n" + block + "\n"
    with open(path, "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()
