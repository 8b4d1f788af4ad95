"""The benchmark's workloads: inputs, timed operations, output checks and
traced passes.

Inputs and oracle expectations are built once per seed and cached under
the work directory; both happen before any timing starts. An output check
compares what the engine wrote with the repo's own oracle and runs outside
the timed region.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import time

import gen

# Bump when a generator or an expectation changes, so stale caches rebuild.
INPUT_VERSION = 4
#: traced passes over the warc pipeline prefixes; layer times are medians
TRACE_PASSES = 2


def _digest(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _cached(path: str, build) -> dict:
    """``build(path)``'s result, kept in ``path/meta.json``. The marker is
    written last, so a half-built directory is rebuilt on the next run."""
    meta = os.path.join(path, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    out = build(path)
    with open(meta + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(meta + ".tmp", meta)
    return out


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- warc_dedup ----------------------------------------------------------------


def prepare_warc(work: str, seed: int, **shape) -> dict:
    from warcsum_spark import oracle

    def build(path):
        info = gen.write_warc_inputs(os.path.join(path, "archives"), seed, **shape)
        ext = oracle.oracle_extended(oracle.oracle_manifest(info["paths"]))
        lines = sorted(oracle.extended_lines(ext))
        stats = oracle.oracle_stats(ext)
        return {
            "dir": os.path.join(path, "archives"),
            "members": info["members"],
            "compressed_bytes": info["compressed_bytes"],
            "lines": len(lines),
            "sha256": _digest(lines),
            "duplicates": stats["duplicates"],
            "clusters": stats["distinct_digests"],
        }

    tag = "-".join(f"{k}{v}" for k, v in sorted(shape.items()))
    return _cached(os.path.join(work, "inputs", f"warc-v{INPUT_VERSION}-{seed}{tag}"), build)


def warc_op(spark, inp: dict, out: str) -> float:
    """One ``dedup -o DIR`` run: the fused pipeline with its defaults, the
    extended manifest written as text. Returns its wall time."""
    from warcsum_spark.operators.collres import extended_text
    from warcsum_spark.plans.pipeline import warcsum_pipeline

    t0 = time.perf_counter()
    extended_text(warcsum_pipeline(spark, inp["dir"])).write.mode("overwrite").text(out)
    return time.perf_counter() - t0


def read_text_dir(out: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(out, "part-*"))):
        with open(part, encoding="utf-8") as f:
            lines.extend(f.read().splitlines())
    return lines


def check_warc(out: str, inp: dict) -> bool:
    lines = sorted(read_text_dir(out))
    return len(lines) == inp["lines"] and _digest(lines) == inp["sha256"]


def trace_warc(spark, tracer, inp: dict, out: str) -> dict:
    """Force each prefix of the pipeline in turn, ``TRACE_PASSES`` times; a
    layer's time is the median over passes of its prefix's time minus the
    previous prefix's."""
    from warcsum_spark.operators.collres import extended_text
    from warcsum_spark.operators.digest_manifest import digest_manifest
    from warcsum_spark.plans.pipeline import warcsum_pipeline
    from warcsum_spark.sources.warc import scan_warc_members

    d = inp["dir"]
    passes = []
    with tracer.span("plans.pipeline"):
        for rep in range(TRACE_PASSES):
            with tracer.span("sources.warc.scan_warc_members", rep=rep) as scan:
                _force(scan_warc_members(spark, d))
            with tracer.span("operators.digest_manifest.digest_manifest", rep=rep) as dig:
                _force(digest_manifest(scan_warc_members(spark, d), keep_payload=True))
            with tracer.span("operators.collres.resolve_collisions", rep=rep) as full:
                ext = warcsum_pipeline(spark, d)
                plan = ext._jdf.queryExecution().executedPlan().toString()
                _force(ext)
            with tracer.span("plans.pipeline.warcsum_pipeline.write", rep=rep) as wr:
                extended_text(warcsum_pipeline(spark, d)).write.mode("overwrite").text(out)
            passes.append([s["end"] - s["start"] for s in (scan, dig, full, wr)])

    def med(i):
        """Median over passes of prefix i's time minus prefix i-1's."""
        return statistics.median(p[i] - (p[i - 1] if i else 0.0) for p in passes)

    sc = scan["spark"]
    return {
        "wall_s": statistics.median(sum(p) for p in passes),
        "ok": check_warc(out, inp),
        "metrics": {
            "sources.warc.scan_s": med(0),
            "sources.warc.members": inp["members"],
            "sources.warc.compressed_mb": inp["compressed_bytes"] / 1e6,
            "sources.warc.tasks": sc["tasks"],
            "sources.warc.task_skew": sc["task_skew"],
            "sources.warc.executor_run_s": sc["executor_run_s"],
            "operators.digest_manifest.s": med(1),
            "operators.digest_manifest.kept_frac": inp["lines"] / inp["members"],
            "operators.collres.s": med(2),
            "operators.collres.shuffle_write_mb": full["spark"]["shuffle_write_mb"],
            "operators.collres.spill_mb": full["spark"]["spill_mb"],
            "operators.collres.dup_frac": inp["duplicates"] / inp["lines"],
            "operators.collres.clusters": inp["clusters"],
            "plans.pipeline.jobs": wr["spark"]["jobs"],
            "plans.pipeline.stages": wr["spark"]["stages"],
            "plans.pipeline.exchanges": plan.count("Exchange "),
            "plans.pipeline.write_s": med(3),
        },
    }


# --- frontier_crawl --------------------------------------------------------------


def crawl_settings() -> dict:
    """The ``crawl`` command's defaults for the per-host budget, the seen
    filter and salting, read from its parser so a changed default shows."""
    from warcsum_spark.cli import build_parser

    args = build_parser().parse_args(["crawl", "--seeds", "-", "--link-graph", "-", "-o", "-"])
    use_bloom = {"exact": False, "bloom": True, "cuckoo": "cuckoo"}[args.seen_filter]
    return {
        "default_budget": args.budget,
        "use_bloom": use_bloom,
        "salt_buckets": args.salt_buckets,
    }


def prepare_crawl(work: str, seed: int, **shape) -> dict:
    from warcsum_spark import oracle

    budget = crawl_settings()["default_budget"]

    def build(path):
        web = gen.crawl_web(seed, **shape)
        files = gen.write_crawl_inputs(path, web)
        sim = oracle.simulate_crawl(
            web["seeds"], web["link_graph"], web["budgets"], web["robots"],
            gen.CRAWL_ROUNDS, default_budget=budget,
        )
        rounds = sim.scheduled_per_round
        return {
            **files,
            "rounds": [{"n": len(r), "sha256": _digest(r)} for r in rounds],
            "scheduled": sum(len(r) for r in rounds),
        }

    tag = "-".join(f"{k}{v}" for k, v in sorted(shape.items()))
    return _cached(
        os.path.join(work, "inputs", f"crawl-v{INPUT_VERSION}-{seed}-b{budget}{tag}"), build
    )


class Crawl:
    """One ``crawl -o DIR --checkpoint CKPT`` run, round by round."""

    def __init__(self, spark, inp: dict, out: str):
        from warcsum_spark.frontier.statestore import ParquetDirectoryStore
        from warcsum_spark.frontier.superstep import init_frontier

        self.spark, self.out = spark, out
        self.settings = crawl_settings()
        self.links = spark.read.parquet(inp["links"])
        self.robots = spark.read.parquet(inp["robots"])
        self.politeness = spark.read.parquet(inp["politeness"])
        self.state = init_frontier(spark, spark.read.parquet(inp["seeds"]))
        self.store = ParquetDirectoryStore(spark, os.path.join(out, "checkpoint"))

    def round(self, rnd: int) -> int:
        """Schedule, write and count one round; returns URLs scheduled."""
        from warcsum_spark.frontier.superstep import frontier_round

        self.state, scheduled = frontier_round(
            self.spark, self.state, self.links,
            robots=self.robots, politeness=self.politeness, **self.settings,
        )
        scheduled.select("host", "host_rank", "url").write.mode("overwrite").parquet(
            os.path.join(self.out, f"scheduled_round_{rnd:06d}")
        )
        return scheduled.count()

    def commit(self, n: int) -> None:
        self.store.commit_round(self.state, metrics={"scheduled": n})


def crawl_op(spark, inp: dict, out: str) -> tuple[float, list[float], int]:
    """A whole crawl: (wall, per-round times, URLs scheduled)."""
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    crawl = Crawl(spark, inp, out)
    times, total = [], 0
    for rnd in range(len(inp["rounds"])):
        t = time.perf_counter()
        n = crawl.round(rnd)
        crawl.commit(n)
        times.append(time.perf_counter() - t)
        total += n
    return time.perf_counter() - t0, times, total


def crawl_to_last_round(spark, inp: dict, out: str) -> Crawl:
    """A crawl run up to, not including, its last round; untimed."""
    shutil.rmtree(out, ignore_errors=True)
    crawl = Crawl(spark, inp, out)
    for rnd in range(len(inp["rounds"]) - 1):
        crawl.commit(crawl.round(rnd))
    return crawl


def last_round_op(crawl: Crawl, before) -> tuple[float, int]:
    """The crawl's last round and its commit, run from ``before`` (the
    materialized state the round starts from): (wall, URLs scheduled)."""
    crawl.state = before
    rnd = before.round_no
    t0 = time.perf_counter()
    n = crawl.round(rnd)
    crawl.commit(n)
    return time.perf_counter() - t0, n


def check_crawl(out: str, inp: dict, rounds=None) -> bool:
    """Each round's schedule (all rounds, or those in ``rounds``) against
    the oracle's."""
    import pyarrow.parquet as pq

    for rnd, want in enumerate(inp["rounds"]):
        if rounds is not None and rnd not in rounds:
            continue
        path = os.path.join(out, f"scheduled_round_{rnd:06d}")
        if not os.path.isdir(path):
            return False
        t = pq.read_table(path).to_pylist()
        urls = [r["url"] for r in sorted(t, key=lambda r: (r["host"], r["host_rank"]))]
        if len(urls) != want["n"] or _digest(urls) != want["sha256"]:
            return False
    return True


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


def trace_crawl(spark, tracer, inp: dict, out: str) -> dict:
    """A crawl whose every round first forces each frontier layer on the
    round's materialized input (so a layer's span holds only its own work),
    then runs the real round and commit."""
    from pyspark.sql import functions as F

    from warcsum_spark.frontier.politeness import schedule_per_host
    from warcsum_spark.frontier.robots import robots_allowed
    from warcsum_spark.frontier.seen import build_seen_filters, filter_unseen
    from warcsum_spark.functions.urls import canonicalize_url

    acc: dict[str, list] = {}

    def add(key, v):
        acc.setdefault(key, []).append(v)

    def dur(s):
        return s["end"] - s["start"]

    shutil.rmtree(out, ignore_errors=True)
    with tracer.span("frontier.superstep") as top:
        crawl = Crawl(spark, inp, out)
        cfg = crawl.settings
        for rnd in range(len(inp["rounds"])):
            st = crawl.state
            with tracer.span("frontier.seen.filter_unseen", round=rnd) as s:
                filters = build_seen_filters(st.seen, n_partitions=16) if cfg["use_bloom"] else None
                unseen = filter_unseen(st.pending, st.seen, filters, 16).localCheckpoint(eager=True)
            add("seen_s", dur(s))
            add("seen_shuffle", s["spark"]["shuffle_write_mb"])
            n_cand, n_unseen = st.pending.count(), unseen.count()
            add("candidates", n_cand)
            add("unseen", n_unseen)
            with tracer.span("frontier.robots.robots_allowed", round=rnd) as s:
                allowed = robots_allowed(unseen, crawl.robots).localCheckpoint(eager=True)
            add("robots_s", dur(s))
            add("allowed", allowed.count())
            with tracer.span("frontier.politeness.schedule_per_host", round=rnd) as s:
                sched = schedule_per_host(
                    allowed, crawl.politeness, cfg["default_budget"], cfg["salt_buckets"]
                ).localCheckpoint(eager=True)
            add("schedule_s", dur(s))
            add("schedule_skew", s["spark"]["task_skew"])
            raw = (
                sched.select("url").join(crawl.links, "url")
                .select(F.explode("outlinks").alias("raw_url"))
                .localCheckpoint(eager=True)
            )
            add("canon_rows", raw.count())
            with tracer.span("functions.urls.canonicalize_url", round=rnd) as s:
                _force(raw.select(canonicalize_url(F.col("raw_url")).alias("url")))
            add("canon_s", dur(s))
            with tracer.span("frontier.superstep.frontier_round", round=rnd) as s:
                n = crawl.round(rnd)
            add("round_s", dur(s))
            add("jobs", s["spark"]["jobs"])
            add("stages", s["spark"]["stages"])
            add("scheduled", n)
            with tracer.span("frontier.statestore.commit_round", round=rnd) as s:
                crawl.commit(n)
            add("commit_s", dur(s))
        pending_rows, seen_rows = crawl.state.pending.count(), crawl.state.seen.count()

    return {
        "wall_s": dur(top),
        "ok": check_crawl(out, inp),
        "metrics": {
            "functions.urls.canonicalize_s": sum(acc["canon_s"]),
            "functions.urls.rows": sum(acc["canon_rows"]),
            "frontier.seen.filter_unseen_s": sum(acc["seen_s"]),
            "frontier.seen.candidates": sum(acc["candidates"]),
            "frontier.seen.unseen_frac": sum(acc["unseen"]) / max(1, sum(acc["candidates"])),
            "frontier.seen.shuffle_write_mb": sum(acc["seen_shuffle"]),
            "frontier.robots.gate_s": sum(acc["robots_s"]),
            "frontier.robots.blocked_frac": 1 - sum(acc["allowed"]) / max(1, sum(acc["unseen"])),
            "frontier.politeness.schedule_s": sum(acc["schedule_s"]),
            "frontier.politeness.task_skew": max(acc["schedule_skew"]),
            "frontier.politeness.scheduled": sum(acc["scheduled"]),
            "frontier.superstep.round_s": statistics.median(acc["round_s"]),
            "frontier.superstep.jobs_per_round": statistics.median(acc["jobs"]),
            "frontier.superstep.stages_per_round": statistics.median(acc["stages"]),
            "frontier.superstep.pending_rows": pending_rows,
            "frontier.superstep.seen_rows": seen_rows,
            "frontier.statestore.commit_s": statistics.median(acc["commit_s"]),
            "frontier.statestore.written_mb": _dir_mb(os.path.join(out, "checkpoint")),
        },
    }
