"""Command-line entry points mirroring the reference tool suite.

Flag parity (reference man pages → subcommands):

* ``manifest`` — warcsum.1: ``-H/--hash`` (md5|sha1|sha256|sha512),
  ``-f/--force`` (recompute even when a stored digest matches),
  ``-s/--skip-empty``, ``-a/--append``, ``-o/--output``.
* ``dedup``    — the fused pipeline (warcsum | sort | warcsumsplit |
  warccollres --proc | warcsumproc): adds ``-n`` chunked output
  (warcsumsplit.1's cluster-preserving split, made by the pipeline's own
  digest exchange).
* ``split``    — warcsumsplit.1: re-chunk an existing text manifest into
  ``-n`` parts with no digest cluster straddling a part.
* ``crawl``    — the frontier scheduler (north_rule): seeds + link-graph →
  per-round scheduled lists, optional bloom seen tier and
  checkpointing.
* ``cdx``      — no reference counterpart (the C suite stops at the
  manifest): the SURT-keyed CDX lookup index over exactly the records
  the manifest covers, globally (urlkey, timestamp)-ordered.

Output convention: ``-o DIR`` writes Spark text partitions under DIR
(scales to any size); ``-o -`` collects and prints lines to stdout in the
reference's deterministic order (small outputs only — driver collect).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _emit_text(df_text: DataFrame, output: str, mode: str = "overwrite") -> None:
    if output == "-":
        # stream partitions through the driver instead of collect(): same
        # byte output (UTF8String binary order == code-point order), no
        # driver OOM cliff on a corpus-sized `-o -`
        for r in df_text.sort("line").toLocalIterator():
            print(r["line"])
    else:
        df_text.write.mode(mode).text(output)


def _cmd_manifest(args: argparse.Namespace) -> int:
    from warcsum_spark.operators.digest_manifest import digest_manifest, manifest_text
    from warcsum_spark.session import get_spark
    from warcsum_spark.sources.warc import scan_warc_members

    spark = get_spark(cores=args.cores)
    members = scan_warc_members(spark, args.inputs)
    manifest = digest_manifest(
        members,
        algo=args.hash,
        force=args.force,
        skip_empty=args.skip_empty,
        keep_payload=False,
    )
    _emit_text(
        manifest_text(manifest), args.output, "append" if args.append else "overwrite"
    )
    return 0


def _cmd_dedup(args: argparse.Namespace) -> int:
    from warcsum_spark.operators.collres import extended_text
    from warcsum_spark.plans.pipeline import warcsum_pipeline
    from warcsum_spark.session import get_spark

    spark = get_spark(cores=args.cores)
    ext = warcsum_pipeline(
        spark,
        args.inputs,
        algo=args.hash,
        force=args.force,
        skip_empty=args.skip_empty,
        # cluster-preserving split (warcsumsplit.1): the pipeline's one
        # hash exchange on digest makes the N parts
        num_partitions=args.num_chunks or None,
    )
    _emit_text(extended_text(ext), args.output)
    return 0


def _cmd_split(args: argparse.Namespace) -> int:
    from warcsum_spark.operators.digest_manifest import (
        manifest_text,
        read_manifest_text,
    )
    from warcsum_spark.session import get_spark

    spark = get_spark(cores=args.cores)
    manifest = read_manifest_text(spark, args.inputs[0])
    _emit_text(manifest_text(manifest.repartition(args.num_chunks, "digest")), args.output)
    return 0


def _cmd_cdx(args: argparse.Namespace) -> int:
    from warcsum_spark.operators.cdx import cdx_index, cdx_text_lines
    from warcsum_spark.operators.digest_manifest import digest_manifest
    from warcsum_spark.session import get_spark
    from warcsum_spark.sources.warc import scan_warc_members

    spark = get_spark(cores=args.cores)
    # index exactly the records the manifest covers (warcsum's P5/P6
    # response filters) — the CDX is the manifest's lookup companion
    manifest = digest_manifest(
        scan_warc_members(spark, args.inputs),
        algo=args.hash,
        force=True,
        keep_payload=False,
    )
    captures = manifest.filter(
        (F.col("uri") != "-") & (F.col("date") != "-")
    ).select(
        F.col("uri").alias("url"),
        F.to_timestamp("date").alias("ts"),
        "warcfile",
        "offset",
        "length",
        F.substring_index("digest", ":", -1).alias("digest"),
    )
    _emit_text(cdx_text_lines(cdx_index(captures)), args.output)
    return 0


def _cmd_crawl(args: argparse.Namespace) -> int:
    from warcsum_spark.frontier.statestore import ParquetDirectoryStore, run_crawl
    from warcsum_spark.frontier.superstep import init_frontier, scheduled_order
    from warcsum_spark.session import get_spark

    spark = get_spark(cores=args.cores)
    seeds_raw = spark.read.text(args.seeds)
    parts = F.split(F.col("value"), r"\s+")
    seeds = seeds_raw.select(
        parts.getItem(0).alias("url"),
        F.coalesce(parts.getItem(1).cast("double"), F.lit(1.0)).alias("priority"),
    )
    if args.sitemaps:
        # seed-source hook: sitemap bodies (parquet: sitemap_url, body)
        # become extra (url, priority) seed rows; init_frontier's
        # canonicalize+max-priority collapse merges them with the text seeds
        from warcsum_spark.frontier.sitemap import sitemap_seeds

        seeds = seeds.unionByName(
            sitemap_seeds(spark.read.parquet(args.sitemaps))
        )
    link_graph = spark.read.parquet(args.link_graph)
    robots = spark.read.parquet(args.robots) if args.robots else None
    politeness = spark.read.parquet(args.politeness) if args.politeness else None
    blocklist = None
    if args.blocklist:
        # small text blocklists ride inline (driver literal → zero-join
        # JVM gate); corpus-sized lists should arrive as a DataFrame via
        # the library API instead
        with open(args.blocklist, encoding="utf-8") as fh:
            blocklist = [
                line.strip()
                for line in fh
                if line.strip() and not line.lstrip().startswith("#")
            ]

    # persistence goes through the StateStore seam: swap in
    # IcebergStateStore on a catalog-equipped cluster, same loop
    store = (
        ParquetDirectoryStore(spark, args.checkpoint) if args.checkpoint else None
    )
    rounds = run_crawl(
        spark,
        store,
        init_frontier(spark, seeds),
        link_graph,
        args.rounds,
        robots=robots,
        politeness=politeness,
        blocklist=blocklist,
        block_patterns=tuple(args.block_pattern or ()),
        default_budget=args.budget,
        use_bloom=args.seen_filter == "bloom",
        salt_buckets=args.salt_buckets,
    )
    summary = []
    for rnd, (_state, scheduled, metrics) in enumerate(rounds):
        if args.output == "-":
            # stdout mode is explicitly small-output: the driver collect
            # lives ONLY on this branch
            order = scheduled_order(scheduled)
            for u in order:
                print(f"{rnd} {u}")
            metrics["scheduled"] = len(order)
        else:
            # the write counts its own rows (an observed metric): no second
            # job over the frame, and no rows cross to the driver
            written = Observation()
            scheduled.select("host", "host_rank", "url").observe(
                written, F.count(F.lit(1)).alias("n")
            ).write.mode("overwrite").parquet(
                f"{args.output}/scheduled_round_{rnd:06d}"
            )
            metrics["scheduled"] = written.get["n"]
        summary.append({"round": rnd, **metrics})
    print(json.dumps({"rounds": summary}), file=sys.stderr)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m warcsum_spark",
        description="PySpark-native warcsum pipeline + crawl frontier",
    )
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--cores",
        default=None,
        help="local[N] cores (default: $SPARK_GRAFT_CPUS, else every core)",
    )
    sub = p.add_subparsers(dest="cmd", required=True, parser_class=argparse.ArgumentParser)

    def add_parser(name, **kw):
        return sub.add_parser(name, parents=[common], **kw)

    def add_warcsum_flags(sp):
        sp.add_argument("inputs", nargs="+", help=".warc.gz files or directories")
        sp.add_argument(
            "-H", "--hash", default="sha1", choices=["md5", "sha1", "sha256", "sha512"]
        )
        sp.add_argument(
            "-f", "--force", action="store_true", default=True,
            help="recompute digests even when a stored digest matches (default)",
        )
        sp.add_argument(
            "--no-force", dest="force", action="store_false",
            help="reuse stored WARC-Payload-Digest when algo matches",
        )
        sp.add_argument("-s", "--skip-empty", action="store_true")
        sp.add_argument("-o", "--output", required=True, help="output dir, or - for stdout")

    sp = add_parser("manifest", help="warcsum: digest manifest")
    add_warcsum_flags(sp)
    sp.add_argument("-a", "--append", action="store_true")
    sp.set_defaults(fn=_cmd_manifest)

    sp = add_parser("dedup", help="full pipeline: extended manifest")
    add_warcsum_flags(sp)
    sp.add_argument("-n", "--num-chunks", type=int, default=0)
    sp.set_defaults(fn=_cmd_dedup)

    sp = add_parser("cdx", help="CDX web-archive index (SURT-keyed) from .warc.gz")
    sp.add_argument("inputs", nargs="+", help=".warc.gz files or directories")
    sp.add_argument(
        "-H", "--hash", default="sha1", choices=["md5", "sha1", "sha256", "sha512"]
    )
    sp.add_argument("-o", "--output", required=True, help="output dir, or - for stdout")
    sp.set_defaults(fn=_cmd_cdx)

    sp = add_parser("split", help="warcsumsplit: cluster-preserving re-chunk")
    sp.add_argument("inputs", nargs=1, help="text manifest dir")
    sp.add_argument("-n", "--num-chunks", type=int, required=True)
    sp.add_argument("-o", "--output", required=True)
    sp.set_defaults(fn=_cmd_split)

    sp = add_parser("crawl", help="frontier scheduler rounds")
    sp.add_argument("--seeds", required=True, help="text file: url [priority]")
    sp.add_argument("--link-graph", required=True, help="parquet (url, outlinks)")
    sp.add_argument("--robots", default=None, help="parquet (host, rules)")
    sp.add_argument(
        "--sitemaps", default=None,
        help="parquet (sitemap_url, body): extra seeds via sitemap parse",
    )
    sp.add_argument(
        "--blocklist", default=None,
        help="text file of blocked domains (one per line, # comments)",
    )
    sp.add_argument(
        "--block-pattern", action="append", default=[],
        help="URL regex to block (repeatable)",
    )
    sp.add_argument("--politeness", default=None, help="parquet (host, budget)")
    sp.add_argument("--rounds", type=int, default=1)
    sp.add_argument("--budget", type=int, default=2)
    sp.add_argument(
        "--seen-filter", choices=["exact", "bloom"], default="exact"
    )
    sp.add_argument("--salt-buckets", type=int, default=0)
    sp.add_argument("--checkpoint", default=None)
    sp.add_argument("-o", "--output", required=True)
    sp.set_defaults(fn=_cmd_crawl)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
