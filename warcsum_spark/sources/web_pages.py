"""The ``web_pages`` table (input_hint schema: url, warc_ts, html, text,
lang) — the S6/S7 replacements: the ``path_index`` mirror lookup loader,
mirror-URL resolution and payload re-attachment.

Production target is an Iceberg table (`spark.read.table("web_pages")`,
partition pruning on host-hash buckets, column pruning keeps ``html``
unread in frontier-only rounds); the parquet path below is the sandbox
equivalent with the same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_path_index(
    spark: SparkSession,
    source: str,
    table: str = "path_index",
    predicates: list[str] | None = None,
    num_partitions: int = 8,
    **jdbc_opts: str,
) -> DataFrame:
    """The reference's MySQL ``path_index`` lookup table
    (warccollres.c:299–352 — per-record point queries) as ONE bulk load:

    * ``source`` = ``jdbc:...`` URL → ``spark.read.jdbc`` with either
      caller ``predicates`` (one partition per predicate) or a plain
      parallel read; filters/projections still push down to the database.
    * ``source`` = ``table:NAME`` → catalog (Iceberg) table.
    * anything else → parquet directory (the sandbox stand-in).

    Always projects to the (filename, url) shape ``resolve_mirror_urls``
    consumes."""
    if source.startswith("jdbc:"):
        if predicates:
            # partition-per-predicate is only reachable through
            # DataFrameReader.jdbc; numPartitions is defined by the
            # predicate list itself, and reader-level options (fetchsize,
            # sessionInitStatement, …) travel via `properties`
            df = spark.read.jdbc(
                source, table, predicates=predicates, properties=dict(jdbc_opts)
            )
        else:
            reader = (
                spark.read.format("jdbc")
                .option("url", source)
                .option("dbtable", table)
                .option("numPartitions", str(num_partitions))
            )
            for k, v in jdbc_opts.items():
                reader = reader.option(k, v)
            df = reader.load()
    elif source.startswith("table:"):
        df = spark.read.table(source[len("table:"):])
    else:
        df = spark.read.parquet(source)
    return df.select("filename", "url")


def resolve_mirror_urls(manifest: DataFrame, path_index: DataFrame) -> DataFrame:
    """S6 (warccollres.c:299–352): the per-record MySQL point query
    ``SELECT url FROM path_index WHERE filename=…`` becomes ONE broadcast
    hash join; mirror multiplicity (warccollres.c:330–352) is pre-collapsed
    to an ordered array, so failover order is deterministic."""
    mirrors = path_index.groupBy("filename").agg(
        F.sort_array(F.collect_list("url")).alias("mirror_urls")
    )
    return manifest.join(
        F.broadcast(mirrors),
        manifest.warcfile == mirrors.filename,
        "left",
    ).drop("filename")


def attach_payloads(manifest: DataFrame, pages: DataFrame, key: str = "uri") -> DataFrame:
    """S7 replacement: warccollres re-downloads member bytes per record via
    HTTP range GET (warccollres.c:663–781); with payloads stored columnar,
    re-attaching them is an equi-join on the record key — one shuffle,
    no network round-trips, and Catalyst prunes every unused page column."""
    payloads = pages.select(F.col("url").alias(key), F.col("html").alias("payload"))
    return manifest.join(payloads, key, "left")
