"""Bucketed-table layout for co-located joins.

At 100 TB the dominant repeated cost is re-shuffling the same big tables
on the same keys (web_pages ⋈ manifests on url, frontier ⋈ seen on
host …). Writing both sides ``bucketBy(N, key)`` pins rows to buckets by
``hash(key) % N`` AT WRITE TIME; a later equi-join of two tables
bucketed on the join key with the SAME bucket count needs NO exchange on
either side — the scan itself satisfies the join's required
distribution (SortMergeJoin with zero Exchange, asserted in
tests/test_bucketed.py at the plan level).

Catalog notes: ``bucketBy`` requires ``saveAsTable`` (bucket metadata
lives in the catalog, not the files). The sandbox uses the session's
in-memory catalog + local warehouse; in production the same call
against an Iceberg/Hive catalog gives durable bucket metadata, and
Iceberg's ``bucket(N, col)`` partition transform is the equivalent
declaration (frontier/statestore.ParquetDirectoryStore already writes
the host-hash directory variant). Bucket counts must match between join sides — pick the
production N once (e.g. 4096 for 10^10 URLs ≈ 2.4M rows/bucket) and
standardize."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a parquet catalog table bucketed (and by default
    sorted) on ``bucket_col`` — the write-once cost that buys every later
    join/aggregation on that key a shuffle-free plan."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.read.table(table)
