"""The fused four-stage pipeline (SURVEY §3.3 boundary note): the
reference's four OS processes + external sort become ONE Spark job whose
only wide boundary is the hash exchange on ``digest``. There is no global
sort anywhere — the reference needed `sort -k6` purely as its grouping
mechanism (warccollres.h:19–22); `groupBy`-style hash clustering replaces
it (SURVEY §2.4 O1–O3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from warcsum_spark.operators.collres import resolve_collisions
from warcsum_spark.operators.digest_manifest import digest_manifest
from warcsum_spark.sources.warc import scan_warc_members


def warcsum_pipeline(
    spark: SparkSession,
    warc_paths: str | list[str],
    algo: str = "sha1",
    force: bool = True,
    skip_empty: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """.warc.gz files → extended manifest (ext, copy_no, refersto_*).

    Equivalent to: warcsum | sort -k6 | warcsumsplit | warccollres --proc
    (all four reference stages), minus the sort (grouping is hash-based).
    ``num_partitions`` sets the partition count of the one digest exchange,
    so the output is already a cluster-preserving split (warcsumsplit).
    """
    members = scan_warc_members(spark, warc_paths)
    manifest = digest_manifest(
        members, algo=algo, force=force, skip_empty=skip_empty, keep_payload=True
    )
    return resolve_collisions(manifest, num_partitions=num_partitions)
