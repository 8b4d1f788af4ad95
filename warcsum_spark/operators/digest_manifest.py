"""Stage 1 — digest manifest (reference: warcsum.c main pipeline,
process_member warcsum.c:809–878, manifest emit warcsum.c:858–868).

Declarative plan: filters P4–P7 → digest F1/F4 → projection P8. Everything
is JVM-side built-ins (codegen'd); the only Python in the whole stage is the
upstream WARC member parse (sources/warc.py) or nothing at all when reading
the Iceberg/parquet ``web_pages`` table, and the base32 decode in non-force
mode. Catalyst pushes the response/http filters into the scan when the
source is columnar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warcsum_spark.functions.digests import SUPPORTED_ALGOS, select_digest

MANIFEST_COLS = ["warcfile", "offset", "length", "uri", "date", "digest"]


def digest_manifest(
    members: DataFrame,
    algo: str = "sha1",
    force: bool = True,
    skip_empty: bool = False,
    keep_payload: bool = True,
) -> DataFrame:
    """Members (sources/warc.py schema) → digest manifest.

    ``keep_payload`` carries the payload column through for the downstream
    collision-resolution stage (our substitute for the reference's HTTP
    range re-fetch, warccollres.c:663–781); export paths drop it via
    ``MANIFEST_COLS`` and Catalyst prunes it from the scan.
    """
    if algo not in SUPPORTED_ALGOS:
        raise ValueError(f"unsupported algo {algo!r}")
    df = members.filter(
        F.col("is_warc")
        & (F.lower(F.col("warc_type")) == "response")  # P5, warcsum.c:478–492
        & (F.lower(F.col("content_type")) == "application/http")  # P6
    )
    if skip_empty:  # P7, warcsum.c:783–787
        df = df.filter(F.length("payload") > 0)
    hexd = select_digest(
        F.col("payload"), algo, F.col("stored_algo"), F.col("stored_digest_b32"), force
    )
    df = df.withColumn("digest", F.concat(F.lit(algo + ":"), hexd))
    df = df.withColumn("uri", F.coalesce("uri", F.lit("-"))).withColumn(
        "date", F.coalesce("date", F.lit("-"))
    )
    cols = MANIFEST_COLS + (["payload"] if keep_payload else [])
    return df.select(*cols)


def manifest_text(manifest: DataFrame) -> DataFrame:
    """Byte-identical text rendering of manifest rows (warcsum.c:858–860):
    one string column, space-delimited positional fields."""
    return manifest.select(
        F.concat_ws(
            " ",
            F.col("warcfile"),
            F.col("offset").cast("string"),
            F.col("length").cast("string"),
            F.col("uri"),
            F.col("date"),
            F.col("digest"),
        ).alias("line")
    )


def read_manifest_text(spark, path: str) -> DataFrame:
    """S5 manifest text source (warccollres.c:1236–1288): space-delimited
    positional fields with explicit schema — no inference."""
    df = spark.read.text(path)
    parts = F.split(F.col("value"), " ")
    return df.select(
        parts.getItem(0).alias("warcfile"),
        parts.getItem(1).cast("long").alias("offset"),
        parts.getItem(2).cast("long").alias("length"),
        parts.getItem(3).alias("uri"),
        parts.getItem(4).alias("date"),
        parts.getItem(5).alias("digest"),
    )
