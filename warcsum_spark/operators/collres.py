"""Stages 3+4 — collision resolution + copy numbering as ONE window stage.

Reference: warccollres streams the sorted manifest one digest cluster at a
time, re-downloads member bytes, and byte-compares payloads to split a
cluster into distinct-content subgroups (process_cluster
warccollres.c:1039–1130, compare_records :354–425); warcsumproc then numbers
copies within each (digest, ext) subgroup (warcsumproc:37–53).

Spark re-expression (SURVEY §2.5 A2/A3, §2.6 W1–W3): the implicit
sort-order grouping becomes explicit keys, and the whole per-cluster state
machine collapses into two window specs over ONE exchange. The content key
is the exact payload bytes, which the reference byte-compares:

* window ``(digest, payload)`` ordered by (warcfile, offset) gives
  ``copy_no`` = row_number within the subgroup in input order (W2) and
  ``_first`` = the subgroup's first row (warcfile, offset, uri, date).
* ``ext`` = dense_rank of ``_first``'s (warcfile, offset) within the digest
  cluster, i.e. the subgroup's first-seen ordinal (W1,
  warccollres.c:202–205).
* ``refersto_uri/date`` = ``_first``'s uri/date for copies > 1, NULL for
  copy 1 (W3) — the documented warcsumproc semantics; we deliberately do
  not reproduce warccollres.c:221–231's current-record bug, nor
  warcsumproc:37's ``&&``-for-``||`` cluster-break bug (SURVEY §2.6).

Physical plan: one ``repartition(digest)`` exchange; both windows'
ClusteredDistribution requirements are satisfied by it (their keys extend
``digest``), so they add only a sort each — no second shuffle. Singleton
clusters (the common case; reference optimization X4 lazily avoided
downloading them, warccollres.c:1047–1053) cost one sort row each and never
touch a Python worker: the entire stage is JVM-side whole-stage-codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EXTENDED_COLS = [
    "warcfile",
    "offset",
    "length",
    "uri",
    "date",
    "digest",
    "ext",
    "copy_no",
    "refersto_uri",
    "refersto_date",
]


def resolve_collisions(
    manifest: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Manifest (with ``payload`` column) → extended manifest.

    Subgroups are exact payload byte equality (oracle/reference parity).
    Input order within a cluster is (warcfile, offset), matching the
    reference's file/offset visit order. ``num_partitions`` sets the
    exchange's partition count (default: the session's).
    """
    # single exchange for both windows (their ClusteredDistribution
    # requirements extend "digest", so hash(digest) satisfies each one)
    if num_partitions:
        df = manifest.repartition(num_partitions, "digest")
    else:
        df = manifest.repartition("digest")

    # two selects, not one withColumn per column: each DataFrame call
    # re-analyzes the whole plan on the driver. ``ext`` ranks ``_first``,
    # a window result, so it needs the second select.
    w = Window.partitionBy("digest", "payload").orderBy("warcfile", "offset")
    df = df.select(
        "*",
        F.row_number().over(w).alias("copy_no"),
        F.first(F.struct("warcfile", "offset", "uri", "date")).over(w).alias("_first"),
    )
    later = F.col("copy_no") > 1
    derived = {
        "ext": F.dense_rank().over(
            Window.partitionBy("digest").orderBy("_first.warcfile", "_first.offset")
        ),
        "refersto_uri": F.when(later, F.col("_first.uri")),
        "refersto_date": F.when(later, F.col("_first.date")),
    }
    return df.select(
        *(derived[c].alias(c) if c in derived else F.col(c) for c in EXTENDED_COLS)
    )


def extended_text(extended: DataFrame) -> DataFrame:
    """Text rendering with '-' null sentinels (warccollres.h:36–49)."""
    return extended.select(
        F.concat_ws(
            " ",
            "warcfile",
            F.col("offset").cast("string"),
            F.col("length").cast("string"),
            "uri",
            "date",
            "digest",
            F.col("ext").cast("string"),
            F.col("copy_no").cast("string"),
            F.coalesce("refersto_uri", F.lit("-")),
            F.coalesce("refersto_date", F.lit("-")),
        ).alias("line")
    )
