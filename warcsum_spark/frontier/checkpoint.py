"""R8 — checkpoint / resume for the crawl loop.

Production target is Iceberg (atomic snapshot commits); this module
implements the same contract over parquet directories with a
write-then-commit-marker protocol so a torn write is never loadable:

    <root>/round_<k>/pending/   parquet
    <root>/round_<k>/seen/      parquet
    <root>/round_<k>/lineage/   parquet  (per-partition row counts)
    <root>/round_<k>/_COMMIT    json marker, written last

Resume = read the highest committed round. Filter blobs are NOT
serialized — they are rebuilt from the seen table on demand
(rebuild-from-state beats mutable-blob serialization for false-negative
safety, SURVEY §7 hard-part 4). Idempotent: re-running a round overwrites
its directory and re-commits.
"""

from __future__ import annotations

import json
import os
import re

# the base class from the public package — both classic and connect
# exception variants subclass it (the captured-module import would miss
# the connect one and break the empty-pending resume fallback)
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from warcsum_spark.frontier.superstep import FRONTIER_SCHEMA, SEEN_SCHEMA, FrontierState
from warcsum_spark.operators.stats import partition_metrics

_ROUND_RE = re.compile(r"^round_(\d+)$")


def _round_dir(root: str, k: int) -> str:
    return os.path.join(root, f"round_{k:06d}")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop FS API — the
    marker/listing protocol then works on any supported scheme (file://,
    hdfs://, s3a://), not just the local filesystem."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _write_marker(spark: SparkSession, path: str, payload: dict) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    out = fs.create(jpath, True)  # overwrite; atomic-enough: written LAST
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()


def save_checkpoint(
    root: str,
    state: FrontierState,
    metrics: dict | None = None,
    filters=None,
    host_hash_buckets: int = 0,
) -> str:
    """``filters`` (optional): the url_seen blob table (bloom or cuckoo,
    (partition_id, n_keys, filter_blob)) — persisted for observability and
    warm-start; correctness never depends on it since load rebuilds blobs
    from the seen table (zero-false-negative guarantee, SURVEY §7 #4).

    ``host_hash_buckets`` > 0 lays the pending frontier out partitioned by
    ``host_bucket = pmod(xxhash64(host), n)`` (north_rule: 'partitions the
    10^10-URL frontier by host-hash'): on plain parquet this is a
    directory-partitioned layout the resumed read can prune by bucket; on
    Iceberg the same column maps to a ``bucket(N, host)`` partition
    transform. The politeness stage groups by host, so a bucketed layout
    means a resumed round's first window shuffle starts from host-wise
    clustered files instead of a random scatter. The bucket column is
    layout-only — ``load_checkpoint`` drops it."""
    d = _round_dir(root, state.round_no)
    pending_w = state.pending
    if host_hash_buckets and host_hash_buckets > 1:
        pending_w = (
            pending_w.withColumn(
                "host_bucket",
                F.pmod(F.xxhash64("host"), F.lit(host_hash_buckets)).cast("int"),
            )
            .repartition("host_bucket")
            .write.mode("overwrite")
            .partitionBy("host_bucket")
        )
        pending_w.parquet(os.path.join(d, "pending"))
    else:
        pending_w.write.mode("overwrite").parquet(os.path.join(d, "pending"))
    state.seen.write.mode("overwrite").parquet(os.path.join(d, "seen"))
    if filters is not None:
        filters.write.mode("overwrite").parquet(os.path.join(d, "url_seen_filters"))
    # per-partition lineage: which partition carried how many frontier rows
    lineage = partition_metrics(state.pending)
    lineage.write.mode("overwrite").parquet(os.path.join(d, "lineage"))
    marker = {"round": state.round_no, "metrics": metrics or {}}
    _write_marker(
        state.pending.sparkSession, os.path.join(d, "_COMMIT"), marker
    )
    return d


def latest_round(root: str, spark: SparkSession | None = None) -> int | None:
    """Highest committed round under ``root``. With ``spark`` the listing
    goes through the Hadoop FS API (any scheme); without it, local-fs only.
    Non-matching directory names (round_tmp, stray files) are ignored."""
    if spark is not None:
        fs, jroot = _hadoop_fs(spark, root)
        if not fs.exists(jroot):
            return None
        rounds = []
        for status in fs.listStatus(jroot):
            m = _ROUND_RE.match(status.getPath().getName())
            if m and fs.exists(
                spark._jvm.org.apache.hadoop.fs.Path(status.getPath(), "_COMMIT")
            ):
                rounds.append(int(m.group(1)))
        return max(rounds) if rounds else None
    if not os.path.isdir(root):
        return None
    rounds = []
    for name in os.listdir(root):
        m = _ROUND_RE.match(name)
        if m and os.path.exists(os.path.join(root, name, "_COMMIT")):
            rounds.append(int(m.group(1)))
    return max(rounds) if rounds else None


def load_checkpoint(spark: SparkSession, root: str, k: int | None = None) -> FrontierState:
    if k is None:
        k = latest_round(root, spark)
        if k is None:
            raise FileNotFoundError(f"no committed checkpoint under {root}")
    d = _round_dir(root, k)
    # no forced read-schema on the happy path: a host-bucketed layout adds
    # a host_bucket partition directory column, which a fixed schema would
    # reject. Project + cast back to the frontier contract instead.
    pend_path = os.path.join(d, "pending")
    try:
        pending = spark.read.parquet(pend_path).select(
            *[F.col(f.name).cast(f.dataType) for f in FRONTIER_SCHEMA.fields]
        )
    except AnalysisException:
        # a bucketed write of an EMPTY pending frontier (the drained-crawl
        # terminal state) emits no schema-bearing part files — inference
        # fails with UNABLE_TO_INFER_SCHEMA. There are no partition dirs
        # either, so the forced-schema read is legal and yields the empty
        # frontier.
        pending = spark.read.schema(FRONTIER_SCHEMA).parquet(pend_path)
    seen = spark.read.schema(SEEN_SCHEMA).parquet(os.path.join(d, "seen"))
    return FrontierState(pending=pending, seen=seen, round_no=k)
