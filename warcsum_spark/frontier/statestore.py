"""The frontier-state persistence seam: a MERGE-INTO-shaped protocol with
a parquet-directory implementation (what the sandbox runs) and an Iceberg
implementation whose SQL is real but whose execution needs a configured
Iceberg catalog (none exists here — the seam mirrors how sources/fetch.py
isolated HTTP behind the Fetcher protocol, per warccollres.c:663–781's
precedent of swappable record acquisition).

SURVEY §1.2 maps frontier state to Iceberg ``MERGE INTO``/snapshots:

* ``seen`` is an upsert set → ``MERGE INTO ... WHEN NOT MATCHED THEN
  INSERT`` keyed on canonical url (idempotent re-commit of a round).
* ``pending`` is replaced wholesale each round → ``INSERT OVERWRITE``
  (one atomic snapshot; resume = time-travel to the round's snapshot).
* the host-hash layout maps 1:1: the parquet store's ``host_bucket``
  directory column is Iceberg's ``bucket(N, host)`` partition transform.

Both implementations satisfy ``StateStore``; the crawl loop
(``run_crawl``) only sees the protocol, so swapping persistence is a
constructor change, not a plumbing change.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator
from typing import Protocol, runtime_checkable

# the base class from the public package — both classic and connect
# exception variants subclass it (the captured-module import would miss
# the connect one and break the empty-pending resume fallback)
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warcsum_spark.frontier.superstep import (
    FRONTIER_SCHEMA,
    SEEN_SCHEMA,
    FrontierState,
    frontier_round,
)
from warcsum_spark.operators.stats import partition_metrics

_ROUND_RE = re.compile(r"^round_(\d+)$")


@runtime_checkable
class StateStore(Protocol):
    """Durable frontier state: commit a round, find the newest, load one."""

    def commit_round(self, state: FrontierState, metrics: dict | None = None) -> str:
        """Persist ``state`` atomically (torn writes never loadable);
        returns an implementation-specific location string."""
        ...

    def newest_round(self) -> int | None:
        """Highest committed round number, or None if nothing committed."""
        ...

    def load(self, round_no: int | None = None) -> FrontierState:
        """Reload a committed round (default: newest). Raises
        FileNotFoundError if nothing is committed."""
        ...


class ParquetDirectoryStore:
    """R8 checkpoint/resume over parquet directories — what a deployment
    without an Iceberg catalog (local disk, plain HDFS/S3) runs. The same
    contract as Iceberg's atomic snapshot commits, kept by a
    write-then-commit-marker protocol so a torn write is never loadable:

        <root>/round_<k>/pending/   parquet
        <root>/round_<k>/seen/      parquet
        <root>/round_<k>/lineage/   parquet  (per-partition row counts)
        <root>/round_<k>/_COMMIT    json marker, written last

    Resume = read the highest committed round. Filter blobs are NOT
    serialized — they are rebuilt from the seen table on demand
    (rebuild-from-state beats mutable-blob serialization for
    false-negative safety, SURVEY §7 hard-part 4). Idempotent: re-running
    a round overwrites its directory and re-commits. The marker and the
    round listing go through the JVM Hadoop FS API, so the protocol works
    on any supported scheme (file://, hdfs://, s3a://).

    ``host_hash_buckets`` > 0 lays the pending frontier out partitioned by
    ``host_bucket = pmod(xxhash64(host), n)`` (north_rule: 'partitions the
    10^10-URL frontier by host-hash'): on plain parquet this is a
    directory-partitioned layout the resumed read can prune by bucket; on
    Iceberg the same column maps to a ``bucket(N, host)`` partition
    transform. The politeness stage groups by host, so a bucketed layout
    means a resumed round's first window shuffle starts from host-wise
    clustered files instead of a random scatter. The bucket column is
    layout-only — ``load`` drops it."""

    def __init__(self, spark: SparkSession, root: str, host_hash_buckets: int = 0):
        self.spark = spark
        self.root = root
        self.host_hash_buckets = host_hash_buckets

    def _round_dir(self, k: int) -> str:
        return os.path.join(self.root, f"round_{k:06d}")

    def _fs_path(self, *parts):
        """(FileSystem, Path) of ``parts`` joined, via the Hadoop FS API."""
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(os.path.join(*parts))
        return jpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), jpath

    def commit_round(self, state: FrontierState, metrics: dict | None = None) -> str:
        d = self._round_dir(state.round_no)
        pending_path = os.path.join(d, "pending")
        n = self.host_hash_buckets
        if n and n > 1:
            (
                state.pending.withColumn(
                    "host_bucket", F.pmod(F.xxhash64("host"), F.lit(n)).cast("int")
                )
                .repartition("host_bucket")
                .write.mode("overwrite")
                .partitionBy("host_bucket")
                .parquet(pending_path)
            )
        else:
            state.pending.write.mode("overwrite").parquet(pending_path)
        state.seen.write.mode("overwrite").parquet(os.path.join(d, "seen"))
        # per-partition lineage: which partition carried how many frontier rows
        partition_metrics(state.pending).write.mode("overwrite").parquet(
            os.path.join(d, "lineage")
        )
        marker = {"round": state.round_no, "metrics": metrics or {}}
        fs, jpath = self._fs_path(d, "_COMMIT")
        out = fs.create(jpath, True)  # overwrite; atomic-enough: written LAST
        try:
            out.write(bytearray(json.dumps(marker).encode("utf-8")))
        finally:
            out.close()
        return d

    def newest_round(self) -> int | None:
        """Highest committed round under ``root``. Non-matching directory
        names (round_tmp, stray files) are ignored."""
        fs, jroot = self._fs_path(self.root)
        if not fs.exists(jroot):
            return None
        rounds = []
        for status in fs.listStatus(jroot):
            name = status.getPath().getName()
            m = _ROUND_RE.match(name)
            if m and fs.exists(self._fs_path(self.root, name, "_COMMIT")[1]):
                rounds.append(int(m.group(1)))
        return max(rounds) if rounds else None

    def load(self, round_no: int | None = None) -> FrontierState:
        if round_no is None:
            round_no = self.newest_round()
            if round_no is None:
                raise FileNotFoundError(f"no committed checkpoint under {self.root}")
        d = self._round_dir(round_no)
        # no forced read-schema on the happy path: a host-bucketed layout adds
        # a host_bucket partition directory column, which a fixed schema would
        # reject. Project + cast back to the frontier contract instead.
        pend_path = os.path.join(d, "pending")
        try:
            pending = self.spark.read.parquet(pend_path).select(
                *[F.col(f.name).cast(f.dataType) for f in FRONTIER_SCHEMA.fields]
            )
        except AnalysisException:
            # a bucketed write of an EMPTY pending frontier (the drained-crawl
            # terminal state) emits no schema-bearing part files — inference
            # fails with UNABLE_TO_INFER_SCHEMA. There are no partition dirs
            # either, so the forced-schema read is legal and yields the empty
            # frontier.
            pending = self.spark.read.schema(FRONTIER_SCHEMA).parquet(pend_path)
        seen = self.spark.read.schema(SEEN_SCHEMA).parquet(os.path.join(d, "seen"))
        return FrontierState(pending=pending, seen=seen, round_no=round_no)


# ---------------------------------------------------------------------------
# Iceberg: real SQL, catalog-gated execution
# ---------------------------------------------------------------------------


def create_seen_table_sql(table: str) -> str:
    return f"""
CREATE TABLE IF NOT EXISTS {table} (
  url STRING NOT NULL
) USING iceberg
"""


def create_pending_table_sql(table: str, host_hash_buckets: int = 64) -> str:
    """``bucket(N, host)`` is the Iceberg spelling of the parquet store's
    host_bucket directory layout (ParquetDirectoryStore docstring)."""
    return f"""
CREATE TABLE IF NOT EXISTS {table} (
  url STRING NOT NULL,
  host STRING,
  priority DOUBLE,
  depth INT,
  round_no INT
) USING iceberg
PARTITIONED BY (bucket({host_hash_buckets}, host))
"""


def merge_seen_sql(table: str, source_view: str) -> str:
    """Idempotent seen-set upsert: re-committing a round re-matches its
    urls and inserts nothing twice."""
    return f"""
MERGE INTO {table} t
USING (SELECT DISTINCT url FROM {source_view}) s
ON t.url = s.url
WHEN NOT MATCHED THEN INSERT (url) VALUES (s.url)
"""


def overwrite_pending_sql(table: str, source_view: str, round_no: int) -> str:
    """Wholesale pending replacement as ONE atomic Iceberg snapshot;
    resume-from-round is snapshot time travel, not directory scans."""
    return f"""
INSERT OVERWRITE {table}
SELECT url, host, priority, depth, {round_no} AS round_no FROM {source_view}
"""


def snapshots_sql(table: str) -> str:
    """Newest-first snapshot history from the Iceberg ``.snapshots``
    metadata table — the index time-travel resume walks."""
    return f"""
SELECT snapshot_id, committed_at, operation
FROM {table}.snapshots
ORDER BY committed_at DESC
"""


def time_travel_max_round_sql(table: str, snapshot_id: int) -> str:
    """Which round a pending snapshot belongs to: INSERT OVERWRITE wrote
    exactly one round_no per snapshot, so its max IS the round."""
    return f"SELECT max(round_no) AS r FROM {table} VERSION AS OF {snapshot_id}"


def time_travel_pending_sql(table: str, snapshot_id: int, round_no: int) -> str:
    return f"""
SELECT url, host, priority, depth
FROM {table} VERSION AS OF {snapshot_id}
WHERE round_no = {round_no}
"""


def time_travel_seen_sql(table: str, snapshot_id: int) -> str:
    return f"SELECT url FROM {table} VERSION AS OF {snapshot_id}"


class IcebergStateStore:
    """StateStore over Iceberg tables ``<prefix>_pending`` /
    ``<prefix>_seen`` in a configured Spark catalog.

    The SQL this store runs is generated by the module-level builders
    (testable without a catalog); execution requires the Iceberg runtime
    jars + a ``spark.sql.catalog.<name>`` configuration, which this
    sandbox does not have — the constructor checks and raises with
    guidance instead of failing deep inside a write."""

    def __init__(self, spark: SparkSession, catalog: str, prefix: str,
                 host_hash_buckets: int = 64):
        self.spark = spark
        self.catalog = catalog
        self.prefix = prefix
        self.host_hash_buckets = host_hash_buckets
        if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
            raise RuntimeError(
                f"no Iceberg catalog {catalog!r} configured "
                f"(spark.sql.catalog.{catalog} is unset). Add the "
                "iceberg-spark-runtime jar and catalog conf, or use "
                "ParquetDirectoryStore."
            )

    @property
    def pending_table(self) -> str:
        return f"{self.catalog}.{self.prefix}_pending"

    @property
    def seen_table(self) -> str:
        return f"{self.catalog}.{self.prefix}_seen"

    def ensure_tables(self) -> None:
        self.spark.sql(create_pending_table_sql(self.pending_table,
                                                self.host_hash_buckets))
        self.spark.sql(create_seen_table_sql(self.seen_table))

    def commit_round(self, state: FrontierState, metrics: dict | None = None) -> str:
        # filter blobs are rebuilt from seen (zero-false-negative rule,
        # SURVEY §7 #4) and metrics ride the snapshot summary — neither
        # needs its own table
        self.ensure_tables()
        state.seen.createOrReplaceTempView("_ss_seen_src")
        state.pending.createOrReplaceTempView("_ss_pending_src")
        self.spark.sql(merge_seen_sql(self.seen_table, "_ss_seen_src"))
        self.spark.sql(
            overwrite_pending_sql(
                self.pending_table, "_ss_pending_src", state.round_no
            )
        )
        return f"{self.pending_table}@round={state.round_no}"

    def newest_round(self) -> int | None:
        from pyspark.errors import AnalysisException

        try:
            rows = self.spark.sql(
                f"SELECT max(round_no) AS r FROM {self.pending_table}"
            ).collect()
        except AnalysisException:
            # table not created yet = nothing committed; match the
            # ParquetDirectoryStore contract instead of leaking the
            # missing-table error
            return None
        return rows[0]["r"] if rows and rows[0]["r"] is not None else None

    def load(self, round_no: int | None = None) -> FrontierState:
        from pyspark.sql import functions as F

        newest = self.newest_round()
        if newest is None:
            raise FileNotFoundError(f"no committed round in {self.pending_table}")
        if round_no is None:
            round_no = newest
        elif round_no != newest:
            # INSERT OVERWRITE keeps only the newest round's pending rows
            # in the live table; older rounds exist as Iceberg SNAPSHOTS —
            # walk the .snapshots metadata newest-first, probe each
            # overwrite's round stamp, and time-travel both tables to it.
            # Snapshot count == committed rounds, so the probe is bounded;
            # this is a resume path, not a hot loop.
            return self._load_time_travel(round_no)
        pending = (
            self.spark.read.table(self.pending_table)
            .filter(F.col("round_no") == round_no)
            .drop("round_no")
        )
        seen = self.spark.read.table(self.seen_table)
        return FrontierState(pending=pending, seen=seen, round_no=round_no)

    def _load_time_travel(self, round_no: int) -> FrontierState:
        """Historical round via VERSION AS OF. The seen snapshot paired
        with a pending snapshot is the newest seen commit at or before
        it — commit_round runs the seen MERGE before the pending
        overwrite, so that pairing is exact, not heuristic."""
        from warcsum_spark.frontier.superstep import SEEN_SCHEMA

        target = None
        for s in self.spark.sql(snapshots_sql(self.pending_table)).collect():
            got = self.spark.sql(
                time_travel_max_round_sql(self.pending_table, s["snapshot_id"])
            ).collect()[0]["r"]
            if got == round_no:
                target = s
                break
        if target is None:
            raise ValueError(
                f"round {round_no} not found in {self.pending_table} "
                "snapshot history (expired by snapshot retention?)"
            )
        pending = self.spark.sql(
            time_travel_pending_sql(
                self.pending_table, target["snapshot_id"], round_no
            )
        )
        seen_snap = None
        for s in self.spark.sql(snapshots_sql(self.seen_table)).collect():
            if s["committed_at"] <= target["committed_at"]:
                seen_snap = s
                break
        seen = (
            self.spark.sql(
                time_travel_seen_sql(self.seen_table, seen_snap["snapshot_id"])
            )
            if seen_snap is not None
            else self.spark.createDataFrame([], SEEN_SCHEMA)
        )
        return FrontierState(pending=pending, seen=seen, round_no=round_no)


def run_crawl(
    spark: SparkSession,
    store: StateStore | None,
    state: FrontierState,
    link_graph,
    n_rounds: int,
    checkpoint_every: int = 1,
    **round_kwargs,
) -> Iterator[tuple[FrontierState, DataFrame, dict]]:
    """The crawl loop: ``n_rounds`` supersteps from ``state``, yielding
    ``(state, scheduled, metrics)`` after each one — the production loop
    shape: localCheckpoint truncates lineage within the window
    (frontier_round), the store commit is the durable cut at the window
    boundary.

    Once the caller resumes the generator, the round is committed through
    the StateStore seam if it falls on a ``checkpoint_every`` boundary or
    is the last one (with the tail uncommitted, a resume from the store
    would silently replay it). ``metrics`` is the commit marker's payload:
    the caller fills it in (e.g. the number of URLs it wrote out) so the
    marker records what the round did without another Spark job. A
    caller that stops iterating early leaves its last round uncommitted.
    ``store=None`` crawls without persisting."""
    for i in range(n_rounds):
        state, scheduled = frontier_round(spark, state, link_graph, **round_kwargs)
        metrics: dict = {}
        yield state, scheduled, metrics
        last = i == n_rounds - 1
        if store is not None and (state.round_no % checkpoint_every == 0 or last):
            store.commit_round(state, metrics=metrics)
