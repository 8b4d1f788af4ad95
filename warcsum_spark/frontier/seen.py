"""R3 — URL-seen membership at 10^10-URL scale.

Two-tier design (SURVEY §2.11):

* **Exact tier**: ``left_anti`` join candidates ⋈ seen — zero false
  positives/negatives; this alone is correct but shuffles the full seen
  table.
* **Filter tier** (bloom): the seen set is hash-partitioned by
  ``pmod(xxhash64(url), n)`` and each partition is summarized into one
  bloom blob. Candidates are co-grouped with their partition's blob;
  "definitely not seen" candidates skip the exact join, only "maybe
  seen" ones (true seen + fp-rate of the new) pay it. False positives
  are resolved by the exact tier, so the combined gate has **zero false
  negatives and zero false positives**. The tier trims only the
  candidate side of the exact anti-join (by ~(1-fpp) for genuinely-new
  URLs): the confirmation still shuffles the whole seen table.

The bloom blob is a numpy bitset, k hashes derived from xxhash64 via
double hashing. Bloom is the one filter kind: the set a frontier round
summarizes (``seen ∪ pending``) only grows, so a filter that can also
delete keys would buy nothing here.

Blobs are plain binary rows ``url_seen(partition_id int, n_keys long,
n_partitions int, filter_blob binary)`` — checkpointable to
Iceberg/parquet and rebuildable from the seen table at any time
(rebuild-on-load beats serializing mutable state, SURVEY §7 hard-part 4).
``n_partitions`` is persisted with each blob so the gate can verify it was
built with the same partitioning function (a mismatch would silently route
candidates to the wrong blob).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOB_SCHEMA = (
    "partition_id int, n_keys long, n_partitions int, filter_blob binary"
)


def _np_hashes(h64: np.ndarray, k: int, m_bits: int) -> Iterator[np.ndarray]:
    # xxhash64-based double hashing: h_i = h1 + i*h2 mod m (Kirsch–Mitzenmacher)
    h1 = h64.astype(np.uint64)
    h2 = (h1 >> np.uint64(33)) | (h1 << np.uint64(31))  # rotated variant
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)


def _bloom_bits(n_keys: int, fpp: float) -> int:
    m = max(64, int(-max(n_keys, 1) * math.log(fpp) / (math.log(2) ** 2)))
    return (m + 7) // 8 * 8


def _blob_k(m_bits: int, n_keys: int) -> int:
    return max(1, min(12, round(m_bits / max(n_keys, 1) * math.log(2))))


def _bloom_encode(h64: np.ndarray, fpp: float) -> bytes:
    m_bits = _bloom_bits(len(h64), fpp)
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    for idx in _np_hashes(h64, _blob_k(m_bits, len(h64)), m_bits):
        np.bitwise_or.at(bits, idx // 8, (1 << (idx % 8)).astype(np.uint8))
    return bits.tobytes()


def _bloom_contains(blob: bytes, n_keys: int, h64: np.ndarray) -> np.ndarray:
    bits = np.frombuffer(blob, dtype=np.uint8)
    m_bits = len(bits) * 8
    maybe = np.ones(len(h64), dtype=bool)
    for idx in _np_hashes(h64, _blob_k(m_bits, n_keys), m_bits):
        maybe &= (bits[idx // 8] & (1 << (idx % 8)).astype(np.uint8)) != 0
    return maybe


def _h64_col():
    return F.xxhash64(F.col("url"))


def _remix(h64: np.ndarray) -> np.ndarray:
    """MurmurHash3's 64-bit finalizer over the partition's keys. Routing
    takes ``pmod(xxhash64(url), n)``, so within one partition the low bits
    of xxhash64 are fixed; a filter indexed by them uses a fraction of its
    table (bloom fpp ~9% instead of 1% at n=16). After the remix every bit
    depends on the whole hash."""
    h = h64 ^ (h64 >> np.uint64(33))
    h = h * np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    h = h * np.uint64(0xC4CEB9FE1A85EC53)
    return h ^ (h >> np.uint64(33))


def partition_id(n_partitions: int):
    return F.pmod(_h64_col(), F.lit(n_partitions)).cast("int")


def anti_join_urls(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """``candidates ∖ seen`` on url, joined on (xxhash64(url), url):
    identical semantics to a plain url anti-join, but the sort-merge sort
    key leads with the 8-byte hash, so string comparison only happens
    between hash-equal rows — a materially cheaper sort than ordering
    full URL strings when the join is sort-merge at scale."""
    c = candidates.withColumn("_ah", _h64_col())
    s = seen.select(_h64_col().alias("_ah"), F.col("url").alias("_au"))
    return c.join(
        s, (c["_ah"] == s["_ah"]) & (c["url"] == s["_au"]), "left_anti"
    ).drop("_ah")


def _gate(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    n_partitions: int,
    contains: Callable[[bytes, int, np.ndarray], np.ndarray],
) -> DataFrame:
    """The two-tier gate: ``candidates ∖ seen``, exact, with only the rows
    ``contains`` calls maybe-seen reaching the exact anti-join.
    ``filter_unseen`` passes ``_bloom_contains``; the parameter lets a
    test count the rows tested.

    The tested frame feeds both the definitely-new and the maybe-seen
    branch; a lazy local checkpoint makes the cogroup (and everything
    upstream of it, e.g. a canonicalize UDF over lazy candidates) run once
    instead of once per branch. Under adaptive execution the call itself
    already runs the cogroup's input shuffles."""
    cand = candidates.withColumn("partition_id", partition_id(n_partitions)).withColumn(
        "h64", _h64_col()
    )

    def test(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(maybe_seen=pd.Series([], dtype=bool))
        if right.empty:  # no blob for this partition → nothing seen here
            return left.assign(maybe_seen=False)
        built_with = int(right["n_partitions"].iloc[0])
        if built_with != n_partitions:
            raise ValueError(
                f"seen filters were built with n_partitions={built_with} "
                f"but the gate was called with {n_partitions}; "
                "mismatched partitioning silently corrupts the seen gate"
            )
        h = _remix(left["h64"].to_numpy(dtype=np.int64).view(np.uint64))
        blob, n_keys = right["filter_blob"].iloc[0], int(right["n_keys"].iloc[0])
        return left.assign(maybe_seen=contains(blob, n_keys, h))

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in cand.schema.fields
    ) + ", maybe_seen boolean"
    tested = (
        cand.groupBy("partition_id")
        .cogroup(filters.groupBy("partition_id"))
        .applyInPandas(test, schema=out_schema)
        .localCheckpoint(eager=False)
    )
    definitely_new = tested.filter(~F.col("maybe_seen"))
    confirmed_new = anti_join_urls(tested.filter(F.col("maybe_seen")), seen)
    return definitely_new.unionByName(confirmed_new).drop(
        "partition_id", "h64", "maybe_seen"
    )


def build_seen_filters(
    seen: DataFrame, n_partitions: int = 64, fpp: float = 0.01
) -> DataFrame:
    """seen(url) → url_seen bloom blobs (partition_id, n_keys,
    n_partitions, filter_blob), one per hash-partition, each built over
    the partition's remixed xxhash64 keys."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = _remix(pdf["h64"].to_numpy(dtype=np.int64).view(np.uint64))
        return pd.DataFrame(
            {
                "partition_id": [int(pdf["partition_id"].iloc[0])],
                "n_keys": [len(h)],
                "n_partitions": [n_partitions],
                "filter_blob": [_bloom_encode(h, fpp)],
            }
        )

    return (
        seen.select(
            partition_id(n_partitions).alias("partition_id"), _h64_col().alias("h64")
        )
        .groupBy("partition_id")
        .applyInPandas(build, schema=BLOB_SCHEMA)
    )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame | None = None,
    n_partitions: int = 64,
) -> DataFrame:
    """Candidates not in seen (exact). With bloom ``filters``, bloom-short-
    circuit first so only maybe-seen rows reach the exact anti-join."""
    if filters is None:
        return anti_join_urls(candidates, seen)
    return _gate(candidates, seen, filters, n_partitions, _bloom_contains)
