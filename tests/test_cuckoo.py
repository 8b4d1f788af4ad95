"""Cuckoo-filter URL-seen tier: zero false negatives, bounded false
positives, deletion support, and combined-gate exactness."""

from __future__ import annotations

import numpy as np

from warcsum_spark.frontier.cuckoo import (
    CuckooTable,
    build_seen_cuckoo,
    filter_unseen_cuckoo,
)


def test_cuckoo_table_local():
    rng = np.random.RandomState(7)
    keys = rng.randint(0, 2**63 - 1, size=5000, dtype=np.int64).view(np.uint64)
    t = CuckooTable(len(keys))
    overflow = t.insert_many(keys)
    assert overflow == 0
    # zero false negatives
    assert t.contains_many(keys).all()
    # bounded false positives on fresh keys
    probe = rng.randint(0, 2**63 - 1, size=20000, dtype=np.int64).view(np.uint64)
    fpr = t.contains_many(probe).mean()
    assert fpr < 0.05, fpr
    # round-trip through the blob
    t2 = CuckooTable.from_blob(t.to_blob())
    assert t2.contains_many(keys).all()
    # deletion: removed keys stop matching (cuckoo's edge over bloom)
    victims = keys[:500]
    assert t.delete_many(victims) == 500
    assert t.contains_many(victims).mean() < 0.05


def test_cuckoo_bulk_insert_fills_design_load_and_holes():
    """The numpy placement passes plus the eviction loop store every key
    exactly once: a table filled to the 0.84 design load overflows
    nothing, and keys inserted after a delete land in the freed slots
    (a bucket's free slots need not be its leading ones)."""
    rng = np.random.RandomState(9)
    n = int(0.84 * 4 * 4096)  # 4096 buckets of 4, filled to 0.84
    keys = rng.randint(0, 2**63 - 1, size=n, dtype=np.int64).view(np.uint64)
    t = CuckooTable(n)
    assert t.m == 4096
    assert t.insert_many(keys) == 0
    assert (t.slots != 0).sum() == len(keys)
    assert t.contains_many(keys).all()
    gone, kept = keys[::3], np.setdiff1d(keys, keys[::3])
    assert t.delete_many(gone) == len(gone)
    fresh = rng.randint(0, 2**63 - 1, size=len(gone), dtype=np.int64).view(np.uint64)
    overflow = t.insert_many(fresh)
    assert (t.slots != 0).sum() + overflow == len(keys)
    assert t.contains_many(kept).all() and t.contains_many(fresh).all()


def test_cuckoo_gate_exactness(spark):
    urls = [f"http://h{i % 23}.test/p/{i}" for i in range(4000)]
    seen = spark.createDataFrame([(u,) for u in urls[:2000]], "url string")
    cand = spark.createDataFrame(
        [(u, 1.0) for u in urls[1500:]], "url string, priority double"
    )
    filters = build_seen_cuckoo(seen, n_partitions=8)
    got = {r["url"] for r in filter_unseen_cuckoo(cand, seen, filters, 8).collect()}
    assert got == set(urls[2000:])


def test_cuckoo_overflow_zero_false_negatives():
    """A table driven far past capacity must keep every inserted key
    findable (overflow keys live in the blob's side exact list)."""
    rng = np.random.RandomState(3)
    keys = rng.randint(0, 2**63 - 1, size=2000, dtype=np.int64).view(np.uint64)
    t = CuckooTable(8)  # ~32 slots for 2000 keys → massive overflow
    overflow = t.insert_many(keys)
    assert overflow > 0
    assert t.contains_many(keys).all()
    # the exact list survives blob round-trip
    t2 = CuckooTable.from_blob(t.to_blob())
    assert t2.contains_many(keys).all()
    # deletion removes overflow keys too
    victims = keys[:10]
    assert t2.delete_many(victims) == 10


def test_cuckoo_gate_exact_under_forced_overflow(spark):
    """Crawl-equivalence contract holds even when every partition's table
    is saturated (load >> 1 shrinks tables so most keys overflow)."""
    urls = [f"http://h{i % 11}.test/p/{i}" for i in range(3000)]
    seen = spark.createDataFrame([(u,) for u in urls[:1500]], "url string")
    cand = spark.createDataFrame(
        [(u, 1.0) for u in urls[1000:]], "url string, priority double"
    )
    filters = build_seen_cuckoo(seen, n_partitions=4, load=60.0)
    got = {r["url"] for r in filter_unseen_cuckoo(cand, seen, filters, 4).collect()}
    assert got == set(urls[1500:])


def test_cuckoo_partition_mismatch_raises(spark):
    urls = [f"http://h{i % 5}.test/p/{i}" for i in range(200)]
    seen = spark.createDataFrame([(u,) for u in urls[:100]], "url string")
    cand = spark.createDataFrame(
        [(u, 1.0) for u in urls], "url string, priority double"
    )
    filters = build_seen_cuckoo(seen, n_partitions=8)
    import pytest

    with pytest.raises(Exception, match="n_partitions"):
        filter_unseen_cuckoo(cand, seen, filters, n_partitions=16).collect()


def test_bloom_partition_mismatch_raises(spark):
    from warcsum_spark.frontier.seen import build_seen_filters, filter_unseen

    urls = [f"http://h{i % 5}.test/p/{i}" for i in range(200)]
    seen = spark.createDataFrame([(u,) for u in urls[:100]], "url string")
    cand = spark.createDataFrame(
        [(u, 1.0) for u in urls], "url string, priority double"
    )
    filters = build_seen_filters(seen, n_partitions=8)
    import pytest

    with pytest.raises(Exception, match="n_partitions"):
        filter_unseen(cand, seen, filters, n_partitions=16).collect()
