"""Per-partition cuckoo filters for the URL-seen set — the deletable
alternative to the bloom tier (north_star: "bloom/cuckoo-filter URL-seen
set"; design per Fan et al., "Cuckoo Filter: Practically Better Than
Bloom", CoNEXT'14, and PAPERS.md's learned-cuckoo line of work).

Same contract as frontier/seen.py's bloom tier, and the same runners:
seen.py's ``_build_blobs`` and ``_gate`` build the per-partition blobs
and run the two-tier gate; this module supplies only the two hooks they
take, the blob encoder (``CuckooTable.insert_many`` + ``to_blob``) and
the membership test (``_cuckoo_contains``). Unlike bloom, a cuckoo filter
supports deletion — relevant when a crawl retracts URLs (robots change,
host blacklisting) without rebuilding the filter.

Layout: buckets of 4 single-byte fingerprints (fp 1..255; 0 = empty).
Insert uses the standard two-bucket partial-key cuckoo scheme:
    i1 = h(x) mod m,  i2 = i1 XOR h(fp) mod m
with vectorized numpy bulk inserts and a bounded eviction loop.
"""

from __future__ import annotations

import math
import random

import numpy as np
from pyspark.sql import DataFrame

from warcsum_spark.frontier.seen import _build_blobs, _gate

BUCKET_SIZE = 4
MAX_KICKS = 250


def _fp(h64: np.ndarray) -> np.ndarray:
    """1-byte fingerprint in 1..255 (0 means empty slot)."""
    f = ((h64 >> np.uint64(40)) & np.uint64(0xFF)).astype(np.uint8)
    return np.where(f == 0, np.uint8(1), f)


def _alt_index(idx: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    # h(fp) via a splittable 32-bit mix of the fingerprint byte
    fp_hash = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(0xFFFFFFFF)
    return (idx ^ fp_hash.astype(np.int64)) % m


def _n_buckets(n_keys: int, load: float = 0.84) -> int:
    m = max(8, int(math.ceil(n_keys / (BUCKET_SIZE * load))))
    return 1 << max(3, (m - 1).bit_length())  # power of two


class CuckooTable:
    """numpy-backed cuckoo table; (de)serializes to a flat byte blob.

    Zero false negatives even past capacity: a key dropped after MAX_KICKS
    evictions is kept verbatim in a side exact list (``overflow``) that is
    serialized with the blob and checked by ``contains_many`` — without it,
    an overflowed seen URL would test "definitely not seen" and be
    re-crawled, breaking the crawl-equivalence contract. Overflow is empty
    at the design load (0.84); the list only grows when a partition is
    driven past capacity."""

    def __init__(self, n_keys: int, load: float = 0.84):
        self.m = _n_buckets(max(n_keys, 1), load)
        self.slots = np.zeros((self.m, BUCKET_SIZE), dtype=np.uint8)
        self.overflow = np.empty(0, dtype=np.uint64)

    def insert_many(self, h64: np.ndarray) -> int:
        """Insert every key; returns how many went to the overflow list.

        Two numpy passes place every key whose primary, then alternate,
        bucket still has a free slot (keys aiming at one bucket take its
        free slots in key order). Only keys that find both buckets full
        run the eviction loop."""
        fps = _fp(h64)
        i1 = (h64 % np.uint64(self.m)).astype(np.int64)
        left = np.arange(len(h64))
        for idx in (i1, _alt_index(i1, fps, self.m)):
            left = self._place(left, idx[left], fps[left])
        rng = random.Random(self.m)
        dropped = [
            h64[k] for k in left if not self._evict_insert(int(fps[k]), int(i1[k]), rng)
        ]
        if dropped:
            self.overflow = np.concatenate(
                [self.overflow, np.array(dropped, dtype=np.uint64)]
            )
        return len(dropped)

    def _place(self, keys: np.ndarray, idx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Put ``fps`` into free slots of buckets ``idx``; the r-th key
        aiming at a bucket takes its r-th free slot. Returns the ``keys``
        that found their bucket full."""
        order = np.argsort(idx, kind="stable")
        b = idx[order]
        starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
        rank = np.arange(len(b)) - np.repeat(starts, np.diff(np.r_[starts, len(b)]))
        free = self.slots[b] == 0
        fits = rank < free.sum(axis=1)
        # column of each bucket's rank-th free slot (free slots first, in order)
        free_cols = np.argsort(~free, axis=1, kind="stable")
        slot = free_cols[np.arange(len(b)), np.minimum(rank, BUCKET_SIZE - 1)]
        self.slots[b[fits], slot[fits]] = fps[order][fits]
        return keys[order][~fits]

    def _evict_insert(self, fp: int, i1: int, rng: random.Random) -> bool:
        # both of the key's buckets are full: evict, remembering the swap
        # chain. On failure the homeless fingerprint is the LAST victim,
        # not the new key — rolling the chain back leaves the table
        # exactly as before, so the caller can safely record the NEW key
        # in the overflow exact list (recording it without rollback would
        # silently lose the victim key: a false negative).
        slots = self.slots
        i = i1
        cur = fp
        path: list[tuple[int, int, int]] = []
        for _ in range(MAX_KICKS):
            slot = rng.randrange(BUCKET_SIZE)
            victim = int(slots[i, slot])
            slots[i, slot] = cur
            path.append((i, slot, victim))
            cur = victim
            # _alt_index over Python ints: must place keys where
            # contains_many looks for them
            i = (i ^ ((cur * 0x5BD1E995) & 0xFFFFFFFF)) % self.m
            row = slots[i]
            for k in range(BUCKET_SIZE):
                if row[k] == 0:
                    row[k] = cur
                    return True
        for bi, slot, victim in reversed(path):
            slots[bi, slot] = victim
        return False  # table over capacity; caller records overflow

    def contains_many(self, h64: np.ndarray) -> np.ndarray:
        fps = _fp(h64)
        i1 = (h64 % np.uint64(self.m)).astype(np.int64)
        i2 = _alt_index(i1, fps, self.m)
        found = np.zeros(len(h64), dtype=bool)
        for k in range(BUCKET_SIZE):
            found |= self.slots[i1, k] == fps
            found |= self.slots[i2, k] == fps
        if len(self.overflow):
            found |= np.isin(h64, self.overflow)
        return found

    def delete_many(self, h64: np.ndarray) -> int:
        """Remove one matching fingerprint per key; returns #deleted."""
        fps = _fp(h64)
        i1 = (h64 % np.uint64(self.m)).astype(np.int64)
        i2 = _alt_index(i1, fps, self.m)
        n = 0
        for key, fp, a, b in zip(h64, fps, i1, i2):
            hit_ov = np.nonzero(self.overflow == key)[0]
            if len(hit_ov):
                self.overflow = np.delete(self.overflow, hit_ov[0])
                n += 1
                continue
            for i in (int(a), int(b)):
                hit = np.nonzero(self.slots[i] == fp)[0]
                if len(hit):
                    self.slots[i, hit[0]] = 0
                    n += 1
                    break
        return n

    def to_blob(self) -> bytes:
        # layout: n_overflow (uint64 LE) | overflow keys (uint64 LE each) | slots
        header = np.array([len(self.overflow)], dtype="<u8").tobytes()
        return header + self.overflow.astype("<u8").tobytes() + self.slots.tobytes()

    @classmethod
    def from_blob(cls, blob: bytes) -> "CuckooTable":
        t = cls.__new__(cls)
        n_ov = int(np.frombuffer(blob[:8], dtype="<u8")[0])
        body = 8 + 8 * n_ov
        t.overflow = np.frombuffer(blob[8:body], dtype="<u8").astype(np.uint64)
        arr = np.frombuffer(blob[body:], dtype=np.uint8)
        t.m = len(arr) // BUCKET_SIZE
        t.slots = arr.reshape(t.m, BUCKET_SIZE).copy()
        return t


def _cuckoo_contains(blob: bytes, n_keys: int, h64: np.ndarray) -> np.ndarray:
    return CuckooTable.from_blob(blob).contains_many(h64)


def build_seen_cuckoo(
    seen: DataFrame, n_partitions: int = 64, load: float = 0.84
) -> DataFrame:
    """seen(url) → url_seen cuckoo blobs (partition_id, n_keys,
    n_partitions, filter_blob). ``load`` is exposed for tests that force
    overflow; production uses the 0.84 design load. Overflow keys land in
    the blob's side exact list."""

    def encode(h64: np.ndarray) -> bytes:
        t = CuckooTable(len(h64), load=load)
        t.insert_many(h64)
        return t.to_blob()

    return _build_blobs(seen, n_partitions, encode)


def filter_unseen_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    n_partitions: int = 64,
) -> DataFrame:
    """Two-tier gate with cuckoo blobs: same exact-correctness contract as
    seen.filter_unseen (cuckoo false positives resolved by the exact
    anti-join; zero false negatives by construction)."""
    return _gate(candidates, seen, filters, n_partitions, _cuckoo_contains)
