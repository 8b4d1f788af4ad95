"""Independent per-row reference implementations used to materialize
driver-gate oracles for the two operators whose kernels are not
ANSI-SQL-expressible (MinHash+LSH banding and SimHash bit-voting).

These are deliberately NOT the engine kernels: the engine computes both
over flattened Arrow buffers with reduceat segments inside vectorized
UDFs (operators/dedup.py); here every document is processed one at a
time with plain numpy / plain-int arithmetic, mirroring the adversarial
per-row reference in tests/test_minhash_kernel.py. Agreement between the
two code paths is what the oracle certifies.

The Spark SimHash pipeline hashes tokens JVM-side with ``F.xxhash64``
(seed 42), so this module carries a from-scratch pure-Python XXH64
(public algorithm, Yann Collet; also implemented independently in Spark's
catalyst XXH64.java) cross-checked against ``F.xxhash64`` in
tests/test_oracle_refs.py.

Materializers write per-document reference outputs to parquet under
``.oracle_cache/`` so the DuckDB oracle can be a plain ``read_parquet``
query — the IVF-quantizer oracle regeneration precedent
(__spark_entry__._oracle_ann_ivf) extended to file-backed outputs.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from warcsum_spark.operators.dedup import _SM_GAMMA, _SM_GAMMA2, _splitmix

_G = np.uint64(_SM_GAMMA)
_G2 = np.uint64(_SM_GAMMA2)

# ---------------------------------------------------------------------------
# MinHash per-document reference (numpy per row, no cross-row buffers)
# ---------------------------------------------------------------------------


def ref_minhash_doc(
    text: str | None, num_hashes: int = 64, k: int = 3, bands: int = 16
):
    """(sig int64[num_hashes], band_hashes int64[bands]) for one document,
    or None for null docs / docs with fewer than k tokens.

    Same splitmix64 hash chain as the fused kernel
    (operators/dedup.py::_minhash_text_udf) but computed row-at-a-time:
    position-weighted byte hash per token, k-token shingle chain, per-i
    minima, per-band fold — no flattened-batch offsets/reduceat anywhere,
    so segment/masking bugs in the kernel cannot be mirrored here."""
    if text is None:
        return None
    toks = text.strip().lower().split()
    if len(toks) < k:
        return None
    with np.errstate(over="ignore"):
        th = np.empty(len(toks), np.uint64)
        for i, t in enumerate(toks):
            bs = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
            idx = (np.arange(len(bs), dtype=np.uint64) + np.uint64(1)) * _G2
            acc = _splitmix(bs ^ idx).sum(dtype=np.uint64)
            th[i] = _splitmix(acc ^ np.uint64(len(bs)) * _G2)
        sh = _splitmix(th[: len(toks) - k + 1].copy())
        for j in range(1, k):
            sh = _splitmix(sh ^ th[j : j + len(sh)])
        i_arr = np.arange(num_hashes, dtype=np.uint64)
        sig = _splitmix(sh[None, :] ^ (i_arr[:, None] * _G + _G)).min(axis=1)
        rpb = num_hashes // bands
        bnd = np.empty(bands, np.uint64)
        for j in range(bands):
            h = _splitmix(np.uint64(j + 1) * _G)
            for r in range(rpb):
                h = _splitmix(h ^ sig[j * rpb + r])
            bnd[j] = h
    return sig.view(np.int64), bnd.view(np.int64)


# ---------------------------------------------------------------------------
# Pure-Python XXH64 (seed 42 = Spark's F.xxhash64 default)
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 over ``data`` as an unsigned 64-bit int. Default seed 42
    matches Spark's ``xxhash64`` SQL function; cross-checked against
    ``F.xxhash64`` in tests/test_oracle_refs.py."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            k1 = int.from_bytes(data[i : i + 8], "little")
            v1 = (_rotl((v1 + k1 * _P2) & _M64, 31) * _P1) & _M64
            k2 = int.from_bytes(data[i + 8 : i + 16], "little")
            v2 = (_rotl((v2 + k2 * _P2) & _M64, 31) * _P1) & _M64
            k3 = int.from_bytes(data[i + 16 : i + 24], "little")
            v3 = (_rotl((v3 + k3 * _P2) & _M64, 31) * _P1) & _M64
            k4 = int.from_bytes(data[i + 24 : i + 32], "little")
            v4 = (_rotl((v4 + k4 * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# SimHash per-document reference (plain-int bit voting)
# ---------------------------------------------------------------------------

# Java regex \s (no UNICODE_CHARACTER_CLASS) — what F.split(..., r"\s+")
# matches on the JVM. Python's str.split() would differ (unicode ws).
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def ref_simhash_tokens(text: str) -> list[str]:
    """Twin of the engine's JVM tokenization
    ``F.split(F.lower(F.trim(col)), r"\\s+")``: Spark ``trim`` strips only
    ASCII spaces; Java ``split`` with Spark's limit=-1 keeps leading AND
    trailing empty strings (Python ``re.split`` has the same contract)."""
    return _JAVA_WS.split(text.strip(" ").lower())


def ref_simhash_doc(text: str | None) -> int | None:
    """64-bit SimHash as a signed int64, or None for null text. Bit i is
    set iff strictly more token hashes have bit i set than clear (ties →
    0; duplicate tokens vote per occurrence), matching
    operators/dedup.py::_simhash_votes_udf — but with per-token
    pure-Python xxh64 and int loops instead of JVM hashing + reduceat."""
    if text is None:
        return None
    hashes = [xxh64(t.encode("utf-8")) for t in ref_simhash_tokens(text)]
    n = len(hashes)
    sig = 0
    for i in range(64):
        cnt = sum((h >> i) & 1 for h in hashes)
        if 2 * cnt - n > 0:
            sig |= 1 << i
    return sig - (1 << 64) if sig >= (1 << 63) else sig


# ---------------------------------------------------------------------------
# materializers: reference outputs → parquet for read_parquet oracles
# ---------------------------------------------------------------------------

CACHE_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".oracle_cache")


def _neardup_corpus(sf_dir: str) -> list[tuple[int, str | None]]:
    """Python twin of __spark_entry__._docs_with_neardups: documents ∪
    perturbed copies of doc_id<20."""
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    rows = list(zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()))
    rows += [
        (doc_id + 1000000, None if text is None else text + " perturbed tail token")
        for doc_id, text in rows
        if doc_id < 20
    ]
    return rows

def _cache_key(sf_dir: str, tag: str, table: str = "documents") -> str:
    """Cache file stem for a reference built from ``sf_dir``'s ``table``:
    keyed on the sha256 of the parquet's bytes, so a copied or touched
    input with the same content reuses the entry (and keeps the oracle
    text, which embeds the path, unchanged)."""
    with open(os.path.join(sf_dir, f"{table}.parquet"), "rb") as f:
        digest = hashlib.file_digest(f, "sha256").hexdigest()
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    return f"{tag}_{sf_name}_{digest[:16]}"


def materialize_minhash_oracle(
    sf_dir: str, num_hashes: int = 64, k: int = 3, bands: int = 16
) -> tuple[str, str]:
    """Run ref_minhash_doc over the near-dup corpus of ``sf_dir`` and write
    two exploded parquet files: (doc_id, pos, sig_val) and
    (doc_id, band_id, band_hash). Returns their paths. Cached on the
    source parquet's content digest — deterministic regeneration."""
    os.makedirs(CACHE_DIR, exist_ok=True)
    key = _cache_key(sf_dir, f"minhash_{num_hashes}_{k}_{bands}")
    sig_path = os.path.join(CACHE_DIR, key + "_sig.parquet")
    band_path = os.path.join(CACHE_DIR, key + "_bands.parquet")
    if os.path.exists(sig_path) and os.path.exists(band_path):
        return sig_path, band_path
    ids, sig_rows, band_rows = [], [], []
    for doc_id, text in _neardup_corpus(sf_dir):
        res = ref_minhash_doc(text, num_hashes=num_hashes, k=k, bands=bands)
        if res is None:
            continue
        ids.append(doc_id)
        sig_rows.append(res[0])
        band_rows.append(res[1])
    n = len(ids)
    id_arr = np.asarray(ids, dtype=np.int64)
    sig_tbl = pa.table(
        {
            "doc_id": np.repeat(id_arr, num_hashes),
            "pos": np.tile(np.arange(num_hashes, dtype=np.int32), n),
            "sig_val": np.concatenate(sig_rows) if n else np.empty(0, np.int64),
        }
    )
    band_tbl = pa.table(
        {
            "doc_id": np.repeat(id_arr, bands),
            "band_id": np.tile(np.arange(bands, dtype=np.int32), n),
            "band_hash": np.concatenate(band_rows) if n else np.empty(0, np.int64),
        }
    )
    pq.write_table(sig_tbl, sig_path + ".tmp")
    os.replace(sig_path + ".tmp", sig_path)
    pq.write_table(band_tbl, band_path + ".tmp")
    os.replace(band_path + ".tmp", band_path)
    return sig_path, band_path


def materialize_simhash_oracle(sf_dir: str) -> str:
    """Run ref_simhash_doc over the near-dup corpus of ``sf_dir``; write
    (doc_id, simhash) parquet (simhash NULL for null text) and return the
    path."""
    os.makedirs(CACHE_DIR, exist_ok=True)
    path = os.path.join(CACHE_DIR, _cache_key(sf_dir, "simhash") + ".parquet")
    if os.path.exists(path):
        return path
    rows = _neardup_corpus(sf_dir)
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "simhash": pa.array([ref_simhash_doc(r[1]) for r in rows], type=pa.int64()),
        }
    )
    pq.write_table(tbl, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


# ---------------------------------------------------------------------------
# BPE merge-learning reference (plain dicts, one word at a time)
# ---------------------------------------------------------------------------


def ref_bpe_merges(
    texts: list[str | None], n_merges: int, min_count: int = 2
) -> list[tuple[int, str, str, int]]:
    """Dict-based BPE learner (Sennrich et al. 2016 semantics: '</w>'
    glued to the final character, overlapping adjacent pairs all
    counted, greedy left-to-right merge application, stop below
    min_count). Deterministic tie-break: highest count, then
    lexicographically smallest (left, right). Deliberately NOT the
    engine path — no Spark, no folds, no type table reuse."""
    from collections import Counter

    wc: Counter[str] = Counter()
    for t in texts:
        if t:
            wc.update(w for w in t.lower().strip().split() if w)
    vocab = {tuple([*w[:-1], w[-1] + "</w>"]): c for w, c in wc.items()}

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        stats: Counter[tuple[str, str]] = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += c
        if not stats:
            break
        (left, right), cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if cnt < min_count:
            break
        merges.append((rank, left, right, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def materialize_bpe_oracle(sf_dir: str, n_merges: int = 25) -> str:
    """Run ref_bpe_merges over the documents table of ``sf_dir``; write
    (rank, left, right, pair_count) parquet and return the path."""
    os.makedirs(CACHE_DIR, exist_ok=True)
    path = os.path.join(CACHE_DIR, _cache_key(sf_dir, f"bpe_{n_merges}") + ".parquet")
    if os.path.exists(path):
        return path
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    merges = ref_bpe_merges(tbl.column("text").to_pylist(), n_merges)
    out = pa.table(
        {
            "rank": pa.array([m[0] for m in merges], type=pa.int32()),
            "left": pa.array([m[1] for m in merges], type=pa.string()),
            "right": pa.array([m[2] for m in merges], type=pa.string()),
            "pair_count": pa.array([m[3] for m in merges], type=pa.int64()),
        }
    )
    pq.write_table(out, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


def materialize_dsir_xx_oracle(sf_dir: str, n_buckets: int = 512) -> str:
    """Independent per-doc DSIR feature stream for the xxhash64 SCALE
    tier (operators/dsir.py): tokenize each document in Python, bucket
    every bigram with the seed-chained XXH64 (seed 42 then running hash
    — exactly F.xxhash64's column chain, signed pmod), and write
    (doc_id, is_target, bucket, n) rows to parquet. The oracle SQL
    recomputes the full estimator (histograms, smoothing, lw, per-doc
    aggregates) from these rows, so the hash chain and the Spark-side
    arithmetic are checked independently. Cached like the minhash
    reference (source parquet content-digest key)."""
    os.makedirs(CACHE_DIR, exist_ok=True)
    # tag v2: tokenization fixed to ASCII-whitespace (stale v1 caches
    # carry str.split() output — identical on ASCII fixtures, but
    # regenerate anyway so the fix is live everywhere)
    key = _cache_key(sf_dir, f"dsirxx2_{n_buckets}")
    path = os.path.join(CACHE_DIR, key + "_feats.parquet")
    if os.path.exists(path):
        return path
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "lang", "text"],
    )
    doc_ids, targets, buckets, counts = [], [], [], []
    for doc_id, lang, text in zip(
        tbl.column("doc_id").to_pylist(),
        tbl.column("lang").to_pylist(),
        tbl.column("text").to_pylist(),
    ):
        if doc_id is None:
            continue
        # pin the ENGINE tokenization (ASCII whitespace only): str.split()
        # splits on all Unicode whitespace (NBSP, U+2028, …) while the
        # engine's bigram stream splits on [ \t\n\x0b\f\r] — ASCII-only
        # fixtures masked the difference (round-4 ADVICE item)
        toks = [
            t
            for t in re.split(
                r"[ \t\n\x0b\f\r]+", ("" if text is None else text).lower()
            )
            if t
        ]
        per: dict[int, int] = {}
        for v, w in zip(toks, toks[1:]):
            h = xxh64(v.encode(), 42)
            h = xxh64(w.encode(), h)
            signed = h - (1 << 64) if h >= (1 << 63) else h
            b = signed % n_buckets
            per[b] = per.get(b, 0) + 1
        for b, n in per.items():
            doc_ids.append(doc_id)
            targets.append(lang == "en")
            buckets.append(b)
            counts.append(n)
    out = pa.table(
        {
            "doc_id": np.asarray(doc_ids, dtype=np.int64),
            "is_target": np.asarray(targets, dtype=bool),
            "bucket": np.asarray(buckets, dtype=np.int64),
            "n": np.asarray(counts, dtype=np.int64),
        }
    )
    pq.write_table(out, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


def materialize_byte_entropy_oracle(sf_dir: str) -> str:
    """Independent per-doc reference for the Arrow byte-entropy tier
    (functions/entropy.py::byte_entropy / compress_ratio): one document
    at a time, bytes counted with collections.Counter and the entropy
    sum accumulated with math.fsum in ascending byte order — no numpy
    bincount, no pairwise vector summation, so a kernel bug cannot be
    mirrored here. zlib level 6 is the *definition* of the ratio, so
    both paths share it. Writes (doc_id, byte_entropy, compress_ratio)
    parquet (nulls for null/empty text) and returns the path. Cached on
    the source parquet's content digest like the minhash reference."""
    import math
    import zlib
    from collections import Counter

    os.makedirs(CACHE_DIR, exist_ok=True)
    path = os.path.join(CACHE_DIR, _cache_key(sf_dir, "byteent") + ".parquet")
    if os.path.exists(path):
        return path
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    ids, ents, ratios = [], [], []
    for doc_id, text in zip(
        tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
    ):
        ids.append(doc_id)
        if not text:
            ents.append(None)
            ratios.append(None)
            continue
        raw = text.encode("utf-8")
        cnt = Counter(raw)
        total = float(len(raw))
        ent = -math.fsum(
            (c / total) * math.log2(c / total)
            for _, c in sorted(cnt.items())
        )
        ents.append(round(ent, 6))
        ratios.append(round(len(zlib.compress(raw, 6)) / len(raw), 6))
    out = pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "byte_entropy": pa.array(ents, type=pa.float64()),
            "compress_ratio": pa.array(ratios, type=pa.float64()),
        }
    )
    pq.write_table(out, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


# ---------------------------------------------------------------------------
# Content-defined chunking reference (plain-int Gear recurrence, per row)
# ---------------------------------------------------------------------------


def ref_cdc_doc(
    text: str | None,
    min_size: int = 32,
    normal_size: int = 128,
    max_size: int = 512,
) -> list[tuple[int, int, str]] | None:
    """(offset, length, md5 hex) chunks for one document — the classic
    byte-at-a-time Gear recurrence H ← (H<<1) + gear[b] mod 2^64 with a
    direct sequential walk of FastCDC's two-mask cut rule. The engine
    (operators/cdc.py) computes the same windowed hash as 64 shifted
    adds over flattened Arrow buffers and walks precomputed mask-hit
    lists; here nothing is vectorized, so offset/segment bugs in the
    kernel cannot be mirrored."""
    from warcsum_spark.operators.cdc import _GEAR, _masks

    if text is None:
        return None
    b = text.encode("utf-8")
    n = len(b)
    if n == 0:
        return []
    mask_s, mask_l = _masks(normal_size)
    gear = [int(x) for x in _GEAR[:256]]
    u64 = (1 << 64) - 1
    hs = [0] * (n + 1)
    h = 0
    for p in range(n):
        h = ((h << 1) + gear[b[p]]) & u64
        hs[p + 1] = h
    chunks = []
    start = 0
    while start < n:
        end = min(start + max_size, n)
        cut = end
        p = start + min_size
        while p < end:
            if p < start + normal_size:
                if hs[p] & mask_s == 0:
                    cut = p
                    break
            elif hs[p] & mask_l == 0:
                cut = p
                break
            p += 1
        chunks.append(
            (start, cut - start, hashlib.md5(b[start:cut]).hexdigest())
        )
        start = cut
    return chunks


def materialize_cdc_oracle(
    sf_dir: str,
    min_size: int = 32,
    normal_size: int = 128,
    max_size: int = 512,
) -> str:
    """Run ref_cdc_doc over the near-dup corpus of ``sf_dir`` and write
    one parquet of (doc_id, chunk_id, offset, length, chunk_hash).
    Cached on the source parquet's content digest like the minhash
    reference."""
    os.makedirs(CACHE_DIR, exist_ok=True)
    key = _cache_key(sf_dir, f"cdc_{min_size}_{normal_size}_{max_size}")
    path = os.path.join(CACHE_DIR, key + "_chunks.parquet")
    if os.path.exists(path):
        return path
    doc_ids, chunk_ids, offsets, lengths, hashes = [], [], [], [], []
    for doc_id, text in _neardup_corpus(sf_dir):
        res = ref_cdc_doc(text, min_size, normal_size, max_size)
        if res is None:
            continue
        for cid, (off, ln, hx) in enumerate(res):
            doc_ids.append(doc_id)
            chunk_ids.append(cid)
            offsets.append(off)
            lengths.append(ln)
            hashes.append(hx)
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids, type=pa.int64()),
            "chunk_id": pa.array(chunk_ids, type=pa.int64()),
            "offset": pa.array(offsets, type=pa.int64()),
            "length": pa.array(lengths, type=pa.int64()),
            "chunk_hash": pa.array(hashes, type=pa.string()),
        }
    )
    pq.write_table(tbl, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


# ---------------------------------------------------------------------------
# T120 — Kleinberg burst detection (independent per-host reference)
# ---------------------------------------------------------------------------

def ref_burst_states(ts_micros, s: float = 2.0, gamma: float = 1.0):
    """Independent scalar-loop replica of the pinned 2-state Kleinberg
    DP (operators/bursts.py module docstring) for ONE host: explicit
    per-gap Viterbi with backpointers, scalar ops — the opposite code
    shape of the engine's host-axis-vectorized kernel. Returns the
    per-gap state list ([] for <2 events; all-zeros for the Σx=0 pin)."""
    ts = sorted(int(t) for t in ts_micros)
    if len(ts) < 2:
        return []
    gaps = [b - a for a, b in zip(ts, ts[1:])]
    m = len(gaps)
    tot = sum(gaps)
    if tot == 0:
        return [0] * m
    a0 = m / tot
    a1 = s * a0
    ln0 = float(np.round(np.log(a0), 9))
    ln1 = float(np.round(np.log(a1), 9))
    trans = float(np.round(gamma * np.log(m + 1.0), 9))

    def c0(x):
        return float(np.round(a0 * x - ln0, 9))

    def c1(x):
        return float(np.round(a1 * x - ln1, 9))

    d0 = float(np.round(c0(gaps[0]), 9))
    d1 = float(np.round(trans + c1(gaps[0]), 9))
    ptr = []
    for x in gaps[1:]:
        from0_0 = d0 <= d1
        from0_1 = (d0 + trans) <= d1
        nd0 = float(np.round((d0 if from0_0 else d1) + c0(x), 9))
        nd1 = float(np.round((d0 + trans if from0_1 else d1) + c1(x), 9))
        ptr.append((0 if from0_0 else 1, 0 if from0_1 else 1))
        d0, d1 = nd0, nd1
    st = 0 if d0 <= d1 else 1
    rev = [st]
    for t in range(m - 1, 0, -1):
        st = ptr[t - 1][st]
        rev.append(st)
    return rev[::-1]


def materialize_burst_oracle(
    sf_dir: str, n_hosts: int = 20, s: float = 2.0, gamma: float = 1.0
) -> tuple[str, str]:
    """Group events by host = 'u' || (user_id % n_hosts), run
    ref_burst_states per host, and write two parquet files:
    (host, idx, state) for every gap and (host, n_events, n_gaps)
    for every host. Cached on events.parquet's content digest."""
    os.makedirs(CACHE_DIR, exist_ok=True)
    src = os.path.join(sf_dir, "events.parquet")
    key = _cache_key(sf_dir, f"burst_{n_hosts}_{s!r}_{gamma!r}", table="events")
    states_path = os.path.join(CACHE_DIR, key + "_states.parquet")
    hosts_path = os.path.join(CACHE_DIR, key + "_hosts.parquet")
    if os.path.exists(states_path) and os.path.exists(hosts_path):
        return states_path, hosts_path
    tbl = pq.read_table(src, columns=["user_id", "ts"])
    users = tbl.column("user_id").to_pylist()
    # timestamp[us] → epoch-µs ints (pyarrow value semantics)
    tss = tbl.column("ts").cast("int64").to_pylist()
    per_host: dict[str, list[int]] = {}
    for u, t in zip(users, tss):
        per_host.setdefault(f"u{u % n_hosts}", []).append(t)
    s_hosts, s_idx, s_state = [], [], []
    h_hosts, h_nev, h_ngap = [], [], []
    for host in sorted(per_host):
        ts_list = per_host[host]
        states = ref_burst_states(ts_list, s=s, gamma=gamma)
        h_hosts.append(host)
        h_nev.append(len(ts_list))
        h_ngap.append(max(len(ts_list) - 1, 0))
        for i, stv in enumerate(states):
            s_hosts.append(host)
            s_idx.append(i)
            s_state.append(stv)
    pq.write_table(
        pa.table(
            {
                "host": pa.array(s_hosts, type=pa.string()),
                "idx": pa.array(s_idx, type=pa.int64()),
                "state": pa.array(s_state, type=pa.int64()),
            }
        ),
        states_path + ".tmp",
    )
    os.replace(states_path + ".tmp", states_path)
    pq.write_table(
        pa.table(
            {
                "host": pa.array(h_hosts, type=pa.string()),
                "n_events": pa.array(h_nev, type=pa.int64()),
                "n_gaps": pa.array(h_ngap, type=pa.int64()),
            }
        ),
        hosts_path + ".tmp",
    )
    os.replace(hosts_path + ".tmp", hosts_path)
    return states_path, hosts_path
