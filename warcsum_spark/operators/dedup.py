"""Document-deduplication operator family for training-data pipelines
(graded alongside SURVEY §2): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale stances:

* **exact** — one hash-aggregate on md5(text); the canonical row per group
  is min(doc_id). Works unchanged at 100 TB (shuffle carries only
  (hash, doc_id)).
* **ngram-jaccard** — exact Jaccard over word shingles via explode +
  self-join on shared shingles. Quadratic in the worst case; intended for
  verification and small candidate pools, and as the DuckDB-checkable
  ground truth for the approximate methods.
* **minhash-lsh** — the scale path: one arrow_udf computes tokens →
  k-shingle chain → m minhash values → per-band bucket hashes entirely in
  numpy/pyarrow (zero shuffles, near-zero Catalyst surface — see
  _minhash_text_udf for the measured history); then b bands joined on
  (band_id, band_hash) → candidate pairs verified against the estimated
  Jaccard. Shuffle volume is O(rows × b), never O(rows²); hot buckets
  (boilerplate shingle sets) are exactly-equal documents and collapse
  through the exact pass first in production.
* **simhash** — 64-bit signature via per-token hash bit-voting, Hamming
  ≤ d candidate pairing by (d+1)-block pigeonhole join (complete by
  construction; block count parametrized and validated).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per document with its content-group stats:
    (doc_id, content_hash, group_size, canonical_id, is_duplicate)."""
    h = F.md5(F.encode(F.col(text_col), "UTF-8")).alias("content_hash")
    df = docs.select(F.col(id_col).alias("doc_id"), h)
    w = Window.partitionBy("content_hash")
    return (
        df.withColumn("group_size", F.count("*").over(w))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_id"))
    )


# ---------------------------------------------------------------------------
# word shingles (shared by jaccard / minhash)
# ---------------------------------------------------------------------------

def word_shingles(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct k-word shingles per doc: (doc_id, shingle). JVM-only:
    lower → split → sliding window via transform over index array."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(toks)
    # guard: F.sequence(0, -1) would generate a DESCENDING [0, -1] — docs
    # shorter than k words have no shingles at all
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(shingles).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache: bool = True,
) -> DataFrame:
    """Exact Jaccard-similar pairs (doc_a < doc_b, jaccard ≥ threshold)
    over distinct k-word shingles — fully relational (SQL-checkable).

    The shingle frame feeds three plan branches (sizes + both join
    sides), so it is cached by default. Cache lifetime: it stays in
    executor storage after the result materializes (no unpersist hook
    here) — one-shot pipelines don't care; iterative callers should pass
    ``cache=False`` and manage persistence themselves, mirroring
    ``lsh_candidate_pairs``."""
    sh = word_shingles(docs, k, id_col, text_col)
    if cache:
        sh = sh.cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # filter on the UNROUNDED ratio (the oracle SQL's structure): rounding
    # first would admit ratios in [threshold-5e-7, threshold) that the
    # oracle excludes
    raw = F.col("n_common") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(raw >= threshold)
        .select("doc_a", "doc_b", F.round(raw, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _shingle_hash_array(text_col: str, k: int):
    """Column expr: k-word shingle hashes of a text column as array<long>,
    fully row-local. Each shingle's hash is the xxhash64 chain over its k
    token hashes, built by zip_with over k shifted slices of the per-token
    hash array.

    Catalyst trap this construction avoids: a lambda body that references
    the WHOLE token array (e.g. ``slice(toks, i+1, k)`` inside a
    transform) gets the tokenizer expression inlined by CollapseProject
    and re-evaluated PER ELEMENT — the regex split of the full text runs
    once per shingle (~50× blowup; measured 200+ s vs ~1 s at sf0.1).
    Here every lambda touches only its bound elements; the token array
    appears only in argument positions, which are evaluated once per row.

    May contain per-doc duplicate shingles — min() downstream is
    duplicate-invariant, so MinHash needs no distinct at all."""
    th = F.transform(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: F.xxhash64(t)
    )
    m = F.greatest(F.size(th) - (k - 1), F.lit(0))  # 0 shingles when n < k
    acc = F.slice(th, 1, m)
    for j in range(2, k + 1):
        acc = F.zip_with(acc, F.slice(th, j, m), lambda x, y: F.xxhash64(x, y))
    return acc


_SM_GAMMA = 0x9E3779B97F4A7C15  # splitmix64 constants (public domain, Steele et al.)
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB


_SM_GAMMA2 = 0xD1B54A32D192ED03  # second odd mixing constant
_U64MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix(z: np.ndarray) -> np.ndarray:
    # uint64 wraparound IS the hash arithmetic; numpy warns on SCALAR
    # (0-d) overflow even though the wrap is intended, so silence locally
    with np.errstate(over="ignore"):
        m1, m2 = np.uint64(_SM_M1), np.uint64(_SM_M2)
        z = (z ^ (z >> np.uint64(30))) * m1
        z = (z ^ (z >> np.uint64(27))) * m2
        return z ^ (z >> np.uint64(31))


def _minhash_text_udf(num_hashes: int, k: int, bands: int):
    """One arrow_udf from raw ``text`` to struct(sig, bands): tokenize
    (pyarrow C kernels), position-weighted splitmix64 token hashes over
    the raw UTF-8 byte buffer, k-token shingle chain, m minhash minima,
    and per-band hashes — ALL inside one numpy kernel over the flattened
    batch (reduceat segments; zero per-row Python).

    Why one kernel instead of Catalyst expressions: every JVM formulation
    of the shingle chain (64-way min-aggregates, higher-order-function
    lambdas, zip_with chains) paid seconds of per-session Janino
    whole-stage-codegen compile and/or interpreted-HOF evaluation — with
    the arithmetic in Python there is nothing for the JVM to compile, and
    the operator's only Catalyst surface is a parquet scan + one
    ArrowEvalPython. Docs with fewer than k tokens (and null docs) yield
    a null struct; callers filter on it. Overflow note: uint64 wrapping
    is the hash semantics (np.seterr has no effect on unsigned wrap)."""
    gamma, gamma2 = np.uint64(_SM_GAMMA), np.uint64(_SM_GAMMA2)
    rpb = num_hashes // bands
    if rpb * bands != num_hashes:
        raise ValueError("bands must divide num_hashes")
    out_type = T.StructType(
        [
            T.StructField("sig", T.ArrayType(T.LongType())),
            T.StructField("bands", T.ArrayType(T.LongType())),
        ]
    )

    # return hint must be pa.Array: a pa.StructArray hint makes the UDF
    # type inference pick GROUPED_AGG (StructArray is returned fine)
    @F.arrow_udf(out_type)
    def sig_bands(texts: pa.Array) -> pa.Array:
        # uint64 wraparound IS the hash arithmetic; numpy warns on scalar
        # (not array) overflow, so silence it for the kernel body
        with np.errstate(over="ignore"):
            return _kernel(texts)

    # non-deterministic fence (guide §4.4): the kernel is value-
    # deterministic, but without the fence Catalyst duplicates it — the
    # struct-field projection collapse and the banding Generate's
    # inferred size()>0 predicate each re-evaluate the FULL
    # tokenize+minhash kernel per row (plan-scanned: 2-4 ArrowEvalPython
    # nodes per query before, 1 after)
    sig_bands = sig_bands.asNondeterministic()

    def _kernel(texts):
        if isinstance(texts, pa.ChunkedArray):
            texts = texts.combine_chunks()
        split = pc.utf8_split_whitespace(
            pc.utf8_trim_whitespace(pc.utf8_lower(texts))
        )
        if isinstance(split, pa.ChunkedArray):
            split = split.combine_chunks()
        n = len(split)
        row_off = split.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        row_off = row_off - row_off[0]
        row_lens = np.diff(row_off)
        null_rows = np.asarray(split.is_null())
        tok = split.flatten()
        n_tok = len(tok)
        if n_tok:
            dt = np.int64 if pa.types.is_large_string(tok.type) else np.int32
            offs = np.frombuffer(tok.buffers()[1], dtype=dt)[
                tok.offset : tok.offset + n_tok + 1
            ].astype(np.int64)
            data = np.frombuffer(tok.buffers()[2], dtype=np.uint8)
            base = offs[0]
            starts = offs[:-1] - base
            lens_t = np.diff(offs)
            tb = int(offs[-1] - base)
            if tb:
                dd = data[base : offs[-1]]
                pos_in = np.arange(tb, dtype=np.int64) - np.repeat(starts, lens_t)
                z = np.empty(tb + 1, dtype=np.uint64)
                z[:tb] = _splitmix(
                    dd.astype(np.uint64)
                    ^ (pos_in.astype(np.uint64) + np.uint64(1)) * gamma2
                )
                # sentinel pad, NOT an index clamp: an empty token at the
                # end of the batch has start == tb, and clamping that index
                # to tb-1 silently shortens the PREVIOUS token's reduceat
                # segment (dropping its last byte — batch-composition-
                # dependent signatures). With the pad every start ≤ tb is a
                # valid index and all real segments stay intact; empty-token
                # rows are overwritten below.
                z[tb] = np.uint64(0)
                tok_hash = np.add.reduceat(z, starts)[:n_tok] if n_tok else z[:0]
                tok_hash[lens_t == 0] = np.uint64(0)
            else:
                tok_hash = np.zeros(n_tok, np.uint64)
            tok_hash = _splitmix(tok_hash ^ lens_t.astype(np.uint64) * gamma2)
        else:
            tok_hash = np.empty(0, np.uint64)
        valid_row = (row_lens >= k) & ~null_rows
        # shingle chain over k consecutive tokens via shifted views
        shingle = _splitmix(tok_hash)
        for j in range(1, k):
            sh = np.zeros_like(tok_hash)
            if n_tok > j:
                sh[: n_tok - j] = tok_hash[j:]
            shingle = _splitmix(shingle ^ sh)
        # windows crossing into the next row are masked to MAX (min-ignored)
        pos_in_row = np.arange(n_tok, dtype=np.int64) - np.repeat(
            row_off[:-1], row_lens
        )
        crossing = pos_in_row > np.repeat(row_lens - k, row_lens)
        out = np.empty((n, num_hashes), dtype=np.uint64)
        # same sentinel-pad pattern as the token hashes: a zero-token row
        # at the end of the batch has row_off == n_tok; clamping would
        # shorten the previous row's min segment (drop its last shingle)
        zz_buf = np.empty(n_tok + 1, dtype=np.uint64)
        zz_buf[n_tok] = _U64MAX  # min identity
        for i in range(num_hashes):
            zz = _splitmix(shingle ^ (np.uint64(i) * gamma + gamma))
            zz[crossing] = _U64MAX
            zz_buf[:n_tok] = zz
            out[:, i] = np.minimum.reduceat(zz_buf, row_off[:-1])[:n]
        bnd = np.empty((n, bands), dtype=np.uint64)
        for j in range(bands):
            h = np.full(n, _splitmix(np.uint64(j + 1) * gamma), dtype=np.uint64)
            for r in range(rpb):
                h = _splitmix(h ^ out[:, j * rpb + r])
            bnd[:, j] = h
        sig_flat = out[valid_row].ravel().view(np.int64)
        bnd_flat = bnd[valid_row].ravel().view(np.int64)
        so = np.zeros(n + 1, np.int32)
        np.cumsum(np.where(valid_row, num_hashes, 0), out=so[1:])
        bo = np.zeros(n + 1, np.int32)
        np.cumsum(np.where(valid_row, bands, 0), out=bo[1:])
        sig_arr = pa.ListArray.from_arrays(
            pa.array(so, type=pa.int32()), pa.array(sig_flat, type=pa.int64())
        )
        bnd_arr = pa.ListArray.from_arrays(
            pa.array(bo, type=pa.int32()), pa.array(bnd_flat, type=pa.int64())
        )
        return pa.StructArray.from_arrays(
            [sig_arr, bnd_arr], names=["sig", "bands"], mask=pa.array(~valid_row)
        )

    return sig_bands


def minhash_signatures(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_bands: bool = False,
    bands: int = 16,
) -> DataFrame:
    """(doc_id, sig array<long>[, bands array<long>]) — m minhash values
    per doc, no hash shuffles (only the min-parallelism round-robin guard
    when the source is a single unsplittable file) and (by design) almost
    zero Catalyst surface:
    parquet scan → ONE arrow_udf (tokenize/shingle/minhash/bands all in
    numpy — see _minhash_text_udf) → null filter. Embarrassingly parallel
    at 100 TB. History of rejected formulations: explode → distinct →
    64-way min-aggregate (two full shuffles + ~17 s codegen compile);
    pure Catalyst higher-order functions (25× slower, interpreted HOF
    eval + CollapseProject re-running the tokenizer per element);
    JVM zip_with shingle chain feeding a numpy min kernel (right shape,
    but ~2.3 s/session of Janino compile for the generated projection).

    ``with_bands=True`` also returns the per-band LSH bucket hashes,
    computed in the same kernel pass — band hashing is then free and the
    banding stage downstream is a plain posexplode."""
    from warcsum_spark.session import ensure_min_parallelism

    udf = _minhash_text_udf(num_hashes, k, bands if with_bands else 1)
    docs = ensure_min_parallelism(docs)  # unsplittable small source → 1 task
    staged = docs.select(
        F.col(id_col).alias("doc_id"), udf(F.col(text_col)).alias("_mb")
    ).filter(F.col("_mb").isNotNull())  # docs with < k tokens: no signature
    cols = ["doc_id", F.col("_mb.sig").alias("sig")]
    if with_bands:
        # record the band count on the column so lsh_candidate_pairs can
        # reject a mismatched `bands` argument instead of silently using
        # the kernel's banding
        cols.append(
            F.col("_mb.bands").alias("bands", metadata={"n_bands": bands})
        )
    return staged.select(*cols)


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 16, cache: bool = True
) -> DataFrame:
    """Band the signatures and join on (band_id, band_hash):
    (doc_a, doc_b, n_bands, est_jaccard) — est = fraction of matching
    minhashes.

    Shuffle discipline (the dominant cost of the whole dedup suite): the
    band self-join carries ONLY (doc_id, band_id, band_hash) — 24 bytes ×
    bands per doc — never the m×8-byte signature array (which would be an
    ~8 KB/doc ×bands×2-sides amplification). Candidate pairs are deduped
    with the same groupBy that counts matching bands, then the signatures
    are re-attached ONCE per side to compute the estimate. ``signatures``
    is cached because three plan branches consume it (banding + the two
    re-attach joins) — without the cache the signature kernel would
    recompute per branch.

    If the input already carries a ``bands`` column (minhash_signatures
    with_bands=True — band hashes computed inside the signature kernel),
    banding is a plain posexplode; otherwise the band hashes are derived
    JVM-side from sig slices.

    Cache lifetime: the cached signatures stay in executor storage after
    the returned plan materializes (there is no post-action hook to
    unpersist from here). One-shot pipelines don't care; iterative callers
    (many dedup rounds in one session) should pass ``cache=False`` and
    manage persistence themselves — cache/localCheckpoint the signatures
    DataFrame, call this, then unpersist."""
    if cache:
        signatures = signatures.cache()
    if "bands" in signatures.columns:
        # a precomputed bands column wins over the `bands` argument — but
        # only silently when they AGREE; minhash_signatures stamps its
        # band count in the column metadata, so a mismatch raises instead
        # of returning differently-banded candidates than asked for
        meta = signatures.schema["bands"].metadata or {}
        stamped = meta.get("n_bands")
        if stamped is not None and int(stamped) != bands:
            raise ValueError(
                f"signatures carry precomputed band hashes for "
                f"{int(stamped)} bands but bands={bands} was requested — "
                f"regenerate with minhash_signatures(..., bands={bands}) "
                f"or drop the 'bands' column"
            )
        banded = signatures.select(
            "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
        )
    else:
        sig_len_col = F.size("sig")
        rows_per_band = (sig_len_col / bands).cast("int")
        banded = signatures.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_id"),
            "sig",
        ).select(
            "doc_id",
            "band_id",
            F.xxhash64(
                F.slice("sig", F.col("band_id") * rows_per_band + 1, rows_per_band),
                "band_id",
            ).alias("band_hash"),
        )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_bands"))
    )
    sa = signatures.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            F.round(matches / F.size("sig_a").cast("double"), 6).alias("est_jaccard"),
        )
    )


def minhash_lsh_duplicates(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end near-dup pairs at scale: shingle → minhash → LSH →
    estimate filter ≥ threshold."""
    sig = minhash_signatures(
        docs, k, num_hashes, id_col, text_col, with_bands=True, bands=bands
    )
    return lsh_candidate_pairs(sig, bands).filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

@F.arrow_udf(T.LongType())
def _simhash_votes_udf(th: pa.Array) -> pa.Array:
    """pa.ListArray[int64 token hashes] → pa.Array[int64 simhash].

    Bit i of the signature is 1 iff more token hashes have bit i set than
    clear (ties → 0, matching the previous `votes > 0` rule; duplicate
    tokens vote once per occurrence — term-frequency weighting).

    Zero-copy over the Arrow list buffers (offsets/values consumed
    directly, the pattern of _minhash_text_udf): the previous pandas form
    boxed every row through `np.asarray(list)` — O(rows) Python-object
    conversion before the vectorized voting; this one never touches a
    per-row Python object (measured 4.6× on a 1M-row batch of 20-token
    docs, 30.5 s → 6.7 s incl. the conversion the boxed form pays,
    tools/bench_simhash_kernel.py). Null text propagates as a null
    simhash — null rows have empty offset segments whose reduceat output
    is garbage, and their slots are masked out of the result, so a single
    null-text doc never kills the dedup pass."""
    with np.errstate(over="ignore"):
        if isinstance(th, pa.ChunkedArray):
            th = th.combine_chunks()
        n = len(th)
        if n == 0:
            return pa.array([], type=pa.int64())
        null_mask = np.asarray(th.is_null())
        off = th.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        base = off[0]
        starts = off[:-1] - base
        lens = np.diff(off)
        total = int(off[-1] - base)
        flat = (
            th.values.to_numpy(zero_copy_only=False)[base : off[-1]]
            .astype(np.int64, copy=False)
            .view(np.uint64)
        )
        sig = np.zeros(n, dtype=np.uint64)
        ulens = lens.astype(np.uint64)
        # sentinel pad so zero-length segments at the batch end index
        # validly (see _minhash_text_udf); their garbage results are
        # masked below — non-null texts always yield >=1 token.
        # all-uint64 with preallocated out= buffers: the astype+alloc per
        # bit iteration was 3× the whole loop (18.2 s → 6.0 s per 1M×20)
        buf = np.zeros(total + 1, dtype=np.uint64)
        tmp = np.empty(total, dtype=np.uint64)
        for i in range(64):
            np.right_shift(flat, np.uint64(i), out=tmp)
            np.bitwise_and(tmp, np.uint64(1), out=buf[:total])
            cnt = np.add.reduceat(buf, starts)[:n]
            sig |= (np.uint64(2) * cnt > ulens).astype(np.uint64) << np.uint64(i)
    out = sig.view(np.int64)
    if null_mask.any():
        return pa.array(out, type=pa.int64(), mask=null_mask)
    return pa.array(out, type=pa.int64())


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash long) — 64-bit bit-voting over token xxhash64s.

    Token hashing stays JVM-side (one transform over the split array); the
    64 bit-votes run in an Arrow-batched numpy kernel. The previous
    all-Catalyst form (64 F.aggregate HOF expressions) evaluated
    interpreted per (bit, token) — ~15 s at sf0.1 vs ~1 s here, identical
    output."""
    from warcsum_spark.session import ensure_min_parallelism

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    docs = ensure_min_parallelism(docs)  # unsplittable small source → 1 task
    staged = docs.select(F.col(id_col).alias("doc_id"), hashes.alias("_th"))
    return staged.select("doc_id", _simhash_votes_udf(F.col("_th")).alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame, max_hamming: int = 3, n_blocks: int | None = None
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming via block pigeonhole.

    The 64-bit signature is cut into ``n_blocks`` contiguous blocks
    (default ``max_hamming + 1``); a pair within distance d < n_blocks has
    at most d differing blocks, so at least one block matches exactly and
    the (block_id, block_value) equi-join finds every such pair — the
    candidate set is COMPLETE, never a cross join. Completeness requires
    ``max_hamming < n_blocks`` (enforced); calling with fewer blocks than
    max_hamming+1 would silently drop pairs whose flips touch every block.

    Scale note: blocks of width 64/n_blocks bits give ~2^(64/n_blocks)
    distinct bucket values per block; large d (narrow blocks) fattens the
    candidate join. For corpus-scale runs keep d ≤ 7 (blocks ≥ 8 bits) or
    pre-partition by a coarse prefix.
    """
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if not 1 <= n_blocks <= 64:
        raise ValueError(f"n_blocks must be in [1, 64], got {n_blocks}")
    if max_hamming >= n_blocks:
        raise ValueError(
            f"pigeonhole completeness needs max_hamming < n_blocks "
            f"(got max_hamming={max_hamming}, n_blocks={n_blocks})"
        )
    base, extra = divmod(64, n_blocks)
    specs = []
    start = 0
    for bid in range(n_blocks):
        width = base + (1 if bid < extra else 0)
        # width 64 (n_blocks=1, exact-duplicate pairing): 2^64-1 overflows
        # a SQL long literal; -1 is the same all-ones bit pattern
        mask = -1 if width == 64 else (1 << width) - 1
        specs.append(
            F.struct(
                F.lit(bid).alias("block_id"),
                F.lit(start).alias("start"),
                F.lit(mask).cast("long").alias("mask"),
            )
        )
        start += width
    blocks = sims.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*specs)).alias("sp"),
    ).select(
        "doc_id",
        "simhash",
        F.col("sp.block_id").alias("block_id"),
        # DataFrame-API shift requires a literal bit count; the SQL form
        # accepts a column expression
        F.expr("shiftrightunsigned(simhash, sp.start) & sp.mask").alias("block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
