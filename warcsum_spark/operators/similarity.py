"""Similarity search over an embedding column (array<float>).

* **brute-force cosine top-k** — the exactness baseline: query set ⋈
  corpus with the dot product as a JVM ``zip_with``/``aggregate``
  expression, top-k per query via window. Broadcast the (small) query
  side; the corpus is never shuffled. O(|Q|·N) compute but embarrassingly
  parallel and shuffle-free until the final top-k (k rows per query per
  partition after partial ranking).
* **LSH-bucketed ANN** — the scale path: random-hyperplane signatures
  (sign of dot with seeded Gaussian planes → n_bits-bit key), candidates
  share a bucket in ≥1 of n_tables independent tables; exact cosine is
  computed only within buckets. Recall tunes with n_tables/n_bits.

Plane generation is seeded and deterministic (no Date.now/Math.random in
any path); all ranking ties break on vec_id ASC for reproducibility.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Pure-Catalyst cosine (zip_with/aggregate). NOTE: higher-order
    functions evaluate interpreted per element (~400 µs/pair at dim 64
    measured) — use ``cosine_batch`` for any hot scoring path; this form
    is kept for contexts that must stay JVM-only."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _list_to_flat(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(flat float64 values, segment starts, segment lens) straight from
    the Arrow list buffers — no per-row Python boxing."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    base = off[0]
    flat = arr.values.to_numpy(zero_copy_only=False)[base : off[-1]].astype(
        np.float64, copy=False
    )
    return flat, off[:-1] - base, np.diff(off)


@F.arrow_udf(T.DoubleType())
def _cosine_batch_det(a: pa.Array, b: pa.Array) -> pa.Array:
    """Arrow-batched cosine: one numpy pass per batch instead of an
    interpreted HOF chain per row (~100× on candidate scoring). float64
    accumulation — same rounding behavior the DuckDB oracles
    (list_cosine_similarity on DOUBLE[]) exhibit at round(…, 6).

    Consumes the list offsets/values buffers directly (zero per-row
    boxing — the previous pandas form paid an `np.asarray(list)` per row,
    which is O(corpus) Python when the corpus side flows through here,
    not just a broadcast query set; measured 4.8× at 1M pairs × dim 64,
    36.0 s → 7.5 s incl. the conversion the boxed form pays,
    tools/bench_simhash_kernel.py). Both sides must be equal-length per
    row (validated); empty vectors score NaN, null inputs score null."""
    fa, sa, la = _list_to_flat(a)
    fb, sb, lb = _list_to_flat(b)
    n = len(la)
    if n == 0:
        return pa.array([], type=pa.float64())
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    if isinstance(b, pa.ChunkedArray):
        b = b.combine_chunks()
    null_mask = np.asarray(a.is_null()) | np.asarray(b.is_null())
    # a null slot's segment length is 0, so validate lengths only where
    # both sides are present — a one-sided null must yield the contract's
    # null score, not a batch-killing ValueError
    if not np.array_equal(la[~null_mask], lb[~null_mask]):
        raise ValueError("cosine_batch: per-row vector lengths differ")
    if null_mask.any():
        # re-align the flats: drop the PRESENT side's elements for rows
        # whose other side is null, so both sides have identical segment
        # shapes (null rows become empty segments, masked null below)
        fa = fa[np.repeat(~null_mask, la)]
        fb = fb[np.repeat(~null_mask, lb)]
        la = np.where(null_mask, 0, la)
        lb = la
        sa = np.zeros(n, dtype=np.int64)
        if n > 1:
            np.cumsum(la[:-1], out=sa[1:])
        sb = sa
    total = len(fa)
    dim = la[0] if n else 0
    if n and dim > 0 and np.all(la == dim) and np.all(lb == dim):
        # BOTH sides must be uniform: a null slot has segment length 0,
        # and reshaping the other side around it corrupts the batch —
        # null-bearing batches take the ragged path, which masks them
        # uniform-dim fast path (the embedding-table norm): contiguous
        # reshape + axis sums, ~3× over segmented reduceat at dim 64
        A = fa.reshape(n, dim)
        B = fb.reshape(n, dim)
        num = (A * B).sum(axis=1)
        den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
    else:
        # ragged rows: sentinel pad so empty/null segments at the batch
        # end index validly; their outputs are overwritten (NaN) or
        # masked (null) below
        buf = np.zeros(total + 1, dtype=np.float64)

        def seg_sum(x: np.ndarray) -> np.ndarray:
            buf[:total] = x
            return np.add.reduceat(buf, sa)[:n]

        num = seg_sum(fa * fb)
        den = np.sqrt(seg_sum(fa * fa)) * np.sqrt(seg_sum(fb * fb))
    with np.errstate(divide="ignore", invalid="ignore"):
        res = num / den
    res[la == 0] = np.nan
    if null_mask.any():
        return pa.array(res, type=pa.float64(), mask=null_mask)
    return pa.array(res, type=pa.float64())


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, score, rank) — exact cosine top-k per query.

    ``queries`` (query_id, embedding) is broadcast: the corpus scan stays
    partition-local; only k·|Q| rows per partition reach the rank shuffle.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec")
    ).join(F.broadcast(q))
    scored = scored.withColumn(
        "score", F.round(cosine_batch(F.col("_qvec"), F.col("_cvec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def _planes(dim: int, n_bits: int, table: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed + 1000 * table)
    return rng.randn(n_bits, dim).tolist()


def _all_sigs_udf(dim: int, n_bits: int, n_tables: int, seed: int = 42):
    """Arrow kernel: embedding → array<long> of all n_tables hyperplane
    signatures in ONE batch matmul (V @ P), replacing n_tables·n_bits
    interpreted zip_with/aggregate dot products per row. Same sign rule
    (bit set iff dot > 0) and the same seeded planes as ``_planes``."""
    planes = np.stack(
        [np.array(_planes(dim, n_bits, t, seed), dtype=np.float64) for t in range(n_tables)]
    )  # [n_tables, n_bits, dim]
    P = planes.reshape(n_tables * n_bits, dim).T  # [dim, n_tables*n_bits]
    weights = (1 << np.arange(n_bits, dtype=np.uint64))

    @F.arrow_udf(T.ArrayType(T.LongType()))
    def sigs(vecs: pa.Array) -> pa.Array:
        # buffer-native like cosine_batch: the corpus side flows through
        # here, so per-row np.asarray boxing would be O(corpus) Python
        flat, _starts, lens = _list_to_flat(vecs)
        n = len(lens)
        if n == 0:
            return pa.array([], type=pa.list_(pa.int64()))
        if not np.all(lens == dim):
            raise ValueError(
                f"lsh signatures need non-null dim-{dim} vectors; got row "
                f"lengths {np.unique(lens)!r}"
            )
        bits = (flat.reshape(n, dim) @ P) > 0  # [n, n_tables*n_bits]
        packed = (
            (bits.reshape(n, n_tables, n_bits) * weights).sum(axis=2).astype(np.int64)
        )
        return pa.ListArray.from_arrays(
            pa.array(
                np.arange(0, (n + 1) * n_tables, n_tables, dtype=np.int32),
                type=pa.int32(),
            ),
            pa.array(packed.ravel(), type=pa.int64()),
        )

    # §4.4 fence — see cosine_batch
    return sigs.asNondeterministic()


# guide §4.4 fence: value-deterministic kernel; without this a filter on
# a cosine-derived column is pushed below its projection and the kernel
# runs twice per candidate pair (embedding_near_dup plan: 2 nodes -> 1)
cosine_batch = _cosine_batch_det.asNondeterministic()


def _with_table_sigs(
    df: DataFrame, vec_inner: str, dim: int, n_bits: int, n_tables: int, seed: int
) -> DataFrame:
    """+ (table_id, sig) rows via the vectorized signature kernel."""
    sigged = df.withColumn(
        "_sigs", _all_sigs_udf(dim, n_bits, n_tables, seed)(F.col(vec_inner))
    )
    return sigged.select(
        *df.columns, F.posexplode("_sigs").alias("table_id", "sig")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int = 32,
    n_bits: int = 8,
    n_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (doc_a < doc_b, cosine ≥
    threshold) via hyperplane-LSH self-bucketing: exact cosine only within
    shared buckets, never a cross join. Near-dup embeddings (cos ≥ 0.95 →
    angle ≤ 18°) collide in ≥1 of n_tables with high probability."""
    base = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    buckets = _with_table_sigs(base, "_v", dim, n_bits, n_tables, seed)
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("b.vec_id").alias("doc_b"),
            F.col("a._v").alias("_va"),
            F.col("b._v").alias("_vb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        pairs.withColumn("cosine", F.round(cosine_batch(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 32,
    n_bits: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: exact scoring restricted to bucket-mates
    in any of ``n_tables`` hyperplane tables."""
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c_buckets = _with_table_sigs(c, "_cvec", dim, n_bits, n_tables, seed)
    q_buckets = _with_table_sigs(q, "_qvec", dim, n_bits, n_tables, seed)

    cands = (
        c_buckets.join(F.broadcast(q_buckets), ["table_id", "sig"])
        .select("query_id", "vec_id", "_qvec", "_cvec")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.withColumn("score", F.round(cosine_batch(F.col("_qvec"), F.col("_cvec")), 6))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    train_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Spherical k-means coarse quantizer, trained on a bounded sample
    (standard IVF practice — training reads ≤ ``train_size`` rows, never
    the full corpus). The sample is the ``train_size`` LOWEST ids —
    ``orderBy(id).limit(n)`` compiles to TakeOrdered (per-partition
    partial top-k, no full sort shuffle), and unlike a bare ``limit`` the
    resulting training set does not depend on partition scan order, so
    the quantizer is reproducible outside Spark (the DuckDB oracle
    regenerates identical centroids from the same parquet).
    Deterministic: seeded init, Lloyd iterations on L2-normalized
    vectors, empty clusters reseeded to the worst-assigned point.
    Returns [n_centroids, dim] unit-norm float64."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(train_size).collect()
    X = np.array([r[1] for r in rows], dtype=np.float64)
    return _kmeans_spherical(X, n_centroids, iters, seed)


def _kmeans_spherical(
    X: np.ndarray, n_centroids: int, iters: int = 8, seed: int = 42
) -> np.ndarray:
    """Pure-numpy spherical Lloyd on the given [n, dim] training matrix —
    shared by the Spark trainer and the oracle-side replication."""
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)].copy()
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        best = sims.max(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members) == 0:  # reseed to the globally worst-fit point
                C[c] = X[best.argmin()]
                best[best.argmin()] = 1.0
                continue
            m = members.sum(axis=0)
            C[c] = m / np.maximum(np.linalg.norm(m), 1e-12)
    return C


def _ivf_assign_udf(centroids: np.ndarray, n_probe: int):
    """embedding → array<int> of the n_probe nearest centroid ids (one
    batch matmul; centroids ride the closure — a few KB)."""
    Ct = centroids.T  # [dim, n_centroids]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        if n == 0:
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        sims = V @ Ct
        p = min(n_probe, sims.shape[1])
        # argsort desc, stable → deterministic probe order
        top = np.argsort(-sims, axis=1, kind="stable")[:, :p].astype(np.int32)
        return pd.Series(list(top))

    # §4.4 fence — see cosine_batch
    return assign.asNondeterministic()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF ANN top-k: corpus rows live in their nearest-centroid posting
    list (ONE int per row); each query probes its ``n_probe`` nearest
    lists and scores exact cosine only there. At 100 TB the posting-list
    assignment is a single pass, the centroid table is broadcast-sized by
    construction, and query cost is |Q|·(N·n_probe/n_centroids)."""
    C = train_ivf_centroids(
        corpus, n_centroids, train_size, seed=seed, vec_col=vec_col, id_col=id_col
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c_assigned = c.withColumn(
        "centroid_id", _ivf_assign_udf(C, 1)(F.col("_cvec")).getItem(0)
    )
    q_probed = q.select(
        "query_id",
        "_qvec",
        F.explode(_ivf_assign_udf(C, n_probe)(F.col("_qvec"))).alias("centroid_id"),
    )
    cands = c_assigned.join(F.broadcast(q_probed), "centroid_id").select(
        "query_id", "vec_id", "_qvec", "_cvec"
    )
    scored = cands.withColumn(
        "score", F.round(cosine_batch(F.col("_qvec"), F.col("_cvec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )
