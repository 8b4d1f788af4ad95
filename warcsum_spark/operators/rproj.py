"""T98 — sparse random projection for embeddings (Achlioptas, JCSS
2003, "Database-friendly random projections": entries √3·{+1, 0, −1}
with probabilities {1/6, 2/3, 1/6} satisfy the Johnson–Lindenstrauss
lemma with a 3× sparser, multiplication-free matrix; the projection
y = Rx/√d_out approximately preserves norms and pairwise distances).

Why the engine wants it: every embedding-side operator here — ANN
(T2), SemDedup (T54), near-dup (T1), drift (T68) — costs O(dim) per
comparison. At web scale the standard first move is to project
1536-dim model embeddings down to 64–256 dims ONCE and run the
pipeline there; JL guarantees the distance distortion envelope. This
operator is that move, with the distortion measured per vector.

Pinned, engine-portable semantics (bit-exact BY CONSTRUCTION, one
step past the LSH oracle's matmul-agreement argument):

* the matrix is deterministic — entry (i, j) comes from the first
  byte of ``md5("rp:{seed}:{i}:{j}")`` mod 6 (0 → +1, 1 → −1, else 0),
  scaled by √3/√dim_out; generated ONCE driver-side and inlined as
  literals into BOTH engines (the _planes/_oracle_ann_lsh precedent,
  shared function, no RNG);
* each output coordinate is a SEQUENTIAL left fold
  ``aggregate(zip_with(x, R_j, (a,b) → a·b), 0.0, +)`` — the same
  index-order float additions DuckDB's list arithmetic performs, so
  the engines agree bit-for-bit at every intermediate, not just
  within a rounding grid; coordinates rounded to 6 at output;
* ``norm_in``/``norm_out`` are the same sequential folds over
  squares; ``distortion = norm_out / norm_in`` (JL says ≈ 1), one
  pinned division, rounded to 6; zero vectors → NULL distortion.

Plan shape at 100 TB: map-only, zero exchanges, zero Python — dim_out
higher-order expressions inside whole-stage codegen; streams under
Structured Streaming unchanged. (A numpy/Arrow batch-matmul tier in
the similarity.py style would win constants for dim_out in the
thousands; at the 16–256 dims this is for, codegen is already JVM-
vectorized and keeps the oracle exact.)

No reference counterpart; the construction is the published one.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rp_matrix(
    dim_in: int, dim_out: int, seed: int = 42
) -> list[list[float]]:
    """dim_out rows of dim_in scaled {+c, 0, −c} entries, c = √3/√dim_out
    — deterministic from md5, shared verbatim by both engines."""
    c = math.sqrt(3.0) / math.sqrt(float(dim_out))
    rows = []
    for j in range(dim_out):
        row = []
        for i in range(dim_in):
            b = hashlib.md5(f"rp:{seed}:{i}:{j}".encode()).digest()[0] % 6
            row.append(c if b == 0 else (-c if b == 1 else 0.0))
        rows.append(row)
    return rows


def _dot_sql(vec_col: str, weights: list[float]) -> str:
    """Sequential left-fold dot product of ``vec_col`` against a literal
    vector — index-order float additions, identical to DuckDB list
    arithmetic — as ONE SQL expression string: the equivalent Column form
    (``F.aggregate`` over ``F.zip_with``) costs ~1000 py4j round trips per
    query build (dim_in literals × dim_out coordinates — ~0.6 s of driver
    time measured); the parsed tree and the float fold order are
    identical."""
    arr = "array(" + ", ".join(f"{v!r}D" for v in weights) + ")"
    return (
        f"aggregate(zip_with(`{vec_col}`, {arr}, (a, b) -> "
        "CAST(a AS DOUBLE) * b), 0.0D, (acc, v) -> acc + v)"
    )


def _sq_sql(col: str) -> str:
    return (
        f"aggregate(transform(`{col}`, a -> CAST(a AS DOUBLE) * "
        "CAST(a AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def project(
    emb: DataFrame,
    dim_in: int,
    dim_out: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, proj array<double>): the JL projection, coordinates
    rounded to 6. Map-only, Python-free."""
    R = rp_matrix(dim_in, dim_out, seed)
    coords = ", ".join(
        f"round({_dot_sql(vec_col, R[j])}, 6)" for j in range(dim_out)
    )
    return emb.selectExpr(f"`{id_col}`", f"array({coords}) AS proj")


def rp_report(
    emb: DataFrame,
    dim_in: int,
    dim_out: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, dim_in, dim_out, norm_in, norm_out, distortion) — the
    per-vector JL distortion audit (flat scalars; the array form lives
    in ``project``)."""
    proj = project(emb, dim_in, dim_out, seed, id_col, vec_col)
    joined = emb.select(
        F.col(id_col), F.col(vec_col).alias("_x")
    ).join(proj, id_col)
    nin = f"sqrt({_sq_sql('_x')})"
    nout = f"sqrt({_sq_sql('proj')})"
    return joined.selectExpr(
        f"`{id_col}`",
        f"{int(dim_in)} AS dim_in",
        f"{int(dim_out)} AS dim_out",
        f"round({nin}, 6) AS norm_in",
        f"round({nout}, 6) AS norm_out",
        f"CASE WHEN {nin} > 0 THEN round({nout} / {nin}, 6) END"
        " AS distortion",
    )


def _lit_list(vals: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in vals) + "]"


def rp_report_sql(
    emb_sql: str,
    dim_in: int,
    dim_out: int = 16,
    seed: int = 42,
) -> str:
    """The IDENTICAL report for DuckDB — the same inlined matrix, the
    same sequential list folds (list_dot_product/list arithmetic walk
    in index order, matching the Spark folds bit-for-bit). ``emb_sql``
    selects (vec_id, embedding)."""
    R = rp_matrix(dim_in, dim_out, seed)
    coords = ", ".join(
        f"round(list_dot_product(e, {_lit_list(R[j])}), 6)"
        for j in range(dim_out)
    )
    return f"""
WITH src AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM ({emb_sql})
), p AS (
  SELECT vec_id, e, [{coords}] AS proj FROM src
), n AS (
  SELECT vec_id,
    sqrt(list_aggregate(list_transform(e, v -> v * v), 'sum'))
      AS nin,
    sqrt(list_aggregate(list_transform(proj, v -> v * v), 'sum'))
      AS nout
  FROM p
)
SELECT vec_id, {dim_in} AS dim_in, {dim_out} AS dim_out,
  round(nin, 6) AS norm_in, round(nout, 6) AS norm_out,
  CASE WHEN nin > 0 THEN round(nout / nin, 6) END AS distortion
FROM n
"""
