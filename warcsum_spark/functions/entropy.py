"""T66 — entropy and compressibility quality signals.

Low-entropy text is repeated junk (keyword stuffing, padding, template
noise); very-high-entropy "text" is base64 blobs, minified code, or
binary sneaking through extraction. Both tails are standard kill rules
in web-corpus quality batteries (alongside T13's Gopher rules), and the
compression ratio is the classic cheap proxy for the same signal —
CCNet/RefinedWeb-style pipelines gate on one or both.

Two tiers, same stance as functions/html.py:

* **expression tier (oracle-able, zero Python)** — Shannon entropy over
  a FIXED 37-symbol alphabet (a-z, 0-9, space) of the lowercased
  non-alphanumeric-collapsed text. Per-symbol counts are the tagging.py
  replace-arithmetic (exact integers on any engine); the entropy sum is
  a LITERAL 37-term expression chain in fixed symbol order, so both
  engines evaluate the identical left-associated float additions — no
  aggregation-order nondeterminism can exist (the lm_score.py float
  lesson: round to 6 at output only, and keep the operand ORDER pinned
  by construction, not by sort). The normalized string is materialized
  ONCE per row (the tagging.py CSE lesson) and the counts reference it.
* **Arrow tier (the full-fidelity scale path, pytest-pinned)** — 256-bin
  byte entropy via numpy bincount over the UTF-8 encoding, and the
  zlib compression ratio (level 6). DuckDB has neither a byte
  histogram nor zlib, so this tier is certified by pytest against the
  expression tier (restricted inputs) and a pure-Python reference.

Both tiers are map-only: zero exchanges, streams under Structured
Streaming unchanged (stateless projection).

No reference counterpart (warcsum has no text-quality operators);
formulas are textbook (Shannon 1948).
"""

from __future__ import annotations

import math
import zlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: fixed symbol order — the entropy sum is emitted in EXACTLY this
#: order on both engines (space last; listed first here would make the
#: generated SQL harder to eyeball)
ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def _norm(text: Column) -> Column:
    """lowercase, collapse non-alphanumeric runs to one space, trim —
    the exact normalization tagging.py proved engine-identical."""
    s = F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " ")
    return F.regexp_replace(s, r"^ +| +$", "")


def with_char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """(id..., entropy, n_symbols, distinct_symbols) — map-only; the
    normalized string is its own projection so the 37 counters share
    one regex pass (CollapseProject keeps non-cheap multi-referenced
    producers materialized).

    The 37-term sum is built as ONE SQL expression string per output
    column (selectExpr) rather than ~450 chained Column operations:
    each Column op is a py4j round trip, and the Column form spent
    ~0.7 s of DRIVER time per query build (measured; the parsed
    expression tree is identical, outputs bit-equal)."""
    ids = id_cols if id_cols is not None else [
        c for c in df.columns if c != text_col
    ]
    normed = df.select(*ids, _norm(F.col(text_col)).alias("__norm"))
    terms = []
    distinct = []
    for sym in ALPHABET:
        lit = "' '" if sym == " " else f"'{sym}'"
        c = f"(length(__norm) - length(replace(__norm, {lit}, '')))"
        p = f"(CAST({c} AS DOUBLE) / CAST(length(__norm) AS DOUBLE))"
        terms.append(f"CASE WHEN {c} > 0 THEN -{p} * log2({p}) ELSE 0.0D END")
        distinct.append(f"CASE WHEN {c} > 0 THEN 1 ELSE 0 END")
    ent = " + ".join(terms)
    dct = " + ".join(distinct)
    id_exprs = [f"`{i}`" for i in ids]
    return normed.selectExpr(
        *id_exprs,
        f"CASE WHEN length(__norm) > 0 THEN round({ent}, 6) "
        "ELSE 0.0D END AS entropy",
        "CAST(length(__norm) AS BIGINT) AS n_symbols",
        f"CAST(CASE WHEN length(__norm) > 0 THEN {dct} ELSE 0 END "
        "AS BIGINT) AS distinct_symbols",
    )


def entropy_oracle_sql(
    docs_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """The identical expressions for DuckDB, generated from the same
    alphabet in the same order."""
    norm = (
        f"trim(regexp_replace(lower({text_col}), '[^a-z0-9]+', ' ', 'g'))"
    )
    terms = []
    distinct = []
    for sym in ALPHABET:
        lit = "' '" if sym == " " else f"'{sym}'"
        c = f"(length(n) - length(replace(n, {lit}, '')))"
        p = f"(CAST({c} AS DOUBLE) / CAST(length(n) AS DOUBLE))"
        terms.append(
            f"CASE WHEN {c} > 0 THEN -{p} * log2({p}) ELSE 0.0 END"
        )
        distinct.append(f"CASE WHEN {c} > 0 THEN 1 ELSE 0 END")
    ent = " + ".join(terms)
    dcount = " + ".join(distinct)
    return f"""
WITH nrm AS (SELECT {id_col} AS doc_id, {norm} AS n FROM {docs_table})
SELECT doc_id,
       CASE WHEN length(n) > 0 THEN round({ent}, 6) ELSE 0.0 END AS entropy,
       CAST(length(n) AS BIGINT) AS n_symbols,
       CAST(CASE WHEN length(n) > 0 THEN {dcount} ELSE 0 END AS BIGINT)
         AS distinct_symbols
FROM nrm
"""


# ---------------------------------------------------------------- Arrow tier


@F.pandas_udf(T.DoubleType())
def byte_entropy(text: pd.Series) -> pd.Series:
    """256-bin Shannon entropy of the UTF-8 encoding — the
    full-fidelity junk/binary detector (base64 ≈ 6 bits, English ≈ 4.1,
    padding ≈ 0). Arrow-batched; null/empty → null."""
    import numpy as np

    out = []
    for t in text:
        if t is None or len(t) == 0:
            out.append(None)
            continue
        b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        cnt = np.bincount(b, minlength=256).astype(np.float64)
        p = cnt[cnt > 0] / float(b.size)
        out.append(float(-(p * np.log2(p)).sum()))
    return pd.Series(out, dtype="float64")


@F.pandas_udf(T.DoubleType())
def compress_ratio(text: pd.Series) -> pd.Series:
    """zlib(level 6) compressed/raw byte ratio — < ~0.3 is template or
    repeated junk, > ~0.9 is already-compressed/encoded payload.
    Arrow-batched; null/empty → null."""
    out = []
    for t in text:
        if t is None or len(t) == 0:
            out.append(None)
            continue
        raw = t.encode("utf-8")
        out.append(round(len(zlib.compress(raw, 6)) / len(raw), 6))
    return pd.Series(out, dtype="float64")


def ref_char_entropy(text: str) -> float:
    """Pure-Python reference for the expression tier (tests)."""
    import re

    n = re.sub(r"^ +| +$", "", re.sub(r"[^a-z0-9]+", " ", text.lower()))
    if not n:
        return 0.0
    total = len(n)
    h = 0.0
    for sym in ALPHABET:
        c = n.count(sym)
        if c > 0:
            p = c / total
            h += -p * math.log2(p)
    return round(h, 6)
