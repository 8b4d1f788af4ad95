"""Text-analysis column functions for training-data pipelines: token
counting, quality scoring, language ID, fingerprinting.

Everything here is pure JVM expression (codegen'd, no Python workers) except
the winnowing fingerprint, which is an Arrow UDF. Each function is designed
to be reproducible in ANSI SQL (DuckDB) for the driver's correctness gate —
e.g. marker-word counting uses ``replace``-length arithmetic, identical in
both engines, instead of engine-specific regex classes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def token_count(text: Column) -> Column:
    """Whitespace tokenization; empty/blank → 0."""
    t = F.trim(text)
    return F.when(t == "", 0).otherwise(F.size(F.split(t, r"\s+")))


def word_count_approx_bpe(text: Column) -> Column:
    """BPE-ish subword estimate: each whitespace word of length L costs
    ceil(L/6) subword units (a cheap, deterministic stand-in for a real
    tokenizer — used for token budgeting at corpus scale).

    Computed as ``regexp_count(text, '\\S{1,6}')``: greedy matching chunks
    each maximal non-whitespace run of length L into exactly ceil(L/6)
    matches, so the count IS the sum — one codegen'd JVM regex pass instead
    of split + a higher-order ``aggregate`` fold, which Catalyst evaluates
    interpreted per array element (measured ~25x slower at sf0.1)."""
    unit = F.regexp_count(text, F.lit(r"\S{1,6}")).cast("long")
    return F.when(F.trim(text) == "", F.lit(0).cast("long")).otherwise(unit)


def _count_occurrences(text: Column, marker: str) -> Column:
    """Occurrences of a literal substring via replace-length arithmetic —
    bit-identical semantics in Spark and DuckDB."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(marker), F.lit(""))))
        / F.lit(len(marker))
    ).cast("int")


# marker stopwords per language (padded with spaces → whole-word matches)
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to "],
    "fr": [" le ", " la ", " et ", " les "],
    "de": [" der ", " die ", " und ", " das "],
    "es": [" el ", " de ", " que ", " los "],
}


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-hit score per language over ' '+lower(text)+' '."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return {
        lang: sum(_count_occurrences(padded, mk) for mk in markers)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language by marker score; ties broken by language code ASC;
    all-zero → 'und'.

    NOTE: inlining this builds an expression tree that duplicates every
    marker-count subtree per comparison level; prefer ``with_lang_id`` on
    hot paths, which stages each score as a column once."""
    scores = lang_scores(text)
    return _argmax_lang({k: v for k, v in scores.items()})


def _argmax_lang(scores: dict[str, Column]) -> Column:
    best = None
    for lang in sorted(scores):  # ASC order makes '>' ties resolve to first
        s = scores[lang]
        if best is None:
            best = (s, F.lit(lang))
        else:
            best = (
                F.when(s > best[0], s).otherwise(best[0]),
                F.when(s > best[0], F.lit(lang)).otherwise(best[1]),
            )
    score, lang = best
    return F.when(score <= 0, F.lit("und")).otherwise(lang)


def with_lang_id(df, text_col: str = "text", out_col: str = "lang_guess"):
    """Plan-friendly lang ID: each marker score is computed ONCE as a
    staged column (one projection), then the argmax chain references the
    staged columns — O(langs) expression size instead of O(2^langs)."""
    scores = lang_scores(F.col(text_col))
    staged = df.withColumns({f"_ls_{k}": v for k, v in scores.items()})
    lang = _argmax_lang({k: F.col(f"_ls_{k}") for k in scores})
    return staged.withColumn(out_col, lang).drop(*[f"_ls_{k}" for k in scores])


PUNCT_CHARS = ".,!?;:"
STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality signals (all SQL-reproducible):
    n_chars, n_tokens, punct_ratio, stopword_ratio, mean_token_len."""
    t = F.trim(text)
    n_chars = F.length(text)
    n_tokens = token_count(text)
    punct = sum(_count_occurrences(text, ch) for ch in PUNCT_CHARS)
    padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    stop_hits = sum(_count_occurrences(padded, f" {w} ") for w in STOPWORDS)
    nz = F.when(n_tokens > 0, n_tokens.cast("double")).otherwise(F.lit(None))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.round(punct / F.greatest(n_chars, F.lit(1)).cast("double"), 6),
        "stopword_ratio": F.round(F.coalesce(stop_hits / nz, F.lit(0.0)), 6),
        "mean_token_len": F.round(
            F.coalesce(
                (F.length(F.regexp_replace(t, r"\s+", "")).cast("double")) / nz,
                F.lit(0.0),
            ),
            6,
        ),
    }


def md5_fingerprint(text: Column, n_hex: int = 16) -> Column:
    """Exact-content fingerprint: md5 prefix (SQL-reproducible)."""
    return F.substring(F.md5(F.encode(text, "UTF-8")), 1, n_hex)


_WINNOW_B = 131
_WINNOW_K = 8
_WINNOW_W = 4


def _winnow_scalar(s: str | None) -> list[int] | None:
    """Executable spec for the winnowing fingerprint (Schleimer/Wilkerson/
    Aiken, SIGMOD'03): polynomial k-gram hashes mod 2^64, window minima
    (leftmost tie) kept, consecutive re-selections deduped. The vectorized
    kernel below must match this byte-for-byte (property-tested)."""
    k, w, b = _WINNOW_K, _WINNOW_W, _WINNOW_B
    if s is None:
        return None
    data = s.encode("utf-8", "replace")
    n = len(data)
    if n < k:
        return []
    mask = (1 << 64) - 1
    hashes = []
    for i in range(n - k + 1):
        h = 0
        for t in range(k):
            h = (h * b + data[i + t]) & mask
        hashes.append(h)
    to_signed = lambda v: v - (1 << 64) if v >= (1 << 63) else v  # noqa: E731
    if len(hashes) <= w:
        return [to_signed(min(hashes))]
    out, prev = [], -1
    for i in range(len(hashes) - w + 1):
        j = i + min(range(w), key=lambda t: (hashes[i + t], t))
        if j != prev:
            out.append(to_signed(hashes[j]))
            prev = j
    return out


@F.pandas_udf(T.ArrayType(T.LongType()))
def winnow_fingerprint(text: pd.Series) -> pd.Series:
    """Winnowing document fingerprint, vectorized (same output as
    ``_winnow_scalar``): the k-gram polynomial hash is k wrapping uint64
    multiply-adds over shifted byte views (mod 2^64 — numpy-native, vs the
    former per-byte Python rolling loop mod 2^61-1), and the window minima
    come from a strided sliding-window argmin. ~100× on MB-sized docs."""
    k, w = _WINNOW_K, _WINNOW_W
    bpow = [np.uint64(pow(_WINNOW_B, j, 1 << 64)) for j in range(k)]

    def fp(s):
        if s is None:
            return None
        data = s.encode("utf-8", "replace")
        n = len(data)
        if n < k:
            return []
        arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
        m = n - k + 1
        hashes = np.zeros(m, dtype=np.uint64)
        for t in range(k):  # h[i] = Σ arr[i+t]·B^(k-1-t), wrapping uint64
            hashes += arr[t : t + m] * bpow[k - 1 - t]
        if m <= w:
            return [int(hashes.min().astype(np.int64))]
        # windowed argmin as w-1 compare/where passes (leftmost tie: strict
        # <) — ~7× faster than argmin over a strided sliding_window_view
        nwin = m - w + 1
        best = hashes[:nwin].copy()
        bidx = np.zeros(nwin, dtype=np.int64)
        for t in range(1, w):
            cand = hashes[t : t + nwin]
            mask = cand < best
            best[mask] = cand[mask]
            bidx[mask] = t
        j = np.arange(nwin) + bidx
        keep = np.empty(nwin, dtype=bool)
        keep[0] = True
        np.not_equal(j[1:], j[:-1], out=keep[1:])
        return hashes[j[keep]].astype(np.int64)

    return text.map(fp)
