"""Repetition-removal signals for training-data pipelines — the
Gopher repetition battery (Rae et al. 2021, §A1.1: duplicate line /
paragraph fractions, duplicate line/paragraph *character* fractions,
top n-gram character fraction, duplicated n-gram fraction) re-expressed
Spark-first.

Two tiers, chosen by what the computation actually needs:

* **Array tier (zero shuffle)** — every per-document signal that only
  needs multiset statistics of the document's own lines / paragraphs /
  n-grams (dup fractions, dup char fractions, dup n-gram fractions) is
  a pure JVM expression over ``split`` + ``array_distinct`` +
  ``aggregate``: it fuses into the scan's whole-stage codegen and never
  leaves the input partition. At 100 TB this is the difference between
  a map-only pass and a token-grain shuffle.
* **Frequency tier (one shuffle)** — the top-n-gram character fraction
  needs the per-document n-gram *mode*, which is a real frequency table:
  ``posexplode`` → ``groupBy(doc, n, ngram)`` → per-(doc, n) max. The
  shuffle key is (doc_id, n, ngram), so map-side partial aggregation
  collapses each document's repeats before the exchange — the shuffle
  carries at most the distinct-n-gram count, and repetitive documents
  (the ones this filter exists to catch) compress the most.

Engine-portability rules match functions/quality.py: the oracle
recomputes every signal in DuckDB from the same split/distinct/aggregate
primitives, so all expressions stay inside the RE2 ∩ java.util.regex
common subset and the Spark ↔ DuckDB list-function common subset.

Definitions (documented here because published implementations differ):

* lines = ``\\n``-separated, whitespace-only lines dropped; paragraphs =
  ``\\n{2,}``-separated, whitespace-only paragraphs dropped.
* dup_*_frac       = 1 - distinct/total over the unit multiset.
* dup_*_char_frac  = chars in occurrences after the first of each
  distinct unit / total unit chars (i.e. re-counting a unit's length
  once per *extra* occurrence).
* top_{n}gram_char_frac = (mode count × mode n-gram word-chars) /
  total word-chars, clamped to 1.0 (overlapping occurrences overcount),
  words from the quality.py whitespace-normalized projection; count
  ties broken to the lexicographically LARGEST n-gram (struct-max).
* dup_{n}gram_frac = 1 - distinct/total over the n-gram multiset (the
  character-coverage variant in the paper needs per-position overlap
  bookkeeping that buys little at filter time).

All ratio signals are null for documents with no units (0/0); the rule
booleans coalesce null to *pass* (an empty document has no repetition —
the length rules in functions/quality.py are what reject it).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Gopher §A1.1 table A2 thresholds.
DEFAULT_REPETITION_BOUNDS = {
    "max_dup_line_frac": 0.30,
    "max_dup_para_frac": 0.30,
    "max_dup_line_char_frac": 0.20,
    "max_dup_para_char_frac": 0.20,
    "max_top_ngram_char_frac": {2: 0.20, 3: 0.18, 4: 0.16},
    "max_dup_ngram_frac": {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10},
}

PARA_SPLIT_RE = "\n{2,}"

# non-whitespace somewhere in the unit; explicit class, see quality.WS_CLASS
_NONBLANK_RE = "[^ \t\n\x0b\f\r]"


def _units(text: Column, sep_regex: str) -> Column:
    """Split ``text`` on ``sep_regex`` and drop whitespace-only units."""
    return F.filter(
        F.split(text, sep_regex), lambda x: x.rlike(_NONBLANK_RE)
    )


def _norm_words(text: Column) -> Column:
    """Word array from the quality.py whitespace-normalized projection
    (token boundaries defined once, shared with the quality battery)."""
    from warcsum_spark.functions.quality import _norm

    norm = _norm(text)
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def _dup_fracs(units: Column, prefix: str) -> dict[str, Column]:
    """dup fraction + dup char fraction for a unit array (lines or
    paragraphs). Pure JVM; see module docstring for the definitions."""
    n = F.size(units)
    nd = F.when(n == 0, None).otherwise(n.cast("double"))
    total_chars = F.aggregate(
        units, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    distinct_chars = F.aggregate(
        F.array_distinct(units), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    tcd = F.when(total_chars == 0, None).otherwise(total_chars.cast("double"))
    return {
        f"dup_{prefix}_frac": (n - F.size(F.array_distinct(units))) / nd,
        f"dup_{prefix}_char_frac": (total_chars - distinct_chars) / tcd,
    }


def _ngram_array(words: Column, n: int) -> Column:
    """Word n-grams as space-joined strings, [] when fewer than n words.
    The < n guard matters: ``sequence(1, 0)`` is a DESCENDING sequence
    in Spark ([1, 0]), not empty, and slice rejects start 0."""
    return F.when(
        F.size(words) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def stage_repetition_units(
    df: DataFrame, text_col: str = "text", ns: tuple[int, ...] | None = None
) -> DataFrame:
    """+ ``_rep_lines``, ``_rep_paras``, ``_rep_words`` and ``_rep_g{n}``
    (n-gram arrays) as REAL columns, each built once per row.

    This staging is the performance contract of the whole battery:
    higher-order array functions run INTERPRETED (they disable
    whole-stage codegen and get no common-subexpression elimination),
    so an expression like ``(size(g) - size(array_distinct(g))) /
    size(g)`` with ``g`` spelled out inline rebuilds the n-gram array —
    and the regex-normalize + split chain under it — once per
    REFERENCE, and ``slice`` inside a transform lambda re-evaluates its
    target per ELEMENT. Measured at sf0.1 (5000 × 300-char docs): the
    inline form costs ~17 s per dup-n-gram measure; the staged form
    runs the full battery in well under a second. CollapseProject will
    not inline a multi-referenced non-trivial alias, so the staged
    columns stay materialized-per-row."""
    staged = df.withColumns(
        {
            "_rep_lines": _units(F.col(text_col), "\n"),
            "_rep_paras": _units(F.col(text_col), PARA_SPLIT_RE),
            "_rep_words": _norm_words(F.col(text_col)),
        }
    )
    if ns is None:
        ns = sorted(
            set(DEFAULT_REPETITION_BOUNDS["max_dup_ngram_frac"])
            | set(DEFAULT_REPETITION_BOUNDS["max_top_ngram_char_frac"])
        )
    return staged.withColumns(
        {f"_rep_g{n}": _ngram_array(F.col("_rep_words"), n) for n in sorted(ns)}
    )


def repetition_measures_staged(
    dup_ns=tuple(DEFAULT_REPETITION_BOUNDS["max_dup_ngram_frac"]),
) -> dict[str, Column]:
    """The zero-shuffle tier over stage_repetition_units() columns."""
    out: dict[str, Column] = {}
    out.update(_dup_fracs(F.col("_rep_lines"), "line"))
    out.update(_dup_fracs(F.col("_rep_paras"), "para"))
    for n in dup_ns:
        grams = F.col(f"_rep_g{n}")
        sz = F.size(grams)
        szd = F.when(sz == 0, None).otherwise(sz.cast("double"))
        out[f"dup_{n}gram_frac"] = (sz - F.size(F.array_distinct(grams))) / szd
    return out


def line_repetition_measures(text: Column) -> dict[str, Column]:
    """Convenience inline form of the zero-shuffle tier (expressions
    over a raw text column). CORRECTNESS-equal to the staged form but
    rebuilds units per reference — fine for a handful of measures or
    small rows; the battery (with_repetition_signals) uses
    stage_repetition_units(), see its docstring for why."""
    out: dict[str, Column] = {}
    out.update(_dup_fracs(_units(text, "\n"), "line"))
    out.update(_dup_fracs(_units(text, PARA_SPLIT_RE), "para"))
    words = _norm_words(text)
    for n in DEFAULT_REPETITION_BOUNDS["max_dup_ngram_frac"]:
        grams = _ngram_array(words, n)
        sz = F.size(grams)
        szd = F.when(sz == 0, None).otherwise(sz.cast("double"))
        out[f"dup_{n}gram_frac"] = (sz - F.size(F.array_distinct(grams))) / szd
    return out


def top_ngram_char_fracs(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """The one-shuffle tier: per-document top-n-gram character fraction
    for each n in ``ns``, as (doc_col, top_{n}gram_char_frac...).

    ONE posexplode over a stacked (n, ngram) array serves every n, so
    the plan has a single exchange keyed (doc, n, ngram) with map-side
    partial aggregation, then a per-(doc, n) max + conditional-agg
    pivot back to one row per document. Documents with no n-grams for
    some n simply lack that (doc, n) group; the caller's left join
    leaves the fraction null there.

    Accepts a frame already staged by stage_repetition_units() (the
    ``_rep_*`` columns are reused); otherwise stages internally.
    """
    needed = {"_rep_words", *(f"_rep_g{n}" for n in ns)}
    if not needed <= set(df.columns):
        # restage from scratch: a frame staged with a DIFFERENT ns set
        # has _rep_words but not every _rep_g{n} this call needs
        df = stage_repetition_units(
            df.drop(*[c for c in df.columns if c.startswith("_rep_")]),
            text_col,
            tuple(ns),
        )
    word_chars = F.aggregate(
        F.col("_rep_words"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    # NB: the tag lambda must take ONE argument — F.transform feeds the
    # element index to a second parameter, which would silently replace a
    # `n=n` default with the position.
    def _tagged(n: int) -> Column:
        return F.transform(
            F.col(f"_rep_g{n}"),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("ngram")),
        )

    stacked = F.flatten(F.array(*[_tagged(n) for n in ns]))
    exploded = df.select(
        F.col(doc_col), word_chars.alias("_word_chars"), F.explode(stacked).alias("g")
    ).select(doc_col, "_word_chars", F.col("g.n").alias("n"), F.col("g.ngram").alias("ngram"))

    counts = exploded.groupBy(doc_col, "_word_chars", "n", "ngram").agg(
        F.count("*").alias("cnt")
    )
    # per-(doc, n) mode with deterministic tie-break: max on (cnt, ngram)
    # packed in a struct — no window, one partial-aggregable max.
    mode = counts.groupBy(doc_col, "_word_chars", "n").agg(
        F.max(F.struct(F.col("cnt"), F.col("ngram").alias("ngram"))).alias("top")
    )
    # least(..., 1.0): overlapping occurrences (e.g. "x y x y x y") make
    # count × chars overcount the covered characters past 100%; clamp so
    # the signal stays a fraction.
    frac = F.least(
        F.col("top.cnt")
        * (F.length("top.ngram") - (F.col("n") - 1))
        / F.when(F.col("_word_chars") == 0, None).otherwise(
            F.col("_word_chars").cast("double")
        ),
        F.lit(1.0),
    )
    pivoted = (
        mode.withColumn("_frac", frac)
        .groupBy(doc_col)
        .agg(
            *[
                F.max(F.when(F.col("n") == n, F.col("_frac"))).alias(
                    f"top_{n}gram_char_frac"
                )
                for n in ns
            ]
        )
    )
    return pivoted


def _top_ngram_kernel(ns: tuple[int, ...]):
    """Arrow-batched kernel for the top-n-gram character fractions —
    the mode of a document's n-grams is a function of that document
    ALONE, so the relational form (posexplode → two groupBys → join
    back) pays a token-grain exchange for something a map-side kernel
    computes locally.

    Interior is flattened-buffer vectorized (the dedup.py minhash-kernel
    pattern) and never materializes an n-gram string: the words
    ListArray is flattened ONCE and dictionary-encoded (pyarrow C), the
    distinct-token dictionary is ranked by string order, and each n's
    per-document modes come from ONE integer sort of packed
    (doc, rank...) keys plus a numpy run-length scan — no per-document
    Python lists, no per-document ``np.unique``, no batch-wide string
    sort or join.

    Correct joined-string order from token ranks: the mode tie-break
    (and ``np.unique``'s order in the oracle) is on the space-JOINED
    n-gram string. Tokens contain no whitespace (they come from a
    whitespace split), so ``t + " "`` is a prefix of ``s + " "`` only
    when ``t == s`` — comparing joined strings position-wise is decided
    entirely by the first differing token, compared WITH the trailing
    separator. Hence non-final positions use the rank of ``t + " "``
    and the final position the bare rank of ``t`` (the two orders
    differ exactly when one token extends another with a control char
    below 0x20, which the oracle's string compare resolves the other
    way). Key equality ⟺ identical token-id sequence in the same doc,
    so run grouping is exact, not hash-based. Tie-break matches the
    relational form and the oracle exactly: among max-count n-grams the
    lexicographically LARGEST wins — the LAST run in ascending order,
    taken via the composite count·M+run-index max."""
    from pyspark.sql import types as T

    fields = [
        T.StructField(f"top_{n}gram_char_frac", T.DoubleType()) for n in ns
    ]

    @F.arrow_udf(T.StructType(fields))
    def kernel(words: pa.Array) -> pa.Array:
        if isinstance(words, pa.ChunkedArray):
            words = words.combine_chunks()
        nrows = len(words)
        row_off = words.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        row_off = row_off - row_off[0]
        row_lens = np.diff(row_off)
        null_rows = np.asarray(words.is_null())
        row_lens = np.where(null_rows, 0, row_lens)
        tok = words.flatten()
        # per-row word chars (Python len == code points == utf8_length)
        tok_chars = pc.utf8_length(tok).to_numpy(zero_copy_only=False).astype(np.int64)
        ccum = np.concatenate([[0], np.cumsum(tok_chars)])
        wc = ccum[row_off[1:]] - ccum[row_off[:-1]]
        wc = np.where(null_rows, 0, wc)

        # shared across ns: token ids + string-order ranks of the
        # (small) distinct-token dictionary, sep-augmented and bare
        n_tok = len(tok)
        if n_tok:
            enc = tok.dictionary_encode()
            ids = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            vocab = enc.dictionary
            u = len(vocab)
            r_bare = np.empty(u, dtype=np.int64)
            r_bare[pc.sort_indices(vocab).to_numpy().astype(np.int64)] = np.arange(u)
            r_sp = np.empty(u, dtype=np.int64)
            vocab_sp = pc.binary_join_element_wise(vocab, "", " ")
            r_sp[pc.sort_indices(vocab_sp).to_numpy().astype(np.int64)] = np.arange(u)
        else:
            ids = np.empty(0, dtype=np.int64)
            u = 0
        rank_bits = max(1, (u - 1).bit_length() if u > 1 else 1)
        seg_bits = max(1, (nrows - 1).bit_length() if nrows > 1 else 1)

        cols = []
        for n in ns:
            cnt = np.maximum(row_lens - (n - 1), 0)
            total = int(cnt.sum())
            frac = np.full(nrows, np.nan)
            if total:
                seg = np.repeat(np.arange(nrows, dtype=np.int64), cnt)
                first = np.cumsum(cnt) - cnt
                pos = np.arange(total, dtype=np.int64) - np.repeat(first, cnt)
                idx0 = np.repeat(row_off[:-1], cnt) + pos
                keys = [
                    (r_sp if j < n - 1 else r_bare)[ids[idx0 + j]]
                    for j in range(n)
                ]
                # pack (seg, k0..k_{n-1}) most-significant-first into as
                # few int64 words as fit: 1 word → one sort, 2 words →
                # two-key lexsort; only a pathological vocab×n falls to
                # the full multi-key lexsort
                sort_fields = [seg] + keys
                widths = [seg_bits] + [rank_bits] * n

                def _pack(fs, ws):
                    out = np.zeros(total, dtype=np.int64)
                    shift = sum(ws)
                    for f_, w_ in zip(fs, ws):
                        shift -= w_
                        out |= f_ << np.int64(shift)
                    return out

                m, acc = 0, 0
                while m < len(sort_fields) and acc + widths[m] <= 63:
                    acc += widths[m]
                    m += 1
                if m == len(sort_fields):
                    packed = _pack(sort_fields, widths)
                    order = np.argsort(packed, kind="stable")
                    ps = packed[order]
                    same = ps[1:] == ps[:-1]
                elif sum(widths[m:]) <= 63:
                    hi = _pack(sort_fields[:m], widths[:m])
                    lo = _pack(sort_fields[m:], widths[m:])
                    order = np.lexsort((lo, hi))
                    hs, ls = hi[order], lo[order]
                    same = (hs[1:] == hs[:-1]) & (ls[1:] == ls[:-1])
                else:
                    order = np.lexsort(tuple(reversed(keys)) + (seg,))
                    same = (
                        np.ones(total - 1, dtype=bool)
                        if total > 1
                        else np.empty(0, bool)
                    )
                    for arr in sort_fields:
                        s_ = arr[order]
                        same &= s_[1:] == s_[:-1]
                seg_s = seg[order]
                new_run = np.empty(total, dtype=bool)
                new_run[0] = True
                if total > 1:
                    new_run[1:] = ~same
                run_start = np.flatnonzero(new_run)
                run_len = np.diff(np.append(run_start, total))
                run_seg = seg_s[run_start]
                n_runs = len(run_start)
                # max over (count, run-order) per segment in one reduceat:
                # later runs hold lexicographically larger n-grams, so the
                # composite key's index term IS the tie-break
                key = run_len * np.int64(n_runs + 1) + np.arange(
                    n_runs, dtype=np.int64
                )
                seg_first = np.flatnonzero(
                    np.r_[True, run_seg[1:] != run_seg[:-1]]
                )
                best = np.maximum.reduceat(key, seg_first)
                best_run = best % np.int64(n_runs + 1)
                top_cnt = best // np.int64(n_runs + 1)
                # mode word chars = token-char sum over any occurrence of
                # the winning run's n-gram (== len(joined) - (n-1))
                mode_i0 = idx0[order[run_start[best_run]]]
                mode_chars = ccum[mode_i0 + n] - ccum[mode_i0]
                rows = run_seg[seg_first]
                wcr = wc[rows]
                with np.errstate(divide="ignore", invalid="ignore"):
                    f = np.minimum(top_cnt * mode_chars / wcr, 1.0)
                frac[rows] = np.where(wcr == 0, np.nan, f)
            # null where no n-gram exists or the document has no chars
            frac[(cnt == 0) | (wc == 0)] = np.nan
            cols.append(pa.array(frac, type=pa.float64(), from_pandas=True))
        return pa.StructArray.from_arrays(cols, names=[f.name for f in fields])

    return kernel


def with_repetition_signals(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    bounds: dict | None = None,
    keep_col: str = "keep_repetition",
    top_tier: str = "kernel",
) -> DataFrame:
    """Full battery: measured values + per-family rule booleans + the
    composite ``keep_repetition``. Null measures pass their rules (see
    module docstring).

    ``top_tier="kernel"`` (default) computes the top-n-gram fractions
    with the Arrow per-row kernel — the WHOLE battery is then map-only,
    zero exchanges. ``top_tier="relational"`` keeps the
    posexplode/groupBy form (useful where Python workers are banned);
    results are identical (equality is pinned in tests)."""
    from warcsum_spark.session import ensure_min_parallelism

    b = dict(DEFAULT_REPETITION_BOUNDS, **(bounds or {}))
    df = ensure_min_parallelism(df)  # unsplittable small source → 1 task
    ns = tuple(b["max_top_ngram_char_frac"])
    if top_tier == "kernel":
        need_ns = tuple(sorted(b["max_dup_ngram_frac"]))
    else:
        need_ns = tuple(sorted(set(b["max_dup_ngram_frac"]) | set(ns)))
    units = stage_repetition_units(df, text_col, need_ns)
    staged = units.withColumns(
        repetition_measures_staged(tuple(b["max_dup_ngram_frac"]))
    )
    if top_tier == "kernel":
        staged = staged.withColumn("_top", _top_ngram_kernel(ns)(F.col("_rep_words")))
        staged = staged.withColumns(
            {f"top_{n}gram_char_frac": F.col(f"_top.top_{n}gram_char_frac") for n in ns}
        ).drop("_top")
        staged = staged.drop(*[c for c in staged.columns if c.startswith("_rep_")])
    else:
        staged = staged.drop(*[c for c in units.columns if c.startswith("_rep_")])
        top = top_ngram_char_fracs(units, doc_col, text_col, ns)
        staged = staged.join(top, on=doc_col, how="left")

    def ok(cond: Column) -> Column:
        return F.coalesce(cond, F.lit(True))

    rules = {
        "rule_dup_lines": ok(F.col("dup_line_frac") <= b["max_dup_line_frac"]),
        "rule_dup_paras": ok(F.col("dup_para_frac") <= b["max_dup_para_frac"]),
        "rule_dup_line_chars": ok(
            F.col("dup_line_char_frac") <= b["max_dup_line_char_frac"]
        ),
        "rule_dup_para_chars": ok(
            F.col("dup_para_char_frac") <= b["max_dup_para_char_frac"]
        ),
    }
    for n, t in b["max_top_ngram_char_frac"].items():
        rules[f"rule_top_{n}gram"] = ok(F.col(f"top_{n}gram_char_frac") <= t)
    for n, t in b["max_dup_ngram_frac"].items():
        rules[f"rule_dup_{n}gram"] = ok(F.col(f"dup_{n}gram_frac") <= t)
    out = staged.withColumns(rules)
    keep = None
    for r in rules:
        keep = F.col(r) if keep is None else keep & F.col(r)
    return out.withColumn(keep_col, keep)
