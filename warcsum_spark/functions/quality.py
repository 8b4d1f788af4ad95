"""Document-level quality filtering for training-data pipelines —
Gopher-style rule battery (Rae et al. 2021, "Scaling Language Models",
§A1.1 heuristics) as pure JVM expressions, engine-portable by
construction so the driver's DuckDB oracle can recompute every rule:

* literal-substring counts use replace-length arithmetic
  (functions/text.py::_count_occurrences — identical in both engines);
* regex counts use patterns restricted to the RE2 ∩ java.util.regex
  common subset (explicit char classes, ``(?m)`` multiline, no
  lookaround, no \\s class — Java's includes \\x0b, RE2's does not);
* word statistics derive from a single whitespace-normalized projection
  so token boundaries are defined once.

Every rule is also returned as its measured value, not just the boolean —
at 100 TB you tune thresholds from the value distributions, then filter;
shipping only booleans would force a second scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warcsum_spark.functions.text import STOPWORDS, _count_occurrences

# explicit whitespace class: Java \s = [ \t\n\x0b\f\r], RE2 \s lacks \x0b
WS_CLASS = r"[ \t\n\x0b\f\r]"

DEFAULT_BOUNDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stopword_hits": 2,
}

BULLET_LINE_RE = r"(?m)^[ \t]*[-*•]"
ELLIPSIS_LINE_RE = r"(?m)\.\.\.$"
# a word containing at least one ASCII letter, over ' '+norm (every token
# preceded by exactly one space after normalization)
ALPHA_WORD_RE = r" [^ ]*[A-Za-z]"


def _norm(text: Column) -> Column:
    """Whitespace-normalized text: runs → single space, ends trimmed.
    Token boundaries for ALL word rules come from this one projection."""
    return F.regexp_replace(
        F.regexp_replace(text, WS_CLASS + "+", " "), "^ | $", ""
    )


def quality_measures(text: Column) -> dict[str, Column]:
    """The measured quantities behind the rule battery, as named columns.
    All codegen'd JVM; see module docstring for the portability rules.
    Ratio measures are null for zero-word documents (0/0 has no answer);
    the rules coalesce null to fail."""
    norm = _norm(text)
    n_words = (
        F.when(norm == "", 0)
        .otherwise(_count_occurrences(norm, " ") + 1)
        .cast("long")
    )
    # CR-normalize the LINE-rule source: (?m) ^/$ anchor semantics differ
    # between java.util.regex (terminators include \r\n and lone \r) and
    # RE2 (\n only, the DuckDB oracle) — mapping \r\n and \r to \n first
    # makes both engines see identical line boundaries on CRLF/old-Mac
    # documents. \s itself was already avoided for the same reason.
    line_src = F.regexp_replace(text, "\r\n?", "\n")
    n_lines = (_count_occurrences(text, "\n") + 1).cast("long")
    nwd = F.when(n_words == 0, None).otherwise(n_words.cast("double"))
    nld = n_lines.cast("double")
    padded = F.concat(F.lit(" "), F.lower(norm), F.lit(" "))
    return {
        "n_words": n_words,
        "mean_word_len": (F.length(norm) - (n_words - 1)) / nwd,
        "symbol_word_ratio": (
            _count_occurrences(text, "#") + _count_occurrences(text, "...")
        )
        / nwd,
        "bullet_line_frac": F.regexp_count(line_src, F.lit(BULLET_LINE_RE)) / nld,
        "ellipsis_line_frac": F.regexp_count(line_src, F.lit(ELLIPSIS_LINE_RE)) / nld,
        "alpha_word_frac": (
            F.regexp_count(F.concat(F.lit(" "), norm), F.lit(ALPHA_WORD_RE)) / nwd
        ),
        "stopword_hits": sum(
            F.when(_count_occurrences(padded, f" {w} ") > 0, 1).otherwise(0)
            for w in STOPWORDS
        ).cast("int"),
    }


def rules_from_measures(
    m: dict[str, Column], bounds: dict | None = None
) -> dict[str, Column]:
    """Per-rule booleans over already-computed measure columns. Null
    measures (zero-word docs) fail their rules (coalesce False)."""
    b = dict(DEFAULT_BOUNDS, **(bounds or {}))

    def ok(cond: Column) -> Column:
        return F.coalesce(cond, F.lit(False))

    return {
        "rule_word_count": ok(
            (m["n_words"] >= b["min_words"]) & (m["n_words"] <= b["max_words"])
        ),
        "rule_mean_word_len": ok(
            (m["mean_word_len"] >= b["min_mean_word_len"])
            & (m["mean_word_len"] <= b["max_mean_word_len"])
        ),
        "rule_symbol_ratio": ok(
            m["symbol_word_ratio"] <= b["max_symbol_word_ratio"]
        ),
        "rule_bullet_lines": ok(m["bullet_line_frac"] <= b["max_bullet_line_frac"]),
        "rule_ellipsis_lines": ok(
            m["ellipsis_line_frac"] <= b["max_ellipsis_line_frac"]
        ),
        "rule_alpha_words": ok(m["alpha_word_frac"] >= b["min_alpha_word_frac"]),
        "rule_stopwords": ok(m["stopword_hits"] >= b["min_stopword_hits"]),
    }


def with_quality_rules(
    df: DataFrame,
    text_col: str = "text",
    bounds: dict | None = None,
    keep_col: str = "keep",
) -> DataFrame:
    """+ measured values, per-rule booleans, and the composite ``keep``
    (AND of all rules). Measures are staged as columns once so the rule
    expressions reference them instead of duplicating the regex trees
    (the with_lang_id staging pattern)."""
    measures = quality_measures(F.col(text_col))
    staged = df.withColumns({f"_qm_{k}": v for k, v in measures.items()})
    rules = rules_from_measures(
        {k: F.col(f"_qm_{k}") for k in measures}, bounds
    )
    out = staged.withColumns(rules)
    keep = None
    for r in rules:
        keep = F.col(r) if keep is None else keep & F.col(r)
    return out.withColumn(keep_col, keep).withColumnsRenamed(
        {f"_qm_{k}": k for k in measures}
    )


def quality_filter(
    df: DataFrame, text_col: str = "text", bounds: dict | None = None
) -> DataFrame:
    """The filter form: original columns, survivors only. One projection +
    one filter — fuses into the scan's whole-stage codegen; no shuffle."""
    marked = with_quality_rules(df, text_col, bounds)
    return marked.filter(F.col("keep")).select(*df.columns)
