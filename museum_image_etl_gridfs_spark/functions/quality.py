"""Data-quality / filtering column functions for training-data curation.

The published curation pipelines (C4, Gopher, RefinedWeb) filter web
text with cheap per-document heuristics: word-count bounds, mean word
length, alphabetic-word fraction, stopword presence, and repeated
n-gram fractions. All of them are expressible as pure JVM expressions
(split / higher-order array functions / regexp), so they run inside
whole-stage codegen with zero Python in the hot path and scale
linearly with executors — exactly what you want for a 100 TB
first-pass filter where the filter itself must be cheaper than the
data motion.

Every function here has an exact DuckDB rendering (list_transform /
list_filter / list_distinct mirror Spark's transform / filter /
array_distinct), so the oracle gate verifies semantics bit-for-bit.

Extensions beyond the reference (no text analysis there; see
SURVEY.md §2.8 — its only string work is filename interpolation).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Gopher-style stopword list: ``quality_flags`` keeps a document that
#: contains at least one of these.
STOPWORDS: tuple[str, ...] = ("the", "be", "to", "of", "and", "that", "have", "with")

#: ASCII whitespace that :func:`words` strips from both ends before it
#: splits, so a tab or newline at an edge yields no empty token
_EDGE_WS = " \t\n\r\f"
#: the same set as a DuckDB string expression
_EDGE_WS_SQL = " || ".join(f"chr({ord(c)})" for c in _EDGE_WS)


def words(text: Column | str) -> Column:
    """Whitespace-split word array; NULL/blank -> empty array."""
    c = F.col(text) if isinstance(text, str) else text
    t = F.btrim(F.coalesce(c, F.lit("")), F.lit(_EDGE_WS))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def word_ngrams(ws: Column, n: int) -> Column:
    """Space-joined word n-grams (order preserved, duplicates kept).

    1-based index arithmetic chosen to mirror DuckDB exactly:
    ``list_transform(range(1, len(w) - n + 2), i -> w[i] || ' ' || ...)``.
    Empty when the doc has fewer than ``n`` words (guarded — Spark's
    ``sequence(1, 0)`` would count DOWN, not produce an empty array).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    size = F.size(ws)

    def gram(i: Column) -> Column:
        parts = [F.element_at(ws, (i + j).cast("int")) for j in range(n)]
        return F.concat_ws(" ", *parts)

    return F.when(size < n, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), size - n + 1), gram)
    )


def let_bound(expr: Column, body) -> Column:
    """LET-binding for Catalyst expressions: evaluate ``expr`` ONCE
    and hand it to ``body`` as a lambda-bound variable.

    Column references re-evaluate their whole subtree at every use —
    a non-trivial expression used k times costs k evaluations per row
    (the NOTES round-12 HOF lesson: only lambda-bound variables are
    free). ``transform`` over a one-element array evaluates its input
    exactly once and binds it; ``element_at(..., 1)`` unwraps. The
    price is one 1-element array per row — noise next to re-running a
    gram build.
    """
    return F.element_at(F.transform(F.array(expr), body), 1)


def dup_ngram_fraction(ws: Column, n: int) -> Column:
    """Fraction of word n-grams that are repeats of an earlier one:
    ``(total - distinct) / total``, 0.0 when no n-grams. The Gopher
    repetition filter (dup 2-gram / 3-gram char fraction, simplified
    to gram counts) — high values mean boilerplate or degenerate text.

    The gram array is let-bound (r12): the previous shape referenced
    ``word_ngrams(ws, n)`` three times (total, distinct, ratio), so
    every row built its full n-gram string array three times.
    """
    return let_bound(
        word_ngrams(ws, n),
        lambda grams: F.when(F.size(grams) <= 0, F.lit(0.0)).otherwise(
            (F.size(grams) - F.size(F.array_distinct(grams)))
            / F.size(grams).cast("double")
        ),
    )


def frac_alpha_words(ws: Column) -> Column:
    """Fraction of words containing at least one ASCII letter
    (C4 keeps only mostly-alphabetic text); 0.0 for empty docs."""
    total = F.size(ws)
    alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    return F.when(total <= 0, F.lit(0.0)).otherwise(alpha / total.cast("double"))


def stopword_hits(ws: Column) -> Column:
    """How many DISTINCT :data:`STOPWORDS` appear, case-insensitively
    (``quality_flags`` keeps a document with at least one)."""
    lowered = F.transform(ws, F.lower)
    return F.size(F.array_intersect(lowered, F.array(*[F.lit(s) for s in STOPWORDS])))


def hash_bucket(key: Column | str, buckets: int = 1000) -> Column:
    """Deterministic, engine-portable bucket in [0, buckets): first 8
    hex digits of md5(key) parsed as an integer, mod buckets.

    The primitive behind reproducible sampling/splits at 100 TB: no
    RNG state, no ordering dependence, stable under repartitioning,
    and any engine (DuckDB, Presto, pandas) can recompute it to audit
    which rows were kept. Complements operators/split.py (same idea,
    different field widths).
    """
    k = F.col(key) if isinstance(key, str) else key
    hex8 = F.substring(F.md5(k.cast("string")), 1, 8)
    return (F.conv(hex8, 16, 10).cast("long") % buckets).cast("int")


#: DuckDB mirror of :func:`words` over ``lower(text)`` — THE canonical
#: oracle rendering of the tokenizer. Every plans-module oracle must
#: use this single constant (importing it) rather than re-spelling the
#: CASE expression: a tokenizer change then propagates to every oracle
#: atomically instead of silently diverging per module.
WORDS_SQL_LOWER = (
    f"CASE WHEN trim(coalesce(text, ''), {_EDGE_WS_SQL}) = '' "
    "THEN CAST([] AS VARCHAR[]) "
    f"ELSE regexp_split_to_array(trim(lower(text), {_EDGE_WS_SQL}), '\\s+') END"
)
