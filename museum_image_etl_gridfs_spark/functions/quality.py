"""The engine's one whitespace tokenizer, and the C4/Gopher-style
per-document quality heuristics built on it (word-count bounds, mean
word length, alphabetic-word fraction, stopwords, repeated n-grams).
All are JVM expressions, so they stay inside whole-stage codegen, and
each has an exact DuckDB rendering that the oracle gate checks.

**The tokenizer rule**, written once in three forms that agree on every
input: :func:`words` (Spark column), :func:`words_sql` (DuckDB SQL over
a text expression) and :func:`words_py` (Python, for the Arrow/pandas
kernels). Every tokenizer, whitespace normalizer and Python kernel in
the package uses them.

- Whitespace is the ASCII class ``[ \\t\\n\\x0b\\f\\r]`` and nothing
  else. Java's ``\\s`` is exactly this class, but RE2's leaves out
  ``\\x0b`` and Python's ``str.split()`` also splits on NBSP,
  ``\\x1c``-``\\x1f``, ``\\x85`` and U+2003, so every form spells it out.
- A token is a maximal run of non-whitespace. NULL, ``''`` and
  all-whitespace text give ``[]``; no token is ever empty.
- Case folding is one named step applied before tokenizing, in the same
  three forms (:func:`fold_case` and its ``_sql``/``_py`` twins): ASCII
  ``A``-``Z`` become ``a``-``z`` and every other character passes through
  unchanged. The engines' ``lower`` disagree beyond ASCII (DuckDB gives
  ``σ`` for a word-final ``Σ`` and ``i`` for ``İ``; Spark and Python
  give ``ς`` and ``i̇``), so no form uses it.

Derived forms keep their own rules on top: a document with 1 to k-1
tokens has one k-shingle, its tokens joined, and one with no token has
none (``operators/dedup``); a fingerprint hashes the tokens joined by
one space (``functions/text``); a "solid" character count
(:func:`solid_len`) removes the same class.
"""

from __future__ import annotations

import re
import string

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Gopher-style stopword list: ``quality_flags`` keeps a document that
#: contains at least one of these.
STOPWORDS: tuple[str, ...] = ("the", "be", "to", "of", "and", "that", "have", "with")

#: the whitespace class
_WS = " \t\n\x0b\f\r"
#: one or more :data:`_WS` characters, as a regex that Java, RE2 and
#: Python read alike (DuckDB string literals keep backslashes as typed)
_WS_RUN = "[ \\t\\n\\x0b\\f\\r]+"
_WS_RUN_RE = re.compile(_WS_RUN)
_FOLD = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def words(text: Column | str) -> Column:
    """Whitespace tokens of ``text`` (module docstring); NULL/blank -> []."""
    t = F.btrim(F.coalesce(_col(text), F.lit("")), F.lit(_WS))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, _WS_RUN)
    )


def words_sql(text: str) -> str:
    """DuckDB form of :func:`words` over the SQL expression ``text``."""
    split = f"regexp_split_to_array(coalesce({text}, ''), '{_WS_RUN}')"
    return f"list_filter({split}, tok -> tok <> '')"


def words_py(text: str | None) -> list[str]:
    """Python form of :func:`words`."""
    t = (text or "").strip(_WS)
    return _WS_RUN_RE.split(t) if t else []


def fold_case(text: Column | str) -> Column:
    """ASCII case fold: ``A``-``Z`` -> ``a``-``z``, all else unchanged."""
    return F.translate(_col(text), string.ascii_uppercase, string.ascii_lowercase)


def fold_case_sql(text: str) -> str:
    """DuckDB form of :func:`fold_case`."""
    return f"translate({text}, '{string.ascii_uppercase}', '{string.ascii_lowercase}')"


def fold_case_py(text: str | None) -> str | None:
    """Python form of :func:`fold_case`."""
    return None if text is None else text.translate(_FOLD)


def solid_len(text: Column | str) -> Column:
    """Character count of ``text`` without its whitespace; NULL -> 0."""
    return F.length(F.regexp_replace(F.coalesce(_col(text), F.lit("")), _WS_RUN, ""))


def solid_len_sql(text: str) -> str:
    """DuckDB form of :func:`solid_len`."""
    return f"length(regexp_replace(coalesce({text}, ''), '{_WS_RUN}', '', 'g'))"


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
    folded = F.transform(ws, fold_case)
    return F.size(F.array_intersect(folded, F.array(*[F.lit(s) for s in STOPWORDS])))


def hash_bucket(key: Column | str, buckets: int = 1000) -> Column:
    """Deterministic, engine-portable bucket in [0, buckets): first 8
    hex digits of md5(key) parsed as an integer, mod buckets.

    The primitive behind reproducible sampling/splits at 100 TB: no
    RNG state, no ordering dependence, stable under repartitioning,
    and any engine (DuckDB, Presto, pandas) can recompute it to audit
    which rows were kept. Complements operators/split.py (same idea,
    different field widths).
    """
    hex8 = F.substring(F.md5(_col(key).cast("string")), 1, 8)
    return (F.conv(hex8, 16, 10).cast("long") % buckets).cast("int")
