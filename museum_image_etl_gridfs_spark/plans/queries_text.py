"""Text-analysis queries over ``documents`` (training-data pipeline).

Spark side uses the JVM-only expressions in ``functions.text``; every
oracle mirrors the formula exactly (same regexes, same division
semantics) so doubles come out bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import quality as Q
from ..functions import text as TX
from ..partitioning import spread
from .registry import query

# DuckDB mirrors of functions/text.py expressions (note the 'g' flag:
# DuckDB regexp_replace is first-match-only by default, Spark's is global).
_SQL_TOKENS = f"CAST(len({Q.words_sql('text')}) AS INTEGER)"
_SQL_CHARS = "CAST(coalesce(length(text), 0) AS INTEGER)"
_SQL_PUNCT = (
    "CAST(length(coalesce(text,'')) - "
    "length(regexp_replace(coalesce(text,''), '[.!?,;:]', '', 'g')) AS INTEGER)"
)


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           {_SQL_TOKENS}      AS n_tokens,
           {_SQL_CHARS}       AS n_chars_obs,
           {_SQL_PUNCT}       AS n_punct,
           {TX.fingerprint_sql('text')} AS fingerprint
    FROM documents
    """,
    tags=("text", "extension"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char/punct counts + md5 content fingerprint — all
    whole-stage-codegen expressions, zero Python in the hot path."""
    docs = load(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.char_count("text").alias("n_chars_obs"),
        TX.punct_count("text").cast("int").alias("n_punct"),
        TX.fingerprint("text").alias("fingerprint"),
    )


_SQL_QUALITY = """
    CAST(least(greatest(
        0.4 * (CASE WHEN mtl >= 3 AND mtl <= 12 THEN 1.0 ELSE 0.0 END)
      + 0.3 * (CASE WHEN punct_density <= 0.2 THEN 1.0 ELSE 0.0 END)
      - 0.2 * digit_ratio
      - 0.1 * upper_ratio
      + 0.3, 0.0), 1.0) AS DOUBLE)
"""


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id, {_SQL_QUALITY} AS quality
    FROM (
        SELECT doc_id,
               CASE WHEN toks = 0 THEN CAST(0.0 AS DOUBLE) ELSE solid / toks END AS mtl,
               punct / n AS punct_density,
               CASE WHEN length(t) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE (length(t) - length(regexp_replace(t, '[0-9]', '', 'g')))
                         / length(t) END AS digit_ratio,
               CASE WHEN length(t) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE (length(t) - length(regexp_replace(t, '[A-Z]', '', 'g')))
                         / length(t) END AS upper_ratio
        FROM (
            SELECT doc_id,
                   coalesce(text, '') AS t,
                   greatest(length(coalesce(text,'')), 1) AS n,
                   length(coalesce(text,''))
                     - length(regexp_replace(coalesce(text,''), '[.!?,;:]', '', 'g')) AS punct,
                   {_SQL_TOKENS} AS toks,
                   {Q.solid_len_sql('text')} AS solid
            FROM documents
        )
    )
    """,
    tags=("text", "extension"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score in [0,1] — identical arithmetic both
    engines, so the doubles hash-match without tolerance."""
    docs = load(spark, "documents", sf_dir)
    return docs.select("doc_id", TX.quality_score("text").alias("quality"))


def _lang_oracle() -> str:
    """DuckDB mirror of ``functions/text.lang_guess``: the case-folded
    ``words_sql`` tokenization once, then marker equality counts per
    language over punctuation-btrimmed tokens (same token form as the
    Spark side — no per-marker regex rescans of the document; ADVICE
    r9: edge punctuation no longer hides markers)."""
    # PUNCT_CHARS as a DuckDB single-quoted literal ('' escapes ')
    punct_sql = "'" + TX.PUNCT_CHARS.replace("'", "''") + "'"
    score_exprs = []
    for lang, words in TX.LANG_MARKERS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        score_exprs.append(
            f"len(list_filter(w, x -> trim(x, {punct_sql}) IN ({inlist})))"
            f" AS s_{lang}"
        )
    scores_sql = ",\n               ".join(score_exprs)
    langs = list(TX.LANG_MARKERS)
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    whens = "\n             ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs
    )
    return f"""
    SELECT doc_id,
           CASE WHEN best <= 0 THEN 'und'
             {whens}
             ELSE 'und' END AS lang_guess
    FROM (
        SELECT doc_id, {best} AS best, s_{', s_'.join(langs)}
        FROM (
            SELECT doc_id,
               {scores_sql}
            FROM (SELECT doc_id, {Q.words_sql(Q.fold_case_sql('text'))} AS w
                  FROM documents)
        )
    )
    """


@query("lang_id", oracle=_lang_oracle(), tags=("text", "extension"))
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language heuristic (argmax over marker counts,
    first-language-wins ties, 'und' when no markers hit).

    spread() first: the marker scoring is ~40 interpreted-HOF list
    filters per doc — by far the heaviest per-row projection in the
    text family (13.5 s single-task at sf1 on the one-file fixture,
    measured r12) — and must track cores, not input splits.
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    return docs.select("doc_id", TX.lang_guess("text").alias("lang_guess"))


@query(
    "token_length_histogram",
    oracle=f"""
    SELECT CAST((tokens // 20) * 20 AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (SELECT {_SQL_TOKENS} AS tokens FROM documents)
    GROUP BY bucket
    """,
    tags=("text", "agg", "extension"),
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of token counts in width-20 buckets."""
    docs = load(spark, "documents", sf_dir)
    return (
        docs.select(
            (F.floor(TX.token_count("text") / 20) * 20).cast("int").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_confusion_oracle() -> str:
    inner = _lang_oracle().strip()
    return f"""
    WITH g AS ({inner})
    SELECT d.lang AS labeled, g.lang_guess AS predicted,
           CAST(count(*) AS BIGINT) AS n
    FROM documents d JOIN g USING (doc_id)
    GROUP BY labeled, predicted
    """


@query(
    "lang_confusion_matrix",
    oracle=_lang_confusion_oracle(),
    tags=("text", "evaluation", "extension"),
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation surface: confusion matrix of the marker
    language heuristic against the labeled ``lang`` column — the
    accuracy readout a curation pipeline keeps per data drop to catch
    lang-ID drift. Narrow per-row prediction (same expression as
    ``lang_id``), one small (labels × guesses) aggregate."""
    docs = load(spark, "documents", sf_dir)
    return (
        docs.select(
            F.col("lang").alias("labeled"),
            TX.lang_guess("text").alias("predicted"),
        )
        .groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
