"""Inverted-index build and weighted sampling.

A two-pass inverted-index build and a deterministic weighted sample
over ``documents`` — aggregation patterns a training-data / analytics
user runs daily that the reference's row-at-a-time loops could only
express by materializing everything client-side (its full-table
cursor iteration, SURVEY.md §3.2).

Scale notes (100 TB):
- inverted index: COUNT-FIRST two-pass — postings lists are collected
  only for terms that survive the document-frequency band, so no
  executor ever materializes the posting list of a stopword-class hot
  term; the surviving-term set is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import quality as Q
from ..partitioning import spread
from .registry import query


@query(
    "inverted_index",
    oracle=f"""
    WITH t AS (
        SELECT DISTINCT doc_id, unnest(w) AS term
        FROM (SELECT doc_id, {Q.words_sql(Q.fold_case_sql('text'))} AS w
              FROM documents)),
    n AS (SELECT count(*) AS n_docs FROM documents),
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM t CROSS JOIN n
        GROUP BY term, n_docs
        HAVING count(*) >= 10 AND count(*) <= 0.8 * n_docs)
    SELECT t.term, df.df,
           array_to_string(list_sort(list(t.doc_id)), ',') AS postings
    FROM t JOIN df ON t.term = df.term
    GROUP BY t.term, df.df
    """,
    tags=("text", "index", "extension"),
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (term → sorted posting list) for mid-frequency
    terms (absolute floor df >= 10, relative ceiling df <= 80% of the
    corpus — the ceiling scales with corpus size, so the band means the
    same thing at every scale factor).

    COUNT-FIRST two-pass shape: pass 1 computes per-term df from
    distinct ``(doc_id, term)`` pairs (cheap count, full map-side
    partial agg); only terms inside the df band — a provably small
    set, so it is broadcast — reach pass 2, which collects the actual
    posting lists. A single-pass ``collect_set`` + HAVING would make
    some executor materialize the complete posting list of every
    stopword-class term before discarding it; this plan never does.
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    t = (
        docs.select(
            "doc_id",
            F.explode_outer(Q.words(Q.fold_case("text"))).alias("term"),
        )
        .filter(F.col("term").isNotNull())
        .distinct()
    )
    n = load(spark, "documents", sf_dir).groupBy().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    df = (
        t.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n))
        .filter(
            (F.col("df") >= 10) & (F.col("df") <= 0.8 * F.col("n_docs"))
        )
        .drop("n_docs")
    )
    return (
        t.join(F.broadcast(df), "term")
        .groupBy("term", "df")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )


#: first-8-hex-digits-of-md5 bucket in [0, 1e6) — DuckDB mirror of
#: ``functions/quality.hash_bucket("doc_id", 1_000_000)`` via a
#: hex-digit fold
_SQL_HASH_BUCKET_1M = (
    "CAST(list_reduce(list_prepend(0::BIGINT, "
    "list_transform(regexp_split_to_array("
    "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''), "
    "c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)), "
    "(h, c) -> h * 16 + c) % 1000000 AS INTEGER)"
)


@query(
    "weighted_sample_topk",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, n_chars,
               round(-ln(({_SQL_HASH_BUCKET_1M} + 0.5) / 1000000.0)
                     / greatest(n_chars, 1), 8) AS priority
        FROM documents)
    SELECT doc_id, n_chars, priority
    FROM s ORDER BY priority, doc_id LIMIT 100
    """,
    tags=("sampling", "weighted", "extension"),
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement (Efraimidis-
    Spirakis A-ES): each doc draws a pseudo-uniform u from a portable
    md5 bucket of its key, gets priority ``-ln(u)/w`` with weight
    ``w = n_chars``, and the k smallest priorities are the sample —
    longer docs are proportionally likelier, yet any engine can replay
    the exact selection (no RNG state, stable under repartitioning).

    Scale shape: narrow per-row math + TakeOrderedAndProject
    (per-partition top-k heaps, no global sort, no shuffle of the
    corpus). Priorities are rounded to 8 decimals before ranking so
    the cross-engine float boundary is quantized away; doc_id breaks
    ties deterministically.
    """
    docs = load(spark, "documents", sf_dir)
    u = (Q.hash_bucket("doc_id", 1_000_000) + F.lit(0.5)) / F.lit(1_000_000.0)
    w = F.greatest(F.col("n_chars"), F.lit(1))
    pri = F.round(-F.log(u) / w, 8)
    return (
        docs.select("doc_id", "n_chars", pri.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(100)
    )
