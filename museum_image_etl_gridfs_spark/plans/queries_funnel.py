"""Event-sequence analytics + inverted-index build.

The ordered-funnel product-analytics shape over ``events`` and a two-pass
inverted-index build over ``documents`` — the aggregation patterns a
training-data / analytics user runs daily that the reference's
row-at-a-time loops could only express by materializing everything
client-side (cf. /root/reference/src/transform_load.py's full-table
cursor iteration).

Scale notes (100 TB):
- funnel: ONE shuffle on ``user_id`` with map-side partial min();
  the final global rollup reduces per-partition partials only.
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
from ..partitioning import size_gated_broadcast, spread
from .registry import query

#: lowercased whitespace word array (canonical mirror of
#: functions/quality.words — single shared constant)
_SQL_WORDS_LOWER = Q.WORDS_SQL_LOWER


@query(
    "event_funnel",
    oracle="""
    WITH u AS (
        SELECT user_id,
               min(ts) FILTER (WHERE event_type = 'view') AS t_view,
               min(ts) FILTER (WHERE event_type = 'click') AS t_click,
               min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
        FROM events GROUP BY user_id)
    SELECT CAST(count(t_view) AS BIGINT) AS viewed,
           CAST(count(*) FILTER (WHERE t_click > t_view) AS BIGINT)
               AS clicked_after_view,
           CAST(count(*) FILTER (WHERE t_click > t_view
                                 AND t_purchase > t_click) AS BIGINT)
               AS purchased_full_path
    FROM u
    """,
    tags=("events", "funnel", "extension"),
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: users counted at each step
    only if the step's FIRST occurrence follows the previous step's
    first occurrence (strict event-time order, not mere presence).

    NULL comparison semantics do the step gating for free: a user with
    no click has ``t_click > t_view`` evaluate to NULL, which a
    ``count(when(...))`` skips — identical to the oracle's FILTER.
    """
    ev = load(spark, "events", sf_dir)

    def first_ts(etype: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    u = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_click") > F.col("t_view")
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return u.agg(
        F.count("t_view").alias("viewed"),
        F.count(F.when(clicked, 1)).alias("clicked_after_view"),
        F.count(F.when(purchased, 1)).alias("purchased_full_path"),
    )


@query(
    "inverted_index",
    oracle=f"""
    WITH t AS (
        SELECT DISTINCT doc_id, unnest(w) AS term
        FROM (SELECT doc_id, {_SQL_WORDS_LOWER} AS w FROM documents)),
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
            F.explode_outer(Q.words(F.lower(F.col("text")))).alias("term"),
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


@query(
    "unigram_lm_scores",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest(w) AS term
        FROM (SELECT doc_id, {_SQL_WORDS_LOWER} AS w FROM documents)),
    cnt AS (SELECT term, count(*) AS c FROM t GROUP BY term),
    tot AS (SELECT sum(c) AS n FROM cnt),
    sc AS (
        SELECT t.doc_id, count(*) AS nw,
               sum(CAST(round(ln(cnt.c / tot.n), 8) AS DECIMAL(20,8))) AS s
        FROM t JOIN cnt USING (term) CROSS JOIN tot
        GROUP BY t.doc_id)
    SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
           round(-CAST(s AS DOUBLE) / nw, 4) AS avg_nll
    FROM sc
    """,
    tags=("text", "quality", "extension"),
)
def unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model score per document (CCNet-style
    LM quality filtering, with the corpus itself as the model): each
    doc's average negative log-likelihood under MLE unigram
    probabilities. Degenerate/repetitive docs score low, rare-word
    soup scores high — both tails are filter candidates.

    Determinism across engines AND partitionings: each token's log
    probability is rounded to 8 decimals then summed as DECIMAL, so
    the per-doc sum is exact and independent of aggregation order
    (the float-sum trick from NOTES.md applied to log space).

    Scale shape: the vocabulary join is SIZE-GATED — broadcast while
    the measured vocab row count fits (the fixture/low-SF regime, no
    corpus shuffle), shuffle join on ``term`` above the threshold (a
    web-scale vocabulary is corpus-sized, not dimension-sized); the
    1-row total is always broadcast. The per-doc groupBy moves only
    map-side partial rows (one per doc per partition).
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    t = docs.select(
        "doc_id",
        F.explode_outer(Q.words(F.lower(F.col("text")))).alias("term"),
    ).filter(F.col("term").isNotNull())
    cnt = size_gated_broadcast(
        t.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy().agg(F.sum("c").alias("n"))
    logp = F.round(F.log(F.col("c") / F.col("n")), 8).cast("decimal(20,8)")
    sc = (
        t.join(cnt, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nw"), F.sum(logp).alias("s"))
    )
    return sc.select(
        "doc_id",
        F.col("nw").alias("n_words"),
        F.round(-F.col("s").cast("double") / F.col("nw"), 4).alias("avg_nll"),
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT r_name, n_name,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
           CAST(count(*) AS BIGINT) AS n_custs
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (n_name), ())
    """,
    tags=("olap", "grouping-sets", "sql-surface"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the general form cube/rollup specialize
    (SURVEY §2.4 cube/rollup family): per-region totals, per-nation
    totals, and the grand total in ONE pass over customer, via the
    engine's SQL surface (Spark's DataFrame API exposes only
    cube/rollup; arbitrary grouping sets are SQL).

    One Expand node fans each row into its 3 grouping memberships
    before a single hash aggregate — no self-union, no re-scan.
    """
    for t in ("customer", "nation", "region"):
        load(spark, t, sf_dir).createOrReplaceTempView(f"gs_{t}")
    return spark.sql(
        """
        SELECT r_name, n_name,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_bal,
               count(*) AS n_custs
        FROM gs_customer
        JOIN gs_nation ON c_nationkey = n_nationkey
        JOIN gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
        """
    )


#: first-8-hex-digits-of-md5 bucket in [0, 1e6) — the finer-grained
#: mirror of queries_quality._SQL_HASH_BUCKET_1000
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
