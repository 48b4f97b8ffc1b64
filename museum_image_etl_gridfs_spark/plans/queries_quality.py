"""Data-curation queries: quality filters, PII redaction, benchmark
contamination, reproducible sampling, TF-IDF, n-gram statistics.

The curation stages of a training-data pipeline (C4 / Gopher /
RefinedWeb lineage), each expressed as pure declarative DataFrame
plans over ``documents`` — no Python in any hot path — and each
verified bit-for-bit against a DuckDB oracle.

Scale notes (100 TB):
- every per-document query here is embarrassingly parallel (narrow,
  no shuffle) except where stated;
- contamination joins the corpus against a SMALL eval-shingle set ->
  explicit ``broadcast()``, no shuffle of the corpus;
- TF-IDF's doc-frequency join is the one genuinely shuffling stage;
  it shuffles (term) pairs once, with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import quality as Q
from ..partitioning import spread
from .registry import query

# ---------------------------------------------------------------- SQL mirrors

#: whitespace word array over lowercased text; NULL/blank -> []
#: (canonical definition lives next to functions/quality.words)
_SQL_WORDS_LOWER = Q.WORDS_SQL_LOWER
_SQL_WORDS = (
    "CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)
#: first-8-hex-digits-of-md5 bucket in [0,1000) — mirrors
#: functions/quality.py::hash_bucket via a hex-digit fold.
_SQL_HASH_BUCKET_1000 = (
    "CAST(list_reduce(list_prepend(0::BIGINT, "
    "list_transform(regexp_split_to_array("
    "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''), "
    "c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)), "
    "(h, c) -> h * 16 + c) % 1000 AS INTEGER)"
)

_STOPS_SQL = "[" + ", ".join(f"'{s}'" for s in Q.STOPWORDS) + "]"


def _sql_hash_bucket(expr: str, buckets: int) -> str:
    """DuckDB rendering of ``functions/quality.hash_bucket`` for an
    arbitrary string expression: first-8-hex-digits-of-md5 folded to
    an integer, mod ``buckets`` (generalizes ``_SQL_HASH_BUCKET_1000``)."""
    return (
        "CAST(list_reduce(list_prepend(0::BIGINT, "
        "list_transform(regexp_split_to_array("
        f"substr(md5({expr}), 1, 8), ''), "
        "c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)), "
        f"(h, c) -> h * 16 + c) % {buckets} AS INTEGER)"
    )


def _sql_word_ngrams(n: int) -> str:
    """DuckDB mirror of ``functions/quality.word_ngrams`` over a word
    array column ``w``: space-joined word ``n``-grams, empty when the
    doc has fewer than ``n`` words. Same 1-based range arithmetic the
    Spark helper documents (``range(1, len(w) - n + 2)``)."""
    parts = " || ' ' || ".join(
        f"w[i+{j}]" if j else "w[i]" for j in range(n)
    )
    return (
        f"CASE WHEN len(w) < {n} THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(range(1, len(w) + {2 - n}), i -> {parts}) END"
    )


@query(
    "quality_flags",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {_SQL_WORDS} AS w,
               length(regexp_replace(trim(coalesce(text, '')), '\\s+', '', 'g'))
                   AS solid
        FROM documents),
    g AS (
        SELECT doc_id, w, solid, len(w) AS n,
               CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(w)),
                                        i -> w[i] || ' ' || w[i+1]) END AS g2,
               CASE WHEN len(w) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(w) - 1),
                                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                    END AS g3
        FROM base),
    m AS (
        SELECT doc_id,
               CAST(n AS INTEGER) AS n_words,
               round(CASE WHEN n = 0 THEN 0.0
                     ELSE solid / CAST(n AS DOUBLE) END, 4) AS mean_word_len,
               round(CASE WHEN n = 0 THEN 0.0
                     ELSE len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                          / CAST(n AS DOUBLE) END, 4) AS frac_alpha,
               CAST(len(list_intersect(list_transform(w, x -> lower(x)),
                                       {_STOPS_SQL})) AS INTEGER) AS stop_hits,
               round(CASE WHEN len(g2) = 0 THEN 0.0
                     ELSE (len(g2) - len(list_distinct(g2)))
                          / CAST(len(g2) AS DOUBLE) END, 4) AS dup_bigram_frac,
               round(CASE WHEN len(g3) = 0 THEN 0.0
                     ELSE (len(g3) - len(list_distinct(g3)))
                          / CAST(len(g3) AS DOUBLE) END, 4) AS dup_trigram_frac
        FROM g)
    SELECT *,
           (n_words >= 10 AND n_words <= 100000
            AND mean_word_len >= 2 AND mean_word_len <= 12
            AND frac_alpha >= 0.5 AND stop_hits >= 1
            AND dup_bigram_frac <= 0.6) AS quality_pass
    FROM m
    """,
    tags=("text", "quality", "extension"),
)
def quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style per-document quality signals and the combined
    keep/drop verdict: word-count bounds, mean word length,
    alphabetic-word fraction, distinct-stopword hits, and duplicate
    bigram/trigram fractions (the repetition filter).

    All higher-order array expressions on the JVM — the whole filter
    is one narrow codegen stage, so at 100 TB it runs at scan speed
    with zero shuffle and zero Python. The verdict compares the
    ROUNDED signals so the boolean is bit-stable across engines.
    """
    # spread() the one-row-group fixture scan across cores before the
    # CPU-bound interpreted-HOF stage (45s -> 0.6s at sf0.1); at scale
    # the scan's own splits suffice and no Exchange is emitted.
    # CollapseProject duplication is NOT a concern: Spark's cheap-alias
    # check refuses to inline a non-trivial alias referenced more than
    # once, so `w` and each signal stay computed exactly once.
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    wdf = docs.select(
        "doc_id",
        Q.words("text").alias("w"),
        F.length(
            F.regexp_replace(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+", "")
        ).alias("solid"),
    )
    w = F.col("w")
    n = F.size(w)
    mwl = F.round(
        F.when(n == 0, F.lit(0.0)).otherwise(F.col("solid") / n.cast("double")), 4
    )
    out = wdf.select(
        "doc_id",
        n.cast("int").alias("n_words"),
        mwl.alias("mean_word_len"),
        F.round(Q.frac_alpha_words(w), 4).alias("frac_alpha"),
        Q.stopword_hits(w).cast("int").alias("stop_hits"),
        F.round(Q.dup_ngram_fraction(w, 2), 4).alias("dup_bigram_frac"),
        F.round(Q.dup_ngram_fraction(w, 3), 4).alias("dup_trigram_frac"),
    )
    return out.withColumn(
        "quality_pass",
        (F.col("n_words") >= 10) & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 2) & (F.col("mean_word_len") <= 12)
        & (F.col("frac_alpha") >= 0.5) & (F.col("stop_hits") >= 1)
        & (F.col("dup_bigram_frac") <= 0.6),
    )


#: deterministic synthetic PII so the redaction path is exercised on
#: word-soup fixtures (appended identically by both engines)
_SQL_AUG = (
    "coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) "
    "|| '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' end'"
)


@query(
    "pii_redaction_stats",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_SQL_AUG} AS t FROM documents),
    e AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{Q.EMAIL_RE}')) AS INTEGER)
                   AS n_emails,
               regexp_replace(t, '{Q.EMAIL_RE}', '<EMAIL>', 'g') AS t1
        FROM aug)
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t1, '{Q.IPV4_RE}')) AS INTEGER) AS n_ips,
           md5(regexp_replace(t1, '{Q.IPV4_RE}', '<IP>', 'g')) AS redacted_fp
    FROM e
    """,
    tags=("text", "pii", "extension"),
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails then IPv4 addresses with
    engine-portable regexes (syntax restricted to the Java-regex ∩ RE2
    common subset). The fixtures are synthetic word soup, so a
    deterministic contact line is appended first — the regex hot path
    is exercised on every row and verified via md5 of the redacted
    text. Narrow, zero-shuffle, codegen'd: scan-speed at 100 TB.
    """
    docs = load(spark, "documents", sf_dir)
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 100).cast("string"), F.lit(" end"),
    )
    t1 = F.regexp_replace(aug, Q.EMAIL_RE, "<EMAIL>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(Q.EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t1, F.lit(Q.IPV4_RE), 0)).alias("n_ips"),
        F.md5(F.regexp_replace(t1, Q.IPV4_RE, "<IP>")).alias("redacted_fp"),
    )


@query(
    "eval_contamination",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(w)),
                                        i -> w[i] || ' ' || w[i+1]) END) AS sh
        FROM (SELECT doc_id, {_SQL_WORDS_LOWER} AS w FROM documents)),
    ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS g
           FROM s WHERE doc_id % 97 <> 0),
    j AS (
        SELECT tr.doc_id, tr.n_shingles,
               sum(CASE WHEN ev.g IS NULL THEN 0 ELSE 1 END) AS hits
        FROM tr LEFT JOIN ev ON tr.g = ev.g
        GROUP BY 1, 2)
    SELECT doc_id, CAST(n_shingles AS INTEGER) AS n_shingles,
           CAST(hits AS INTEGER) AS n_overlap,
           round(CASE WHEN n_shingles = 0 THEN 0.0
                 ELSE hits / CAST(n_shingles AS DOUBLE) END, 4) AS contam_frac
    FROM j
    """,
    tags=("text", "dedup", "extension"),
)
def eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: word-bigram overlap of every
    training document against the shingle set of a held-out eval split
    (``doc_id % 97 == 0``). The decontamination stage every serious
    pretraining pipeline runs before training.

    Scale shape: the eval shingle set is tiny relative to the corpus,
    so it is explicitly ``broadcast()`` — the 100 TB side is scanned
    once, joined map-side with zero shuffle of the corpus, and
    aggregated with map-side partial combine on (doc_id).

    The shingling itself is one Arrow-batched mapInPandas stage
    (vectorized split + set per doc — the same pattern that took the
    MinHash sketch from 22s to 1.4s) emitting exploded, per-doc
    DISTINCT ``(doc_id, gh)`` bigram rows, where ``gh`` is the
    bigram's 64-bit hash (r13, guide §4.2/§2.3): the downstream
    compare is pure set membership, so the gram STRING never needs to
    leave the kernel — the per-doc distinct, the corpus shuffle, and
    the eval-side broadcast all ride 8-byte ints instead of object
    strings (the per-doc ``drop_duplicates`` on object strings was the
    residual kernel cost after the r12 vectorization, 17.1 task-CPU-s
    at sf0.1). Hash identity is the same 2⁻⁶⁴-per-pair fingerprint
    trade ``duplicated_spans`` documents: each WORD occurrence is
    hashed once (pandas ``hash_array`` — deterministic fixed-key
    siphash, process-independent) and the bigram id is an asymmetric
    64-bit combine of the two word hashes — no bigram string is ever
    built; the oracle joins true strings and hash-matches at
    sf0.001/0.01/0.1. The
    ``%97`` eval/train split is applied BELOW the Python stage, so
    each branch gets its own pushed-down parquet filter and every
    document is shingled exactly once — no shared stage to recompute,
    no Exchange-reuse barrier needed.
    """
    src = load(spark, "documents", sf_dir).select("doc_id", "text")

    def bigrams_fn(batches):
        # Vectorized bigram shingling (r12, guide §4.2): the previous
        # per-position Python loop built ~5M bigram strings per run
        # through a genexpr + dict insert each. pandas .str ops keep
        # Python's exact strip/lower/split semantics; the bigram
        # stream is one shifted elementwise concat over the batch's
        # flattened word stream (doc boundaries masked out), hashed to
        # int64 in the same pass, and the per-doc distinct is a stable
        # drop_duplicates over (int, int) pairs — the same gram SET
        # per doc as dict.fromkeys over strings, up to 64-bit
        # collisions (2⁻⁶⁴/pair, see docstring).
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            words = pdf["text"].fillna("").str.strip().str.lower().str.split()
            lens = words.str.len().to_numpy()
            mask = lens >= 2  # unnest([]) semantics: no rows
            if not mask.any():
                continue
            exploded = words[mask].explode()
            flat = exploded.to_numpy()
            rep = np.repeat(
                pdf["doc_id"].to_numpy()[mask], lens[mask]
            )
            same = rep[:-1] == rep[1:]
            # hash each WORD occurrence once, combine the two word
            # hashes arithmetically (boost-style asymmetric combine:
            # order-sensitive, so "a b" != "b a") — building 2.5M
            # bigram STRINGS just to hash them paid an object concat
            # + a second per-string hash for every gram
            hw = pd.util.hash_array(flat)
            h1, h2 = hw[:-1][same], hw[1:][same]
            gh = h1 ^ (
                h2
                + np.uint64(0x9E3779B97F4A7C15)
                + (h1 << np.uint64(12))
                + (h1 >> np.uint64(4))
            )
            yield pd.DataFrame(
                {"doc_id": rep[:-1][same], "gh": gh.view(np.int64)}
            ).drop_duplicates()

    schema = "doc_id bigint, gh bigint"
    ev = (
        spread(src.filter(F.col("doc_id") % 97 == 0), "doc_id")
        .mapInPandas(bigrams_fn, schema)
        .select("gh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # per-doc shingles are emitted distinct, so n_shingles == count(*)
    # in the post-join aggregate
    tr = spread(src.filter(F.col("doc_id") % 97 != 0), "doc_id").mapInPandas(
        bigrams_fn, schema
    )
    agg = (
        tr.join(F.broadcast(ev), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
        )
    )
    return agg.select(
        "doc_id",
        F.col("n_shingles").cast("int"),
        F.col("hits").cast("int").alias("n_overlap"),
        F.round(
            F.when(F.col("n_shingles") == 0, F.lit(0.0))
            .otherwise(F.col("hits") / F.col("n_shingles").cast("double")), 4
        ).alias("contam_frac"),
    )


@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, {_SQL_HASH_BUCKET_1000} AS bucket
    FROM documents
    WHERE {_SQL_HASH_BUCKET_1000}
          < (CASE lang WHEN 'en' THEN 100 WHEN 'zh' THEN 300 ELSE 500 END)
    """,
    tags=("sampling", "extension"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling: per-language keep rates
    (en 10%, zh 30%, rest 50% — down-sample the over-represented
    stratum) decided by a deterministic md5 hash bucket, not an RNG.

    This is how a 100 TB pipeline samples: hash-of-key sampling is
    order- and partitioning-independent, re-runnable to the same rows,
    auditable by any other engine, and needs no seed coordination
    across 1000 executors. Contrast ``df.sampleBy``, whose output
    depends on partition iteration order.
    """
    docs = load(spark, "documents", sf_dir)
    bucket = Q.hash_bucket("doc_id", 1000)
    rate = (
        F.when(F.col("lang") == "en", 100)
        .when(F.col("lang") == "zh", 300)
        .otherwise(500)
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"), rate.alias("r"))
        .filter(F.col("bucket") < F.col("r"))
        .drop("r")
    )


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_SQL_WORDS_LOWER}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    s AS (
        SELECT doc_id, term,
               round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rk
        FROM s)
    SELECT doc_id, term, tfidf, CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 3
    """,
    tags=("text", "ranking", "extension"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1)) + 1, sklearn's formulation) with a deterministic
    (score desc, term asc) tiebreak.

    Plan shape at scale: one explode consumed ONCE — per-term df is
    derived from the per-doc tf aggregate (``count(*)`` over
    ``(doc_id, term)`` rows ≡ ``count(DISTINCT doc_id)``), so the
    word-split stage needs no materialization barrier; both
    aggregations get map-side partial combine; the tf⋈df join
    shuffles on term once; corpus size N arrives as a 1-row broadcast
    cross join, not a collected driver constant.
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    # explode_outer: see the InferFiltersFromGenerate note in
    # near-dup queries — keeps the word split out of scan-side
    # inferred filters
    wdf = docs.select("doc_id", Q.words(F.lower(F.col("text"))).alias("w"))
    t = (
        wdf.select("doc_id", F.explode_outer("w").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # N from the RAW scan, not the spread() branch — counting behind a
    # repartition would shuffle the whole corpus just to count it
    n = load(spark, "documents", sf_dir).groupBy().agg(F.count("*").alias("n"))
    s = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0), 4
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    )
    return s.withColumn("rk", rk).filter(F.col("rk") <= 3)


_BM25_TERMS = ("spark", "table", "fast")
_BM25_K1, _BM25_B = 1.2, 0.75


@query(
    "bm25_scores",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_SQL_WORDS_LOWER}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM t
        WHERE term IN {_BM25_TERMS!r} GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    s AS (
        SELECT tf.doc_id,
               sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                   * tf / (tf + {_BM25_K1} * (1 - {_BM25_B}
                           + {_BM25_B} * dl / avgdl))) AS score
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY 1)
    SELECT doc_id, round(score, 4) AS bm25 FROM s
    """,
    tags=("text", "ranking", "extension"),
)
def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query
    term set (k1=1.2, b=0.75) — the lexical-retrieval scorer used for
    corpus search and quality-targeted selection (e.g. DSIR-style
    proxies).

    Scale shape: the posting list is filtered to the query terms
    BEFORE any aggregation (term IN (...) reaches the explode output,
    so the tf aggregate sees query-term rows only); doc length and
    avgdl arrive via one broadcast scalar; the tf⋈df join broadcasts
    the |terms|-row df side.
    """
    # t is consumed by two aggregations (dl over all terms, tf over
    # query terms). On fixtures spread()'s Exchange is reused across
    # both; at scale the Exchange disappears and each branch re-reads
    # its own pruned scan — two narrow scans beat one full-text
    # shuffle there.
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    wdf = docs.select("doc_id", Q.words(F.lower(F.col("text"))).alias("w"))
    t = (
        wdf.select("doc_id", F.explode_outer("w").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    dl = t.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.groupBy().agg(
        F.avg("dl").alias("avgdl"), F.count("*").alias("n")
    )
    tf = (
        t.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    s = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
                * F.col("tf")
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score")
        )
    )
    return s.select("doc_id", F.round("score", 4).alias("bm25"))


@query(
    "frequent_bigrams",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(w)),
                                        i -> w[i] || ' ' || w[i+1]) END) AS sh
        FROM (SELECT doc_id, {_SQL_WORDS_LOWER} AS w FROM documents)),
    t AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
    d AS (SELECT g, count(*) AS df FROM t GROUP BY 1)
    SELECT g, CAST(df AS BIGINT) AS df,
           round(df / (SELECT CAST(count(*) AS DOUBLE) FROM documents), 4)
               AS doc_share
    FROM d ORDER BY df DESC, g LIMIT 40
    """,
    tags=("text", "heavy-hitters", "extension"),
)
def frequent_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-40 word bigrams by DOCUMENT frequency
    — the boilerplate-detection primitive (C4/RefinedWeb drop lines
    and n-grams that recur across many documents; with newline-free
    fixture text the n-gram form is the meaningful one).

    Scale shape: bigrams come from posexplode + ``lead()`` over
    (doc_id, pos) — the window reuses the ``spread()`` hash
    partitioning on doc_id, so there is ONE shuffle for the per-doc
    stage, not a per-expression HOF re-split (interpreted-lambda trap,
    NOTES.md). Per-doc DISTINCT then a map-side-combined count per
    gram; the global top-40 is TakeOrderedAndProject (no single-
    partition window), and corpus size N arrives as a 1-row broadcast,
    never a driver collect.
    """
    from pyspark.sql import Window

    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    wdf = docs.select("doc_id", Q.words(F.lower(F.col("text"))).alias("w"))
    tok = wdf.select(
        "doc_id", F.posexplode_outer("w").alias("pos", "word")
    ).filter(F.col("word").isNotNull())
    nxt = F.lead("word").over(Window.partitionBy("doc_id").orderBy("pos"))
    grams = (
        tok.select("doc_id", F.concat_ws(" ", F.col("word"), nxt).alias("g"), nxt.alias("__nxt"))
        .filter(F.col("__nxt").isNotNull())
        .select("doc_id", "g")
        .distinct()
    )
    d = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # N from the RAW scan (see tfidf_top_terms): never count through
    # the spread() Exchange
    n = load(spark, "documents", sf_dir).groupBy().agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        d.crossJoin(F.broadcast(n))
        .select(
            "g", "df",
            F.round(F.col("df") / F.col("n").cast("double"), 4).alias("doc_share"),
        )
        .orderBy(F.desc("df"), F.asc("g"))
        .limit(40)
    )


@query(
    "unigram_entropy",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_SQL_WORDS_LOWER}) AS term FROM documents),
    c AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY 1, 2),
    e AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
        FROM c GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(e.n_tokens, 0) AS n_tokens,
           coalesce(e.entropy, 0.0) AS entropy
    FROM documents d LEFT JOIN e USING (doc_id)
    """,
    tags=("text", "quality", "extension"),
)
def unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's unigram distribution — the
    classic degenerate-text signal (near-zero entropy = repeated
    tokens / boilerplate; quality filters drop the low tail).

    Formulated as ``ln(n) - sum(c*ln(c))/n`` over per-term counts so
    both engines sum the same exact integers before the logs —
    no order-dependent float accumulation beyond the final row-level
    expression. One explode, two map-side-combined aggregations on the
    same doc_id key (the term agg partials combine per partition), and
    a doc_id-key left join to re-emit token-free docs with entropy 0."""
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    wdf = docs.select("doc_id", Q.words(F.lower(F.col("text"))).alias("w"))
    t = (
        wdf.select("doc_id", F.explode_outer("w").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    c = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    e = c.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.round(
            F.log(F.sum("c"))
            - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
            4,
        ).alias("entropy"),
    )
    base = load(spark, "documents", sf_dir).select("doc_id")
    return base.join(e, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("entropy", F.lit(0.0)).alias("entropy"),
    )


#: hashed-feature bucket count for the linear quality classifier in
#: ``filter_agreement_kappa`` —
#: weights are exact multiples of 1/4096, so integer-unit accumulation
#: is lossless.
_FT_B = 4096
#: Knuth's multiplicative-hash constant: spreads bucket ids into
#: pseudo-random but fully deterministic stand-in weights.
_FT_MIX = 2654435761


@query(
    "distinct_ngram_diversity",
    oracle=f"""
    WITH w AS (SELECT source, {{words}} AS w FROM documents),
    u AS (SELECT source, unnest(w) AS t FROM w),
    b AS (SELECT source, unnest({{bigrams}}) AS t FROM w),
    d1 AS (SELECT source, COUNT(*) AS total_1,
                  COUNT(DISTINCT t) AS uniq_1
           FROM u GROUP BY source),
    d2 AS (SELECT source, COUNT(*) AS total_2,
                  COUNT(DISTINCT t) AS uniq_2
           FROM b GROUP BY source)
    SELECT d1.source, total_1, uniq_1,
           round(CAST(uniq_1 AS DOUBLE) / total_1, 9) AS distinct_1,
           COALESCE(total_2, 0) AS total_2,
           COALESCE(uniq_2, 0) AS uniq_2,
           CASE WHEN COALESCE(total_2, 0) > 0
                THEN round(CAST(uniq_2 AS DOUBLE) / total_2, 9)
                ELSE 0.0 END AS distinct_2
    FROM d1 LEFT JOIN d2 USING (source)
    """.format(words=_SQL_WORDS_LOWER, bigrams=_sql_word_ngrams(2)),
    tags=("diversity", "text", "extension"),
)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n lexical diversity per source (Li et al., NAACL'16
    "A Diversity-Promoting Objective Function for Neural Conversation
    Models" — the distinct-1/distinct-2 metrics, public method): the
    ratio of UNIQUE uni/bigrams to total uni/bigrams in each source's
    pooled text. Low distinct-n flags a source dominated by templated
    or repetitive text — a standard corpus-audit signal when choosing
    per-source mixture weights.

    Plan: one words-array projection feeds two explodes; each side is
    a (source)-keyed count + exact count-distinct — Spark plans the
    distinct as a two-phase partial/final aggregate, so the shuffle
    carries (source, term) pairs once, map-side deduplicated. The
    ratios divide two exact BIGINTs, one double division each, rounded
    to 9 dp — bit-identical across engines. At 100 TB the exact
    distinct is the honest audit number and shuffles each distinct
    (source, gram) pair once; if an approximate audit suffices,
    ``approx_count_distinct`` drops the distinct shuffle entirely
    (same plan otherwise).
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    wdf = docs.select(
        "source", Q.words(F.lower(F.col("text"))).alias("w")
    )
    uni = wdf.select("source", F.explode("w").alias("t"))
    bi = wdf.select(
        "source", F.explode(Q.word_ngrams(F.col("w"), 2)).alias("t")
    )
    d1 = uni.groupBy("source").agg(
        F.count("t").alias("total_1"),
        F.countDistinct("t").alias("uniq_1"),
    )
    d2 = bi.groupBy("source").agg(
        F.count("t").alias("total_2"),
        F.countDistinct("t").alias("uniq_2"),
    )
    out = d1.join(d2, "source", "left")
    t2 = F.coalesce(F.col("total_2"), F.lit(0).cast("long"))
    u2 = F.coalesce(F.col("uniq_2"), F.lit(0).cast("long"))
    return out.select(
        "source",
        "total_1",
        "uniq_1",
        F.round(
            F.col("uniq_1").cast("double") / F.col("total_1"), 9
        ).alias("distinct_1"),
        t2.alias("total_2"),
        u2.alias("uniq_2"),
        F.when(
            t2 > 0, F.round(u2.cast("double") / t2, 9)
        )
        .otherwise(F.lit(0.0))
        .alias("distinct_2"),
    )


#: Gopher repetition-rule thresholds on the top n-gram fraction
#: (Rae et al. 2021, Table A1: 0.20 / 0.18 / 0.16 for n = 2 / 3 / 4)
_GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}


@query(
    "gopher_top_ngram_fraction",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_SQL_WORDS_LOWER} AS w FROM documents),
    gr AS (
        SELECT doc_id, 2 AS n, g FROM w, UNNEST({_sql_word_ngrams(2)}) AS t(g)
        UNION ALL
        SELECT doc_id, 3 AS n, g FROM w, UNNEST({_sql_word_ngrams(3)}) AS t(g)
        UNION ALL
        SELECT doc_id, 4 AS n, g FROM w, UNNEST({_sql_word_ngrams(4)}) AS t(g)),
    c AS (
        SELECT doc_id, n, g, count(*) AS c FROM gr GROUP BY 1, 2, 3),
    f AS (
        SELECT doc_id, n,
               round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS frac
        FROM c GROUP BY 1, 2),
    p AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN n = 2 THEN frac END), 0.0) AS top2,
               coalesce(max(CASE WHEN n = 3 THEN frac END), 0.0) AS top3,
               coalesce(max(CASE WHEN n = 4 THEN frac END), 0.0) AS top4
        FROM f GROUP BY 1)
    SELECT d.doc_id,
           coalesce(p.top2, 0.0) AS top2_frac,
           coalesce(p.top3, 0.0) AS top3_frac,
           coalesce(p.top4, 0.0) AS top4_frac,
           (coalesce(p.top2, 0.0) <= {_GOPHER_TOP_NGRAM_MAX[2]}
            AND coalesce(p.top3, 0.0) <= {_GOPHER_TOP_NGRAM_MAX[3]}
            AND coalesce(p.top4, 0.0) <= {_GOPHER_TOP_NGRAM_MAX[4]})
               AS repetition_pass
    FROM documents d LEFT JOIN p USING (doc_id)
    """,
    tags=("quality", "gopher", "repetition", "extension"),
)
def gopher_top_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher top-n-gram repetition rule (Rae et al., arXiv 2112.11446
    "Scaling Language Models: … Gopher", Table A1 — public method):
    drop documents where the single most frequent n-gram occupies too
    large a fraction of the document for n = 2/3/4 (thresholds
    0.20/0.18/0.16). Complements ``quality_flags``' DUPLICATE-n-gram
    fractions: that rule measures how many grams repeat at all; this
    one catches a document dominated by ONE phrase (boilerplate
    headers, SEO keyword stuffing). Token-level variant: fraction =
    top gram count / total grams (the paper's character-weighted
    numerator needs only a ``× len(gram)`` twist on the same plan).

    Exactness: max/sum of BIGINT counts into ONE IEEE division,
    rounded to 4 dp — bit-identical across engines; the pass verdict
    compares the rounded values.

    Scale shape (100 TB): one tagged explode (structs ``(n, gram)``
    concatenated per doc — the corpus is tokenized ONCE, not per n),
    a map-side-combined count keyed ``(doc, n, gram)``, a second tiny
    per-``(doc, n)`` aggregate, and a broadcast-free left join back on
    ``doc_id``. No Python, no window, no driver state.
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    # w staged in its own projection:
    # each _tag(n)'s gram lambda would otherwise re-tokenize the whole
    # document per gram position (O(n^2) per doc, three times over)
    wdf = docs.select("doc_id", Q.words(F.lower(F.col("text"))).alias("w"))
    w = F.col("w")

    def _tag(n: int):
        # NOTE: the lambda must take exactly ONE parameter — transform
        # treats a second parameter as the array INDEX and passes it
        # (a `lambda g, n=n:` closure silently becomes (element, idx))
        return F.transform(
            Q.word_ngrams(w, n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
        )

    tagged = F.concat(*[_tag(n) for n in (2, 3, 4)])
    grams = wdf.select("doc_id", F.explode(tagged).alias("t")).select(
        "doc_id", F.col("t.n").alias("n"), F.col("t.g").alias("g")
    )
    cnt = grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    frac = cnt.groupBy("doc_id", "n").agg(
        F.round(
            F.max("c").cast("double") / F.sum("c").cast("double"), 4
        ).alias("frac")
    )
    per_doc = frac.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("frac"))), F.lit(0.0)
            ).alias(f"top{n}")
            for n in (2, 3, 4)
        ]
    )
    out = docs.select("doc_id").join(per_doc, "doc_id", "left")
    tops = {n: F.coalesce(F.col(f"top{n}"), F.lit(0.0)) for n in (2, 3, 4)}
    keep = F.lit(True)
    for n, mx in _GOPHER_TOP_NGRAM_MAX.items():
        keep = keep & (tops[n] <= F.lit(mx))
    return out.select(
        "doc_id",
        tops[2].alias("top2_frac"),
        tops[3].alias("top3_frac"),
        tops[4].alias("top4_frac"),
        keep.alias("repetition_pass"),
    )


_DUP_NGRAM_NS = (2, 3, 4, 5)
#: fixture-scale thresholds: the published Gopher table covers
#: n = 5..10 only (0.15..0.10); the sub-5 levels borrow the top-ngram
#: thresholds so the flag column is non-vacuous on the short synthetic
#: documents (10-99 tokens, 30-word vocabulary — within-doc duplicated
#: grams exist at n = 2..4 and are provably absent at n >= 5, which
#: exercises the zero path).
_DUP_NGRAM_THR = {2: 0.20, 3: 0.18, 4: 0.16, 5: 0.15}


@query(
    "gopher_dup_ngram_chars",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_SQL_WORDS_LOWER} AS ws FROM documents),
    tk AS (
        SELECT doc_id, ws, unnest(range(1, len(ws)+1)) AS i FROM w),
    occ AS (
        SELECT doc_id, n, i,
               array_to_string(ws[i:i+n-1], ' ') AS gram,
               CASE WHEN i = 1 THEN 0
                    ELSE len(array_to_string(ws[1:i-1], ' ')) + 1
               END AS gstart,
               len(array_to_string(ws[1:i+n-1], ' ')) AS gend
        FROM tk, (SELECT unnest([{", ".join(map(str, _DUP_NGRAM_NS))}]) AS n) ns
        WHERE i + n - 1 <= len(ws)),
    dups AS (
        SELECT doc_id, n, gstart, gend FROM (
            SELECT doc_id, n, gstart, gend,
                   count(*) OVER (PARTITION BY doc_id, n, gram) AS c
            FROM occ)
        WHERE c >= 2),
    cov AS (
        SELECT doc_id, n, gstart, gend,
               max(gend) OVER (PARTITION BY doc_id, n ORDER BY gstart
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM dups),
    dc AS (
        SELECT doc_id, n,
               sum(greatest(0, gend - greatest(gstart,
                   coalesce(pmax, gstart)))) AS dup_chars
        FROM cov GROUP BY 1, 2),
    base AS (
        SELECT w.doc_id, ns.n,
               len(array_to_string(ws, ' ')) AS total_chars
        FROM w, (SELECT unnest([{", ".join(map(str, _DUP_NGRAM_NS))}]) AS n) ns)
    SELECT b.doc_id,
           CAST(b.n AS INTEGER) AS n,
           CAST(coalesce(d.dup_chars, 0) AS BIGINT) AS dup_chars,
           CAST(b.total_chars AS BIGINT) AS total_chars,
           CASE WHEN b.total_chars = 0 THEN 0.0
                ELSE round(coalesce(d.dup_chars, 0)
                           / CAST(b.total_chars AS DOUBLE), 6)
           END AS dup_char_frac,
           (CASE WHEN b.total_chars = 0 THEN 0.0
                 ELSE round(coalesce(d.dup_chars, 0)
                            / CAST(b.total_chars AS DOUBLE), 6)
            END) > (CASE b.n {" ".join(f"WHEN {n} THEN {t}" for n, t in _DUP_NGRAM_THR.items())} END)
               AS flagged
    FROM base b LEFT JOIN dc d ON b.doc_id = d.doc_id AND b.n = d.n
    """,
    tags=("quality", "repetition", "gopher", "extension"),
)
def gopher_dup_ngram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-n-gram character fraction (Rae et al., arXiv
    2112.11446 Table A1, second half of the repetition rule family —
    the first half is ``gopher_top_ngram_fraction``): per document and
    n, the fraction of characters covered by n-grams that occur MORE
    THAN ONCE within the document, overlaps counted once via an exact
    interval union over the space-joined token stream.

    The operator (``operators/spans.py::dup_ngram_char_fraction``)
    defaults to the published n = 5..10 / thresholds 0.15..0.10; this
    fixture-scale query runs n = 2..5 (see ``_DUP_NGRAM_THR``) so the
    union sweep and flag logic are exercised on non-zero data.

    Scale shape: tokenize once, lead()-derived gram identities and
    char spans for every n, duplicate marking and the union sweep both
    doc-local — the whole plan rides ONE exchange on doc_id.

    Reference parity: no text analytics in the reference
    (SURVEY.md §3.2) — extension surface.
    """
    from ..operators.spans import dup_ngram_char_fraction

    docs = load(spark, "documents", sf_dir)
    return dup_ngram_char_fraction(
        docs, ns=_DUP_NGRAM_NS, thresholds=_DUP_NGRAM_THR
    )


#: fixture-scale segment widths for the line/paragraph repetition
#: rules: the synthetic docs are single-line token streams, so
#: "lines" are 2-token chunks (181/500 sf0.01 docs carry a duplicate)
#: and "paragraphs" 3-token chunks (near-zero dups — exercises the
#: zero path, like dup-n-gram's n=5). Real corpora split on
#: newline / blank-line instead; the stats are splitter-agnostic.
_LINE_W, _PARA_W = 2, 3
#: Gopher Table A1 thresholds (Rae et al. 2112.11446): duplicate
#: line/paragraph fraction > 0.30, duplicate line/paragraph CHARACTER
#: fraction > 0.20.
_DUP_SEG_THR = {"line_frac": 0.30, "para_frac": 0.30,
                "line_chars": 0.20, "para_chars": 0.20}


def _seg_chunk_sql(width: int) -> str:
    """DuckDB mirror of functions/quality.token_chunks at ``width``."""
    return (
        f"SELECT doc_id, {width} AS width, "
        f"array_to_string(ws[i:i+{width - 1}], ' ') AS seg "
        f"FROM w, unnest(range(1, len(ws)+1, {width})) AS t(i)"
    )


@query(
    "gopher_dup_line_stats",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_SQL_WORDS_LOWER} AS ws FROM documents),
    seg AS ({_seg_chunk_sql(_LINE_W)} UNION ALL {_seg_chunk_sql(_PARA_W)}),
    per AS (
        SELECT doc_id, width, seg, count(*) AS c, len(seg) AS l
        FROM seg GROUP BY 1, 2, 3),
    agg AS (
        SELECT doc_id, width,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c - 1) AS BIGINT) AS dup,
               CAST(sum(c * l) AS BIGINT) AS chars,
               CAST(sum((c - 1) * l) AS BIGINT) AS dup_chars
        FROM per GROUP BY 1, 2),
    j AS (
        SELECT d.doc_id,
               coalesce(l.n, 0) AS n_lines,
               CASE WHEN coalesce(l.n, 0) = 0 THEN 0.0
                    ELSE round(l.dup / CAST(l.n AS DOUBLE), 6)
               END AS dup_line_frac,
               CASE WHEN coalesce(l.chars, 0) = 0 THEN 0.0
                    ELSE round(l.dup_chars / CAST(l.chars AS DOUBLE), 6)
               END AS dup_line_char_frac,
               coalesce(p.n, 0) AS n_paras,
               CASE WHEN coalesce(p.n, 0) = 0 THEN 0.0
                    ELSE round(p.dup / CAST(p.n AS DOUBLE), 6)
               END AS dup_para_frac,
               CASE WHEN coalesce(p.chars, 0) = 0 THEN 0.0
                    ELSE round(p.dup_chars / CAST(p.chars AS DOUBLE), 6)
               END AS dup_para_char_frac
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN (SELECT * FROM agg WHERE width = {_LINE_W}) l
            USING (doc_id)
        LEFT JOIN (SELECT * FROM agg WHERE width = {_PARA_W}) p
            USING (doc_id))
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, dup_line_frac,
           dup_line_char_frac, CAST(n_paras AS BIGINT) AS n_paras,
           dup_para_frac, dup_para_char_frac,
           (dup_line_frac > {_DUP_SEG_THR["line_frac"]}
            OR dup_para_frac > {_DUP_SEG_THR["para_frac"]}
            OR dup_line_char_frac > {_DUP_SEG_THR["line_chars"]}
            OR dup_para_char_frac > {_DUP_SEG_THR["para_chars"]})
               AS flagged
    FROM j
    """,
    tags=("quality", "repetition", "gopher", "extension"),
)
def gopher_dup_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate line/paragraph rules (Rae et al., arXiv
    2112.11446 Table A1, FIRST half of the repetition family — the
    n-gram half is ``gopher_dup_ngram_chars`` /
    ``gopher_top_ngram_fraction``): per document, the fraction of
    line (and paragraph) occurrences that duplicate an earlier
    identical one, plus the character-weighted variants, flagged at
    the published thresholds (frac > 0.30, char frac > 0.20).

    Fixture note: the synthetic docs are single-line, so lines and
    paragraphs are fixed-width token chunks (2 / 3 tokens —
    ``_LINE_W`` / ``_PARA_W``); real corpora pass newline /
    blank-line splits to the same stats.

    Scale shape: ``functions/quality.dup_segment_stats`` computes
    everything by sorted-adjacency INSIDE each row's segment array —
    no explode, no shuffle of segment occurrences (the explode +
    two-level groupBy equivalent shuffles every occurrence of a
    100 TB corpus). The only exchange is the ``spread()`` round-robin
    for CPU parallelism on few-file fixtures. The sorted chunk arrays
    are materialized by their OWN projection stage and the kernel's
    lambdas touch only bound variables — an earlier draft that
    indexed the outer array inside the lambdas re-evaluated the
    tokenize+chunk+sort tree per element: 40 s for 500 docs.

    Reference parity: no text analytics in the reference
    (SURVEY.md §3.2) — extension surface.
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    # tokenizer staged in its own projection (r12): token_chunks'
    # slice lambda references the token array per chunk element, so a
    # raw words(lower(text)) argument re-tokenizes the document once
    # per chunk (and twice over for the line+para widths)
    wdf = docs.select(
        "doc_id", Q.words(F.lower(F.col("text"))).alias("__ws")
    )
    ws = F.col("__ws")
    chunked = wdf.select(
        "doc_id",
        F.array_sort(Q.token_chunks(ws, _LINE_W)).alias("ls"),
        F.array_sort(Q.token_chunks(ws, _PARA_W)).alias("ps"),
    )
    line = Q.dup_segment_stats(F.col("ls"))
    para = Q.dup_segment_stats(F.col("ps"))

    def frac(num, den):
        return F.when(den == 0, F.lit(0.0)).otherwise(
            F.round(num / den.cast("double"), 6)
        )

    out = chunked.select(
        "doc_id",
        line.alias("l"),
        para.alias("p"),
    ).select(
        "doc_id",
        F.col("l.n").alias("n_lines"),
        frac(F.col("l.dup"), F.col("l.n")).alias("dup_line_frac"),
        frac(F.col("l.dup_chars"), F.col("l.chars")).alias(
            "dup_line_char_frac"
        ),
        F.col("p.n").alias("n_paras"),
        frac(F.col("p.dup"), F.col("p.n")).alias("dup_para_frac"),
        frac(F.col("p.dup_chars"), F.col("p.chars")).alias(
            "dup_para_char_frac"
        ),
    )
    return out.withColumn(
        "flagged",
        (F.col("dup_line_frac") > _DUP_SEG_THR["line_frac"])
        | (F.col("dup_para_frac") > _DUP_SEG_THR["para_frac"])
        | (F.col("dup_line_char_frac") > _DUP_SEG_THR["line_chars"])
        | (F.col("dup_para_char_frac") > _DUP_SEG_THR["para_chars"]),
    )


@query(
    "filter_agreement_kappa",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {{words}} AS w FROM documents),
    g AS (
        SELECT doc_id,
               list_concat(w,
                   CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
                        ELSE list_transform(range(1, len(w)),
                                            i -> w[i] || ' ' || w[i+1]) END)
                   AS g,
               len(w) AS n,
               CASE WHEN len(w) = 0 THEN 0.0
                    ELSE len(list_intersect(w, {{stops}}))
                         / CAST(len(w) AS DOUBLE) END AS stop_frac
        FROM w),
    s AS (
        SELECT doc_id,
               list_reduce(list_prepend(0::BIGINT,
                   list_transform(g,
                       t -> ({{bucket}} * {{mix}})
                            % {{b}} - {{b}} // 2)),
                   (a, b) -> a + b) AS num,
               (n >= 10 AND stop_frac >= 0.01) AS rule_pass
        FROM g),
    verdicts AS (
        SELECT rule_pass, (num >= 0) AS clf_pass FROM s),
    cells AS (
        SELECT
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN rule_pass AND clf_pass THEN 1 ELSE 0 END)
               AS BIGINT) AS a,
          CAST(sum(CASE WHEN NOT rule_pass AND clf_pass THEN 1 ELSE 0 END)
               AS BIGINT) AS b,
          CAST(sum(CASE WHEN rule_pass AND NOT clf_pass THEN 1 ELSE 0 END)
               AS BIGINT) AS c,
          CAST(sum(CASE WHEN NOT rule_pass AND NOT clf_pass THEN 1 ELSE 0 END)
               AS BIGINT) AS d
        FROM verdicts),
    -- products go through DECIMAL: BIGINT a*b overflows at ~1e10 docs
    wide AS (
        SELECT n, a, b, c, d,
               CAST(a + b AS DECIMAL(19,0)) * CAST(a + c AS DECIMAL(19,0))
               + CAST(c + d AS DECIMAL(19,0)) * CAST(b + d AS DECIMAL(19,0))
                   AS pe_num,
               CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)) AS n2
        FROM cells)
    SELECT n AS n_docs, a AS both_pass, b AS clf_only, c AS rule_only,
           d AS both_fail,
           round((a + d) / CAST(n AS DOUBLE), 6) AS observed_agreement,
           round(CAST(pe_num AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
               AS chance_agreement,
           CASE WHEN n2 = pe_num THEN 0.0
                ELSE round(CAST(CAST(a + d AS DECIMAL(19,0))
                                * CAST(n AS DECIMAL(19,0))
                                - pe_num AS DOUBLE)
                           / CAST(n2 - pe_num AS DOUBLE), 6)
           END AS cohens_kappa
    FROM wide
    """.format(
        words=_SQL_WORDS_LOWER,
        stops=_STOPS_SQL,
        bucket=_sql_hash_bucket("t", _FT_B),
        mix=_FT_MIX,
        b=_FT_B,
    ),
    tags=("quality", "classifier", "evaluation", "extension"),
)
def filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two document filters — the rule-based
    verdict and the fastText-style linear classifier's sign — the
    standard inter-rater agreement statistic a filter-deployment eval
    reports next to the calibration curve (chance-corrected: two
    filters that both pass 90% of docs agree 82% by luck alone).

    Exactness: the 2x2 contingency table is BIGINT counts; observed /
    chance agreement and kappa are two or three IEEE divisions over
    exact integers, rounded 6 dp — bit-identical across engines. The
    degenerate pe = 1 case (both filters constant) returns 0.0 by
    convention.

    Scale shape: the classifier's map-side-combined per-doc sum (one
    feature explode), a narrow rule stage, then ONE global 5-counter
    aggregate — O(1) output."""
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    # w staged in its own projection: word_ngrams' element_at lambda
    # re-evaluates outer-referenced subtrees PER ELEMENT — with the
    # raw tokenizer expression that is O(n^2) re-tokenization per doc
    # (NOTES round-12 HOF lesson)
    wdf = docs.select("doc_id", Q.words(F.lower(F.col("text"))).alias("w"))
    w = F.col("w")
    g = F.concat(w, Q.word_ngrams(w, 2))
    feats = wdf.select("doc_id", F.explode_outer(g).alias("t"))
    unit = F.when(F.col("t").isNull(), F.lit(0).cast("long")).otherwise(
        (Q.hash_bucket(F.col("t"), _FT_B).cast("long") * F.lit(_FT_MIX))
        % F.lit(_FT_B)
        - F.lit(_FT_B // 2)
    )
    per_doc = (
        feats.select("doc_id", unit.alias("u"))
        .groupBy("doc_id")
        .agg(F.sum("u").alias("num"))
    )
    rule = wdf.select(
        "doc_id",
        (
            (F.size(w) >= 10)
            & (
                F.when(F.size(w) == 0, F.lit(0.0)).otherwise(
                    Q.stopword_hits(w) / F.size(w).cast("double")
                )
                >= 0.01
            )
        ).alias("rule_pass"),
    )
    v = per_doc.join(rule, "doc_id").select(
        "rule_pass", (F.col("num") >= 0).alias("clf_pass")
    )
    cells = v.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("rule_pass") & F.col("clf_pass"), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(
            F.when(~F.col("rule_pass") & F.col("clf_pass"), 1).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when(F.col("rule_pass") & ~F.col("clf_pass"), 1).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when(~F.col("rule_pass") & ~F.col("clf_pass"), 1).otherwise(0)
        )
        .cast("long")
        .alias("d"),
    )
    # products through DECIMAL: BIGINT a*b overflows at ~1e10 docs
    dec = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    pe_num = dec(F.col("a") + F.col("b")) * dec(F.col("a") + F.col("c")) + dec(
        F.col("c") + F.col("d")
    ) * dec(F.col("b") + F.col("d"))
    n2 = dec(F.col("n")) * dec(F.col("n"))
    wide = cells.select(
        "n", "a", "b", "c", "d", pe_num.alias("pe_num"), n2.alias("n2")
    )
    return wide.select(
        F.col("n").alias("n_docs"),
        F.col("a").alias("both_pass"),
        F.col("b").alias("clf_only"),
        F.col("c").alias("rule_only"),
        F.col("d").alias("both_fail"),
        F.round(
            (F.col("a") + F.col("d")) / F.col("n").cast("double"), 6
        ).alias("observed_agreement"),
        F.round(
            F.col("pe_num").cast("double") / F.col("n2").cast("double"), 6
        ).alias("chance_agreement"),
        F.when(F.col("n2") == F.col("pe_num"), F.lit(0.0))
        .otherwise(
            F.round(
                (
                    dec(F.col("a") + F.col("d")) * dec(F.col("n"))
                    - F.col("pe_num")
                ).cast("double")
                / (F.col("n2") - F.col("pe_num")).cast("double"),
                6,
            )
        )
        .alias("cohens_kappa"),
    )
