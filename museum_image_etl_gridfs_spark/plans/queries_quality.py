"""Data-curation queries: quality filters, PII redaction, benchmark
contamination, reproducible sampling, token-budget packing, TF-IDF.

The curation stages of a training-data pipeline (C4 / Gopher /
RefinedWeb lineage), each expressed as pure declarative DataFrame
plans over ``documents`` — no Python in any hot path — and each
verified bit-for-bit against a DuckDB oracle.

Scale notes (100 TB):
- every per-document query here is embarrassingly parallel (narrow,
  no shuffle) except where stated;
- contamination joins the corpus against a SMALL eval-shingle set ->
  explicit ``broadcast()``, no shuffle of the corpus;
- packing windows partition by ``source`` so state per window task is
  one shard, not the corpus;
- TF-IDF's doc-frequency join is the one genuinely shuffling stage;
  it shuffles (term) pairs once, with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import quality as Q
from ..operators.quantiles import ntile_exact_grouped
from ..partitioning import size_gated_broadcast, spread
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


_PACK_BUDGET = 512


@query(
    "token_budget_packing",
    oracle=f"""
    WITH t AS (
        SELECT source, doc_id,
               CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                   AS n_tokens
        FROM documents),
    o AS (
        SELECT source, doc_id, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS start_off
        FROM t)
    SELECT source, CAST(start_off // {_PACK_BUDGET} AS INTEGER) AS bin_id,
           CAST(count(*) AS INTEGER) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM o GROUP BY 1, 2
    """,
    tags=("packing", "extension"),
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: documents are packed, in stable
    doc_id order, into ~512-token bins per source shard (each doc's
    bin is its running-start-offset // budget — contiguous greedy
    packing, the standard pretraining batching step).

    Scale shape (r10): a window partitioned by ``source`` would push
    every row of the biggest source through ONE running-sum task —
    the same low-cardinality-group pathology the r9/r10 rank rewrites
    killed. :func:`~..operators.quantiles.running_totals_grouped`
    computes the identical per-source running sum from count-balanced
    doc_id range buckets + O(sources × buckets) broadcast offsets; no
    global sort, no driver state, no single-task stage. Per-shard
    deterministic pack order (doc_id) is what real pipelines (and
    this oracle) pin down.
    """
    from ..functions.text import token_count
    from ..operators.quantiles import running_totals_grouped

    docs = load(spark, "documents", sf_dir)
    t = docs.select("source", "doc_id", token_count("text").alias("n_tokens"))
    o = running_totals_grouped(
        t, ["source"], ["doc_id"], ["n_tokens"], prefix="__cum_"
    ).withColumn("start_off", F.col("__cum_n_tokens") - F.col("n_tokens"))
    return (
        o.groupBy(
            "source",
            F.floor(F.col("start_off") / _PACK_BUDGET).cast("int").alias("bin_id"),
        )
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
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


#: per-source mixing weight: even-numbered sources down-sampled to
#: 0.3 epochs, odd-numbered up-sampled to 1.7 (repetition)
_SQL_MIX_W = (
    "CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0 "
    "THEN 0.3 ELSE 1.7 END"
)


@query(
    "source_mixture_epoch",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, {_SQL_MIX_W} AS wt, {_SQL_HASH_BUCKET_1000} AS b
        FROM documents),
    c AS (
        SELECT doc_id, source,
               CAST(floor(wt) AS INTEGER)
               + (CASE WHEN b < CAST(round((wt - floor(wt)) * 1000, 0) AS INTEGER)
                       THEN 1 ELSE 0 END) AS n_copies
        FROM w)
    SELECT doc_id, source, CAST(unnest(range(1, n_copies + 1)) AS INTEGER) AS copy
    FROM c WHERE n_copies > 0
    """,
    tags=("sampling", "mixing", "extension"),
)
def source_mixture_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing epoch construction: each source gets a sampling
    weight (0.3 = keep 30%, 1.7 = every doc once plus 70% twice) and
    the epoch materializes as (doc, copy) rows. The integer part
    replicates deterministically; the fractional part is decided by
    the same md5 hash bucket as stratified_sample — so the epoch is
    reproducible row-for-row across engines, partitionings and reruns,
    which is what makes training-data mixing auditable.

    One narrow pass: weight/bucket projection, sequence + explode.
    No shuffle at any scale.
    """
    docs = load(spark, "documents", sf_dir)
    wt = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(0.3)
    ).otherwise(F.lit(1.7))
    c = docs.select(
        "doc_id",
        "source",
        (
            F.floor(wt).cast("int")
            + F.when(
                Q.hash_bucket("doc_id", 1000)
                < F.round((wt - F.floor(wt)) * 1000, 0).cast("int"),
                1,
            ).otherwise(0)
        ).alias("n_copies"),
    )
    return (
        c.filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy"),
        )
    )


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


def _zorder_oracle() -> str:
    from ..operators.layout import zorder_key2_sql

    z = zorder_key2_sql("l_partkey", "l_suppkey")
    return f"""
    WITH z AS (SELECT {z} AS zkey, l_partkey, l_suppkey FROM lineitem)
    SELECT CAST(zkey >> 24 AS INTEGER) AS bucket,
           count(*) AS n_rows,
           min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
           min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
    FROM z GROUP BY 1
    """


@query(
    "zorder_layout_stats",
    oracle=_zorder_oracle(),
    tags=("layout", "extension"),
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering stats: interleave the bits of
    (l_partkey, l_suppkey), bucket rows by the top z-key byte, and
    report each bucket's min-max envelope on BOTH dimensions — the
    exact quantities parquet stores per file/row-group and Spark uses
    to prune scans. Narrow envelopes on both columns are the proof the
    curve clusters both at once (tests/test_layout.py asserts the
    locality quantitatively; operators/layout.py::write_zordered is
    the writer that realizes it on disk).

    All closed-form shift-or-mask bit arithmetic — codegen'd JVM
    expressions, one map-side-combined aggregation, no UDFs.
    """
    from ..operators.layout import zorder_key2

    li = load(spark, "lineitem", sf_dir)
    z = li.select(
        zorder_key2("l_partkey", "l_suppkey").alias("zkey"),
        "l_partkey", "l_suppkey",
    )
    return z.groupBy(
        F.shiftright(F.col("zkey"), 24).cast("int").alias("bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("l_partkey").alias("min_pk"), F.max("l_partkey").alias("max_pk"),
        F.min("l_suppkey").alias("min_sk"), F.max("l_suppkey").alias("max_sk"),
    )


@query(
    "kmeans_cluster_profile",
    oracle=None,  # iterative algorithm — rows-only check; numpy parity
    # is pinned in tests/test_kmeans.py instead
    tags=("similarity", "clustering", "extension"),
)
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed k-means (operators/kmeans.py) over the
    embeddings, profiled per cluster: size and mean squared distance to
    the centroid. The model behind SemDeDup-style semantic dedup and
    IVF index training. Lloyd's is iterative (one corpus scan per
    iteration, driver-side k×dim state) — not SQL-expressible, so this
    is a rows-only driver check with exact numpy parity pinned in
    tests."""
    from ..operators.kmeans import kmeans_assign, kmeans_fit

    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    centroids = kmeans_fit(emb, k=8, n_iter=5)
    assigned = kmeans_assign(emb, centroids)
    return assigned.groupBy("cluster").agg(
        F.count("*").cast("int").alias("n_points"),
        F.round(F.avg("sq_dist"), 4).alias("mean_sq_dist"),
    )


@query(
    "semantic_dedup_keep",
    oracle=None,  # iterative (kmeans inside) — rows-only + tests
    tags=("dedup", "similarity", "extension"),
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style pruning: cluster the embedding space, then keep
    only the 10 points per cluster farthest from their centroid
    (dropping the near-centroid redundancy). The embedding-space
    counterpart of MinHash dedup — at 100 TB this is how you cut a
    corpus 2-5x with minimal quality loss."""
    from ..operators.kmeans import semantic_dedup

    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    kept = semantic_dedup(emb, k=8, n_iter=5, keep_per_cluster=10)
    return kept.select(
        "vec_id", "cluster", F.round("sq_dist", 4).alias("sq_dist")
    )


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


@query(
    "length_outliers_by_lang",
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           round(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars), 4)
               AS len_pr,
           (percent_rank() OVER (PARTITION BY lang ORDER BY n_chars)
               BETWEEN 0.02 AND 0.98) AS keep
    FROM documents
    """,
    tags=("text", "quality", "window", "extension"),
)
def length_outliers_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-outlier trim: drop documents whose length
    falls in the bottom/top 2% WITHIN their language — length filters
    must be per-language because char/token statistics differ across
    languages (the C4/mC4 practice).

    Scale shape (VERDICT r9 #1): NO per-language window — the
    dominant language of a 100 TB corpus would funnel through one
    sort task. :func:`~..operators.quantiles.grouped_rank_stats`
    computes the exact ANSI ``percent_rank() OVER (PARTITION BY lang
    ORDER BY n_chars)`` from count-balanced range buckets +
    O(langs × buckets) broadcast offsets, with tie semantics local to
    each bucket (equal n_chars always share a bucket). Bit-identical
    to the window oracle: exact integer rank/count into one IEEE
    division."""
    from ..operators.quantiles import grouped_rank_stats

    docs = load(spark, "documents", sf_dir).select("doc_id", "lang", "n_chars")
    ranked = grouped_rank_stats(
        docs, ["lang"], ["n_chars"], percent_rank_col="__pr"
    )
    pr = F.col("__pr")
    return ranked.select(
        "doc_id", "lang", "n_chars",
        F.round(pr, 4).alias("len_pr"),
        ((pr >= 0.02) & (pr <= 0.98)).alias("keep"),
    )


#: DSIR hashed-feature space size (the paper hashes word n-grams into
#: a fixed bucket count; 4096 keeps the distribution tables broadcast-
#: sized at ANY corpus scale — the whole point of hashing the vocab)
_DSIR_B = 4096
#: stand-in "target distribution" slice: English documents
_DSIR_TARGET = "en"


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, {_SQL_WORDS_LOWER} AS w FROM documents),
    g AS (
        SELECT doc_id, lang, g
        FROM w, UNNEST(list_concat(w,
            CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
                 ELSE list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i+1]) END)) AS t(g)),
    b AS (
        SELECT doc_id, lang, {_sql_hash_bucket('g', _DSIR_B)} AS b FROM g),
    pd AS (
        SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY 1, 2, 3),
    dist AS (
        SELECT b, CAST(sum(cnt) AS BIGINT) AS r_cnt,
               CAST(sum(CASE WHEN lang = '{_DSIR_TARGET}' THEN cnt
                             ELSE 0 END) AS BIGINT) AS t_cnt
        FROM pd GROUP BY 1),
    tot AS (
        SELECT CAST(sum(r_cnt) AS BIGINT) AS r_tot,
               CAST(sum(t_cnt) AS BIGINT) AS t_tot
        FROM dist),
    ratio AS (
        SELECT b, CAST(ln((t_cnt + 1.0) / (t_tot + {_DSIR_B}))
                       - ln((r_cnt + 1.0) / (r_tot + {_DSIR_B}))
                   AS DECIMAL(18, 12)) AS w_b
        FROM dist CROSS JOIN tot),
    s AS (
        SELECT doc_id, sum(CAST(cnt AS DECIMAL(9, 0)) * w_b) AS s
        FROM pd JOIN ratio USING (b) GROUP BY 1)
    SELECT d.doc_id, coalesce(round(CAST(s.s AS DOUBLE), 4), 0.0) AS dsir_logw
    FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
    tags=("quality", "sampling", "dsir", "extension"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS'23 "Data Selection
    for Language Models via Importance Resampling" — public method):
    per-document log importance weight under hashed n-gram feature
    distributions, log p_target(doc) − p_raw(doc) =
    Σ_b cnt_b · [ln p̂_t(b) − ln p̂_r(b)], with word unigram+bigram
    features hashed into {_DSIR_B} buckets and add-one smoothing.
    Target distribution = the English slice; raw = the whole corpus.
    Downstream, resampling ∝ exp(weight) selects raw data that looks
    like the target — the published scalable alternative to model-
    based quality scoring.

    Scale shape (100 TB): ONE pass over the exploded feature stream
    into per-(doc, bucket) counts (map-side combined); the raw and
    target bucket distributions cascade off those counts — never a
    second corpus scan; both distribution tables are O({_DSIR_B})
    rows regardless of corpus size (that is WHY DSIR hashes features)
    and broadcast to the scoring join. Per-doc accumulation is
    DECIMAL-exact (order-independent across partitionings/engines,
    registry determinism rule); hash buckets use the engine-portable
    md5 fold (functions/quality.hash_bucket), so any engine can
    recompute which rows a resample would keep.

    Extension beyond the reference (no curation surface there;
    SURVEY.md §2.12)."""
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    wdf = docs.select(
        "doc_id", "lang", Q.words(F.lower(F.col("text"))).alias("w")
    )
    feats = wdf.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(F.col("w"), Q.word_ngrams(F.col("w"), 2))
        ).alias("g"),
    )
    per_doc = (
        feats.select(
            "doc_id", "lang", Q.hash_bucket(F.col("g"), _DSIR_B).alias("b")
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dist = per_doc.groupBy("b").agg(
        F.sum("cnt").alias("r_cnt"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET, F.col("cnt")).otherwise(
                F.lit(0)
            )
        ).alias("t_cnt"),
    )
    tot = dist.groupBy().agg(
        F.sum("r_cnt").alias("r_tot"), F.sum("t_cnt").alias("t_tot")
    )
    ratio = dist.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("t_cnt") + 1.0) / (F.col("t_tot") + _DSIR_B))
            - F.log((F.col("r_cnt") + 1.0) / (F.col("r_tot") + _DSIR_B))
        )
        .cast("decimal(18,12)")
        .alias("w_b"),
    )
    scored = (
        per_doc.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt").cast("decimal(9,0)") * F.col("w_b")).alias("s"))
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.round(F.col("s").cast("double"), 4), F.lit(0.0)).alias(
            "dsir_logw"
        ),
    )


#: temperature-sampling exponent (XLM-R / mC4 use 0.7 to up-weight
#: low-resource slices) and the epoch's sampling budget (fraction of
#: the corpus)
_TEMP_TAU = 0.7
_TEMP_BUDGET = 0.5


@query(
    "temperature_mixture_sample",
    oracle=f"""
    WITH n AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_s
        FROM documents GROUP BY 1),
    packed AS (
        SELECT list(n_s ORDER BY source) AS ns_arr,
               CAST(sum(n_s) AS BIGINT) AS n
        FROM n),
    tot AS (
        SELECT list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(ns_arr,
                           x -> pow(CAST(x AS DOUBLE), {_TEMP_TAU}))),
                   (a, b) -> a + b) AS z,
               n
        FROM packed),
    r AS (
        SELECT source,
               CAST(round(least(1.0,
                        (floor({_TEMP_BUDGET} * n)
                         * (pow(n_s, {_TEMP_TAU}) / z)) / n_s)
                    * 1000000, 0) AS BIGINT) AS rate_ppm
        FROM n CROSS JOIN tot)
    SELECT d.doc_id, d.source, r.rate_ppm
    FROM documents d JOIN r USING (source)
    WHERE {_sql_hash_bucket('CAST(doc_id AS VARCHAR)', 1_000_000)} < rate_ppm
    """,
    tags=("sampling", "mixing", "temperature", "extension"),
)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (the multilingual
    temperature-sampling knob of XLM-R / mC4, public method): the
    sampled epoch's source mixture follows q_s ∝ n_s^τ (τ = 0.7
    up-weights small sources relative to their raw share), realized as
    a per-source keep rate r_s = min(1, K·q_s / n_s) over a sampling
    budget K = ⌊{_TEMP_BUDGET} · N⌋, with membership decided by the
    engine-portable md5 hash bucket — no RNG, reproducible
    row-for-row across engines, partitionings and reruns. Where
    ``source_mixture_epoch`` applies FIXED per-source weights, this
    derives the weights FROM the measured source sizes.

    Determinism of the normalizer: z = Σ_s n_s^τ is a FLOAT sum, and
    a bare SUM() leaves its accumulation order to the engine — a
    last-ulp difference (across engines or partitionings) could flip
    ``round(…·1e6)`` by 1 ppm and change which doc_ids pass the hash
    gate. Both engines therefore fold the SAME doubles in the SAME
    source-sorted order: Spark ``aggregate(sorted array, 0.0, +)``,
    DuckDB ``list_reduce(list(… ORDER BY source), +)`` — bit-identical
    left-to-right summation, no order left to the engine. O(sources)
    array in one row — sources is a mixture-definition-sized set, not
    data-sized.

    Scale shape: one tiny per-source count (map-side combined) packed
    into a single sorted O(sources) row, rates derived by exploding it
    — ONE eagerly-built subplan broadcast back (the r7 shape nested a
    second broadcast(tot) inside broadcast(r), re-running the source
    scan and paying two serial broadcast materializations — the bulk
    of its flat ~2 s overhead at every SF). The corpus-side pass is a
    narrow filter at scan speed — no corpus shuffle at any scale.
    ``rate_ppm`` is an exact integer so the compare has no float
    column.
    """
    docs = load(spark, "documents", sf_dir)
    packed = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_s"))
        .groupBy()
        .agg(
            F.sort_array(
                F.collect_list(F.struct("source", "n_s"))
            ).alias("arr"),
            F.sum("n_s").alias("n"),
        )
        .withColumn(
            "z",
            F.aggregate(
                F.expr(
                    f"transform(arr, x -> pow(CAST(x.n_s AS DOUBLE), {_TEMP_TAU}D))"
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
        )
    )
    r = packed.select(
        F.explode("arr").alias("x"), "n", "z"
    ).select(
        F.col("x.source").alias("source"),
        F.round(
            F.least(
                F.lit(1.0),
                (
                    F.floor(_TEMP_BUDGET * F.col("n"))
                    * (F.pow(F.col("x.n_s"), F.lit(_TEMP_TAU)) / F.col("z"))
                )
                / F.col("x.n_s"),
            )
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("rate_ppm"),
    )
    return (
        docs.join(F.broadcast(r), "source")
        .filter(Q.hash_bucket("doc_id", 1_000_000) < F.col("rate_ppm"))
        .select("doc_id", "source", "rate_ppm")
    )


#: UniMax parameters: per-slice epoch cap E and the sampling budget as
#: a multiple of the corpus size (B = floor(1.5·N) examples — above
#: 1·N so the low-resource slices actually hit the epoch cap, the
#: regime UniMax was designed for).
_UNIMAX_EPOCHS = 2
_UNIMAX_BUDGET = 1.5


@query(
    "unimax_mixture_sample",
    oracle=f"""
    WITH n AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_l
        FROM documents GROUP BY 1),
    w AS (
        SELECT lang, n_l, {_UNIMAX_EPOCHS} * n_l AS cap,
               ROW_NUMBER() OVER (ORDER BY n_l, lang) AS i,
               COALESCE(SUM({_UNIMAX_EPOCHS} * n_l) OVER (
                   ORDER BY n_l, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_prev,
               COUNT(*) OVER () AS k,
               CAST(floor({_UNIMAX_BUDGET} * (SUM(n_l) OVER ())) AS BIGINT)
                   AS budget
        FROM n),
    c AS (
        SELECT *, (cap * (k - i + 1) <= budget - cum_prev) AS is_capped
        FROM w),
    s AS (
        SELECT *,
               SUM(CASE WHEN is_capped THEN 1 ELSE 0 END) OVER () AS n_capped,
               COALESCE(SUM(CASE WHEN is_capped THEN cap END) OVER (), 0)
                   AS capped_total
        FROM c),
    r AS (
        SELECT lang,
               CASE WHEN is_capped THEN CAST({_UNIMAX_EPOCHS} AS DOUBLE)
                    ELSE (CAST(budget - capped_total AS DOUBLE)
                          / CAST(k - n_capped AS DOUBLE))
                         / CAST(n_l AS DOUBLE) END AS rate
        FROM s),
    e AS (
        SELECT lang, CAST(floor(rate) AS INTEGER) AS full_epochs,
               CAST(round((rate - floor(rate)) * 1000000, 0) AS BIGINT)
                   AS frac_ppm
        FROM r)
    SELECT d.doc_id, d.lang,
           CAST(e.full_epochs
                + CASE WHEN {_sql_hash_bucket('CAST(doc_id AS VARCHAR)', 1_000_000)}
                            < e.frac_ppm
                       THEN 1 ELSE 0 END AS INTEGER) AS copies
    FROM documents d JOIN e USING (lang)
    WHERE e.full_epochs
          + CASE WHEN {_sql_hash_bucket('CAST(doc_id AS VARCHAR)', 1_000_000)}
                      < e.frac_ppm
                 THEN 1 ELSE 0 END > 0
    """,
    tags=("sampling", "mixing", "unimax", "extension"),
)
def unimax_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture sampling (Chung et al., ICLR'23 "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining" — public method): instead of a temperature knob, give
    every language slice as close to a UNIFORM share of the budget as
    possible subject to a per-slice epoch cap E — low-resource slices
    repeat up to E epochs, high-resource slices are downsampled to the
    leftover uniform share. The allocation is the classic waterfill:
    the threshold t with Σ_l min(E·n_l, t) = B, alloc_l = min(E·n_l, t).

    Solved here in CLOSED FORM over the O(langs) count table — no
    iterative driver loop: sort slices by capacity ascending; slice i
    is capped iff cap_i·(k−i+1) ≤ B − Σ_{{j<i}} cap_j (an all-INTEGER
    test, so the capped set is bit-identical across engines); the
    water level for the uncapped remainder is one double division of
    integer aggregates. Per-doc realization: ``copies`` = ⌊rate⌋ full
    epochs + 1 more iff the md5 hash bucket clears the fractional part
    in ppm — RNG-free, row-for-row reproducible (same convention as
    ``temperature_mixture_sample``, which this complements: that
    derives q_s ∝ n_s^τ, this derives the UniMax allocation).

    Scale shape: one map-side-combined per-lang count; every window
    here runs over the O(langs) MIXTURE table (mixture-definition
    sized, not data-sized — a global window over it is O(langs), never
    a corpus sort); the rate table broadcasts back and the corpus pass
    is a narrow filter at scan speed.
    """
    from pyspark.sql.window import Window

    docs = load(spark, "documents", sf_dir)
    asc = Window.orderBy("n_l", "lang")
    prev = asc.rowsBetween(Window.unboundedPreceding, -1)
    full = asc.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    e = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_l"))
        .withColumn("cap", F.lit(_UNIMAX_EPOCHS) * F.col("n_l"))
        .withColumn("i", F.row_number().over(asc))
        .withColumn(
            "cum_prev", F.coalesce(F.sum("cap").over(prev), F.lit(0))
        )
        .withColumn("k", F.count(F.lit(1)).over(full))
        .withColumn(
            "budget",
            F.floor(F.lit(_UNIMAX_BUDGET) * F.sum("n_l").over(full)).cast(
                "long"
            ),
        )
        .withColumn(
            "is_capped",
            F.col("cap") * (F.col("k") - F.col("i") + 1)
            <= F.col("budget") - F.col("cum_prev"),
        )
        .withColumn(
            "n_capped", F.sum(F.col("is_capped").cast("int")).over(full)
        )
        .withColumn(
            "capped_total",
            F.coalesce(
                F.sum(F.when(F.col("is_capped"), F.col("cap"))).over(full),
                F.lit(0),
            ),
        )
        .withColumn(
            "rate",
            F.when(
                F.col("is_capped"), F.lit(float(_UNIMAX_EPOCHS))
            ).otherwise(
                (
                    (F.col("budget") - F.col("capped_total")).cast("double")
                    / (F.col("k") - F.col("n_capped")).cast("double")
                )
                / F.col("n_l").cast("double")
            ),
        )
        .withColumn("full_epochs", F.floor("rate").cast("int"))
        .withColumn(
            "frac_ppm",
            F.round((F.col("rate") - F.floor("rate")) * 1_000_000, 0).cast(
                "long"
            ),
        )
        .select("lang", "full_epochs", "frac_ppm")
    )
    return (
        docs.join(F.broadcast(e), "lang")
        .withColumn(
            "copies",
            (
                F.col("full_epochs")
                + (Q.hash_bucket("doc_id", 1_000_000) < F.col("frac_ppm")).cast(
                    "int"
                )
            ).cast("int"),
        )
        .filter(F.col("copies") > 0)
        .select("doc_id", "lang", "copies")
    )


@query(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, unnest(w) AS term
        FROM (SELECT doc_id, lang, {_SQL_WORDS_LOWER} AS w FROM documents)),
    cnt AS (SELECT term, count(*) AS c FROM t GROUP BY term),
    tot AS (SELECT sum(c) AS n FROM cnt),
    sc AS (
        SELECT t.doc_id, t.lang, count(*) AS nw,
               sum(CAST(round(ln(cnt.c / tot.n), 8) AS DECIMAL(20,8))) AS s
        FROM t JOIN cnt USING (term) CROSS JOIN tot
        GROUP BY t.doc_id, t.lang),
    scored AS (
        SELECT doc_id, lang,
               round(-CAST(s AS DOUBLE) / nw, 4) AS avg_nll
        FROM sc),
    b AS (
        SELECT doc_id, lang, avg_nll,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY avg_nll, doc_id) AS nt
        FROM scored)
    SELECT doc_id, lang, avg_nll,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket,
           (nt < 3) AS keep
    FROM b
    """,
    tags=("quality", "perplexity", "ccnet", "extension"),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC'20 —
    public method): score every document under a language model (here
    the corpus-unigram LM, the same exactness route as
    ``unigram_lm_scores``: per-token log-prob rounded to 8 decimals
    then DECIMAL-summed, order/partitioning-independent), split each
    language into head/middle/tail perplexity terciles, keep
    head+middle — CCNet's published recipe for web-corpus quality
    stratification.

    Tercile assignment is exact ``ntile(3)`` semantics over
    (avg_nll, doc_id) per lang — deterministic (the score is rounded
    to 4 decimals and the id breaks ties) — but NOT a per-lang window:
    ``ntile(3) OVER (PARTITION BY lang ...)`` funnels every document
    of a language through ONE window task, a per-language global sort
    that dies on the dominant language of a 100 TB corpus. Instead,
    :func:`~..operators.quantiles.ntile_exact_grouped` assigns the
    identical buckets through count-balanced range ids + an
    O(langs × buckets) broadcast offset table (verified hash-identical
    to the ANSI window oracle). The vocabulary join is size-gated the
    same way: broadcast only while the measured vocab fits, shuffle
    join on ``term`` above the threshold — a web-scale vocabulary is
    corpus-sized, not dimension-sized. Only docs with >= 1 word
    appear (the LM is undefined on empty docs — same domain as
    unigram_lm_scores).
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    t = docs.select(
        "doc_id",
        "lang",
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
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("nw"), F.sum(logp).alias("s"))
    )
    scored = sc.select(
        "doc_id",
        "lang",
        F.round(-F.col("s").cast("double") / F.col("nw"), 4).alias("avg_nll"),
    )
    return ntile_exact_grouped(
        scored, ["lang"], ["avg_nll", "doc_id"], 3, out_col="nt"
    ).select(
        "doc_id",
        "lang",
        "avg_nll",
        F.when(F.col("nt") == 1, F.lit("head"))
        .when(F.col("nt") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        (F.col("nt") < 3).alias("keep"),
    )


#: hashed-feature bucket count for the linear quality classifier —
#: weights are exact multiples of 1/4096, so integer-unit accumulation
#: is lossless.
_FT_B = 4096
#: Knuth's multiplicative-hash constant: spreads bucket ids into
#: pseudo-random but fully deterministic stand-in weights.
_FT_MIX = 2654435761


@query(
    "linear_quality_classifier",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_SQL_WORDS_LOWER} AS w FROM documents),
    g AS (
        SELECT doc_id,
               list_concat(w,
                   CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
                        ELSE list_transform(range(1, len(w)),
                                            i -> w[i] || ' ' || w[i+1]) END)
                   AS g
        FROM w),
    s AS (
        SELECT doc_id, len(g) AS n_tok,
               list_reduce(list_prepend(0::BIGINT,
                   list_transform(g,
                       t -> ({_sql_hash_bucket('t', _FT_B)} * {_FT_MIX})
                            % {_FT_B} - {_FT_B // 2})),
                   (a, b) -> a + b) AS num
        FROM g)
    SELECT doc_id,
           -- + 0.0 folds IEEE negative zero (round of a tiny negative
           -- score) to +0.0 so both engines hash identically
           CASE WHEN n_tok > 0
                THEN round(CAST(num AS DOUBLE) / ({_FT_B}.0 * n_tok), 4) + 0.0
                ELSE 0.0 END AS ft_score,
           (n_tok > 0 AND num > 0) AS keep
    FROM s
    """,
    tags=("quality", "classifier", "extension"),
)
def linear_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering via a fastText-style linear text
    classifier (Joulin et al., EACL'17 "Bag of Tricks for Efficient
    Text Classification" — the public method behind the CCNet /
    LLaMA-lineage quality filters): hashed bag of word uni+bigrams,
    mean of per-feature weights, sign threshold. The weights here are
    a deterministic stand-in (Knuth multiplicative mix of the bucket
    id into exact multiples of 1/{_FT_B}) — a trained model would ship
    a real weight table through the identical plan: hash → weight
    lookup → mean → threshold is exactly fastText's inference path.

    Exactness: per-feature weights are integer UNITS (numerator over
    the fixed {_FT_B} denominator), so the per-doc accumulation is a
    BIGINT sum — order-independent across engines and partitionings by
    construction (the registry determinism rule, same reasoning as
    dsir_importance_weights' DECIMAL sums); the single double division
    happens once per doc on identical operands.

    Scale shape: one feature explode into a map-side-combined per-doc
    BIGINT sum — whole-stage codegen end to end, one narrow-key
    shuffle, zero Python. Two rejected shapes, both measured at sf1:
    an ``aggregate()`` higher-order fold (interpreted per-token lambda,
    154 s — the duplicated_spans r7 lesson), and carrying
    ``n_tok = size(g)`` through the explode as a group key (404 s:
    CollapseProject inlines a once-referenced alias, so the full
    regexp tokenization re-evaluated per EXPLODED row inside the
    aggregate). ``n_tok`` is instead ``count(t)`` in the SAME
    aggregate — explode_outer emits one NULL for empty docs and
    count() skips it, so the token count is exact with no carried
    expression. This shape: ~12 s at sf1. The "model" is O(1) in the
    plan (an arithmetic expression); a real weight table would be an
    O({_FT_B}) broadcast join on the exploded stream.
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    # w staged in its own projection — see classifier_calibration:
    # word_ngrams' element_at lambda re-evaluates outer-referenced
    # subtrees per element, so a raw tokenizer expression here is
    # O(n^2) re-tokenization per document
    wdf = docs.select("doc_id", Q.words(F.lower(F.col("text"))).alias("w"))
    w = F.col("w")
    g = F.concat(w, Q.word_ngrams(w, 2))
    feats = wdf.select(
        "doc_id",
        F.explode_outer(g).alias("t"),  # keep zero-token docs (NULL t)
    )
    unit = F.when(F.col("t").isNull(), F.lit(0).cast("long")).otherwise(
        (Q.hash_bucket(F.col("t"), _FT_B).cast("long") * F.lit(_FT_MIX))
        % F.lit(_FT_B)
        - F.lit(_FT_B // 2)
    )
    out = (
        feats.select("doc_id", "t", unit.alias("u"))
        .groupBy("doc_id")
        .agg(F.count("t").alias("n_tok"), F.sum("u").alias("num"))
    )
    return out.select(
        "doc_id",
        F.when(
            F.col("n_tok") > 0,
            # + 0.0 folds IEEE -0.0 (round of a tiny negative score)
            # to +0.0, mirroring the oracle — the hash formats floats
            # by value STRING, and "-0" != "0"
            F.round(
                F.col("num").cast("double")
                / (F.lit(float(_FT_B)) * F.col("n_tok")),
                4,
            )
            + F.lit(0.0),
        )
        .otherwise(F.lit(0.0))
        .alias("ft_score"),
        ((F.col("n_tok") > 0) & (F.col("num") > 0)).alias("keep"),
    )


#: word n-gram order for the SoftDeDup commonness measure — 4-grams,
#: long enough that repeats signal shared boilerplate rather than
#: common phrases, short enough that most docs have many.
_SD_N = 4


@query(
    "softdedup_weights",
    oracle=f"""
    WITH w AS (SELECT doc_id, {{words}} AS w FROM documents),
    g AS (
        SELECT doc_id, unnest({{grams}}) AS gram
        FROM w),
    cnt AS (SELECT gram, COUNT(*) AS cf FROM g GROUP BY gram),
    doc AS (
        SELECT g.doc_id, COUNT(*) AS n_grams,
               CAST(SUM(cnt.cf) AS BIGINT) AS cf_sum
        FROM g JOIN cnt USING (gram) GROUP BY g.doc_id)
    SELECT d.doc_id,
           COALESCE(doc.n_grams, 0) AS n_grams,
           COALESCE(doc.cf_sum, 0) AS cf_sum,
           round(1.0 / (1.0 + CAST(COALESCE(doc.cf_sum, 0) AS DOUBLE)
                              / GREATEST(COALESCE(doc.n_grams, 1), 1)),
                 9) AS weight
    FROM documents d LEFT JOIN doc USING (doc_id)
    """.format(words=_SQL_WORDS_LOWER, grams=_sql_word_ngrams(_SD_N)),
    tags=("dedup", "softdedup", "quality", "extension"),
)
def softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup data reweighting (He et al., ACL'24 Findings
    "SoftDedup: an Efficient Data Reweighting Method for Speeding Up
    Language Model Pre-training" — public method): instead of DROPPING
    near-duplicates, downweight documents by their "data commonness" —
    how often their word n-grams recur across the corpus — so common
    boilerplate is sampled less without discarding its unique tail.

    Commonness here is the mean corpus occurrence count of the doc's
    {n}-grams; the sampling weight is ``1 / (1 + commonness)``,
    rounded to 9 dp. Exactness route: the per-doc accumulation is a
    BIGINT sum of BIGINT per-gram corpus counts — order- and
    partitioning-independent — with exactly ONE double division at the
    end, so both engines compute bit-identical weights (the
    ``linear_quality_classifier`` integer-units lesson).

    Scale shape (100 TB): gram->count is ONE map-side-combined
    shuffle keyed by gram; the count join back is size-gated —
    broadcast while the measured gram vocabulary fits, shuffle join
    on ``gram`` above the threshold (a web-corpus gram table is
    corpus-sized, not dimension-sized); the per-doc sum shuffles
    (doc_id) once with partial aggregation. The gram EXPLOSION runs
    twice (count side + join side — ADVICE r9): tokenization is
    cheap, narrow, and pipelined into each consumer, whereas
    checkpointing the exploded gram stream would materialize a
    relation ~10x the corpus — the recompute is the cheaper side of
    that trade at every scale measured (only the O(vocab) count table
    is checkpointed, inside ``size_gated_broadcast``). Docs shorter
    than {n} words have no grams and keep weight 1.0 via the left
    join.
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    wdf = docs.select(
        "doc_id", Q.words(F.lower(F.col("text"))).alias("w")
    )
    grams = wdf.select(
        "doc_id", F.explode(Q.word_ngrams(F.col("w"), _SD_N)).alias("gram")
    )
    cnt = size_gated_broadcast(
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cf"))
    )
    doc = (
        grams.join(cnt, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("cf").alias("cf_sum"),
        )
    )
    out = docs.select("doc_id").join(doc, "doc_id", "left")
    n_g = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    cf = F.coalesce(F.col("cf_sum"), F.lit(0)).cast("long")
    return out.select(
        "doc_id",
        n_g.alias("n_grams"),
        cf.alias("cf_sum"),
        F.round(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + cf.cast("double")
                / F.greatest(n_g, F.lit(1).cast("long"))
            ),
            9,
        ).alias("weight"),
    )


softdedup_weights.__doc__ = softdedup_weights.__doc__.format(n=_SD_N)


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


#: DoReMi multiplicative-weights step size (one update step of the
#: published Group-DRO loop, run as a batch query).
_DOREMI_ETA = 1.0


@query(
    "doremi_domain_weights",
    oracle=f"""
    WITH t AS (
        SELECT lang, unnest(w) AS term
        FROM (SELECT lang, {{words}} AS w FROM documents)),
    cnt AS (SELECT term, count(*) AS c FROM t GROUP BY term),
    tot AS (SELECT sum(c) AS n FROM cnt),
    per_lang AS (
        SELECT t.lang, count(*) AS n_tok,
               sum(CAST(round(ln(cnt.c / tot.n), 8) AS DECIMAL(20,8))) AS s
        FROM t JOIN cnt USING (term) CROSS JOIN tot
        GROUP BY t.lang),
    scored AS (
        SELECT lang, n_tok,
               round(-CAST(s AS DOUBLE) / n_tok, 6) AS avg_nll
        FROM per_lang),
    ex AS (
        SELECT lang, n_tok, avg_nll,
               round(avg_nll - min(avg_nll) OVER (), 6) AS excess,
               sum(n_tok) OVER () AS all_tok
        FROM scored),
    un AS (
        SELECT lang, n_tok, avg_nll, excess,
               CAST(round((CAST(n_tok AS DOUBLE) / all_tok)
                          * exp({_DOREMI_ETA} * excess), 9)
                    AS DECIMAL(20,9)) AS u
        FROM ex)
    SELECT lang, CAST(n_tok AS BIGINT) AS n_tok, avg_nll, excess,
           round(CAST(u AS DOUBLE) / CAST(sum(u) OVER () AS DOUBLE), 6)
               AS weight
    FROM un
    """.format(words=_SQL_WORDS_LOWER),
    tags=("mixture", "doremi", "quality", "extension"),
)
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi domain-reweighting step (Xie et al., NeurIPS'23
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining" — public method): domains (languages here) whose
    text scores HIGH excess loss under a proxy model get their
    mixture weight multiplied up, ``w_i ∝ α_i · exp(η · excess_i)``,
    normalized. The proxy loss is the corpus-unigram LM's per-domain
    average NLL (the same exactness route as ``unigram_lm_scores``);
    the reference mixture α is the corpus token share.

    Exactness route: per-token log-probs rounded to 8 dp and
    DECIMAL-summed per domain (order-independent); avg_nll and excess
    rounded to 6 dp BEFORE the exp so both engines exponentiate
    bit-identical inputs; the unnormalized weights are rounded to 9 dp
    and DECIMAL-summed for the normalizer — the one cross-domain sum
    is exact, so the final division is bit-identical.

    Scale shape: token explode + one size-gated vocabulary join (the
    unigram_lm plan) feeding a groupBy(domain) — O(domains) rows from
    there on; the window normalizations run over the O(domains) table,
    never the corpus. The token explode itself runs twice (count side
    + join side — ADVICE r9): recomputing the narrow, pipelined
    tokenization beats materializing a corpus-sized exploded stream;
    only the O(vocab) count table is checkpointed (inside
    ``size_gated_broadcast``).
    """
    from pyspark.sql import Window

    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    t = docs.select(
        "lang",
        F.explode_outer(Q.words(F.lower(F.col("text")))).alias("term"),
    ).filter(F.col("term").isNotNull())
    cnt = size_gated_broadcast(
        t.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy().agg(F.sum("c").alias("n"))
    logp = F.round(F.log(F.col("c") / F.col("n")), 8).cast("decimal(20,8)")
    per_lang = (
        t.join(cnt, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum(logp).alias("s"))
    )
    scored = per_lang.select(
        "lang",
        "n_tok",
        F.round(-F.col("s").cast("double") / F.col("n_tok"), 6).alias(
            "avg_nll"
        ),
    )
    w_all = Window.partitionBy()
    ex = scored.select(
        "lang",
        "n_tok",
        "avg_nll",
        F.round(
            F.col("avg_nll") - F.min("avg_nll").over(w_all), 6
        ).alias("excess"),
        F.sum("n_tok").over(w_all).alias("all_tok"),
    )
    un = ex.select(
        "lang",
        "n_tok",
        "avg_nll",
        "excess",
        F.round(
            (F.col("n_tok").cast("double") / F.col("all_tok"))
            * F.exp(F.lit(_DOREMI_ETA) * F.col("excess")),
            9,
        )
        .cast("decimal(20,9)")
        .alias("u"),
    )
    return un.select(
        "lang",
        F.col("n_tok").cast("long").alias("n_tok"),
        "avg_nll",
        "excess",
        F.round(
            F.col("u").cast("double")
            / F.sum("u").over(w_all).cast("double"),
            6,
        ).alias("weight"),
    )


#: fitted repetition-value decay constant from Muennighoff et al.
#: (NeurIPS'23, "Scaling Data-Constrained Language Models"): repeated
#: epochs decay in value with half-life ~r_d* ≈ 15.39 epochs.
_DC_RSTAR = 15.39
#: token budget as a multiple of the corpus's total RAW tokens —
#: the "how many epochs can I afford" planning input.
_DC_BUDGET_X = 2.0


@query(
    "data_constrained_epochs",
    oracle=f"""
    WITH d AS (
        SELECT source, md5(coalesce(text, '')) AS fp,
               len({{words}}) AS nw
        FROM documents),
    u AS (
        SELECT source, fp, count(*) AS copies, min(nw) AS nw
        FROM d GROUP BY source, fp),
    per_src AS (
        SELECT source,
               CAST(sum(copies) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_unique_docs,
               CAST(sum(copies * nw) AS BIGINT) AS total_tokens,
               CAST(sum(nw) AS BIGINT) AS unique_tokens
        FROM u GROUP BY source),
    g AS (
        SELECT *, sum(total_tokens) OVER () AS all_total
        FROM per_src)
    SELECT source, n_docs, n_unique_docs, total_tokens, unique_tokens,
           round(greatest(
               ({_DC_BUDGET_X} * all_total)
                   * (CAST(total_tokens AS DOUBLE) / all_total)
                   / unique_tokens - 1.0, 0.0), 6) AS repeats,
           round(unique_tokens
                 + unique_tokens * {_DC_RSTAR}
                   * (1.0 - exp(-round(greatest(
                       ({_DC_BUDGET_X} * all_total)
                           * (CAST(total_tokens AS DOUBLE) / all_total)
                           / unique_tokens - 1.0, 0.0), 6)
                       / {_DC_RSTAR})), 4) AS effective_tokens
    FROM g
    """.format(words=_SQL_WORDS_LOWER),
    tags=("mixture", "scaling", "quality", "extension"),
)
def data_constrained_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-epoch value accounting per source (Muennighoff et
    al., NeurIPS'23 "Scaling Data-Constrained Language Models" —
    public method): when the token budget exceeds the unique data,
    repeated epochs still help but decay in value; the paper's fitted
    form counts ``U + U·r*·(1 − exp(−R/r*))`` effective tokens for
    ``R`` repeat epochs over ``U`` unique tokens (r* ≈ 15.39). This
    query computes, per source: raw vs unique (exact-dedup by md5
    content fingerprint) token counts, the repeat epochs a
    proportional-to-raw-size allocation of a {x}× budget implies, and
    the effective-token value of that allocation — the planning table
    for "which sources are worth re-epoching".

    Exactness: all counts are BIGINTs off one (source, fingerprint)
    aggregate; repeats is rounded to 6 dp BEFORE the exp so both
    engines exponentiate identical inputs; one window-total over the
    O(sources) table.

    Scale shape: one narrow scan projecting (source, md5(text),
    n_words) → groupBy(source, fp) with map-side combine (the
    exact-dedup shuffle, keyed by fingerprint so duplicates collide)
    → groupBy(source) → O(sources) math. No Python, no second corpus
    pass — the same single-shuffle shape as ``exact_dedup_stats``.
    """
    from pyspark.sql import Window

    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    d = docs.select(
        "source",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
        F.size(Q.words(F.lower(F.col("text")))).alias("nw"),
    )
    u = d.groupBy("source", "fp").agg(
        F.count(F.lit(1)).alias("copies"), F.min("nw").alias("nw")
    )
    per_src = u.groupBy("source").agg(
        F.sum("copies").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique_docs"),
        F.sum(F.col("copies") * F.col("nw")).cast("long").alias(
            "total_tokens"
        ),
        F.sum("nw").cast("long").alias("unique_tokens"),
    )
    g = per_src.withColumn(
        "all_total", F.sum("total_tokens").over(Window.partitionBy())
    )
    repeats = F.round(
        F.greatest(
            (F.lit(_DC_BUDGET_X) * F.col("all_total"))
            * (F.col("total_tokens").cast("double") / F.col("all_total"))
            / F.col("unique_tokens")
            - F.lit(1.0),
            F.lit(0.0),
        ),
        6,
    )
    return g.select(
        "source",
        "n_docs",
        "n_unique_docs",
        "total_tokens",
        "unique_tokens",
        repeats.alias("repeats"),
        F.round(
            F.col("unique_tokens")
            + F.col("unique_tokens")
            * F.lit(_DC_RSTAR)
            * (F.lit(1.0) - F.exp(-repeats / F.lit(_DC_RSTAR))),
            4,
        ).alias("effective_tokens"),
    )


data_constrained_epochs.__doc__ = data_constrained_epochs.__doc__.format(
    x=_DC_BUDGET_X
)


@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH w AS (SELECT source, {_SQL_WORDS_LOWER} AS w FROM documents),
    d AS (
        SELECT DISTINCT source,
               md5(array_to_string(w[1:8], ' ')) AS fp
        FROM w WHERE len(w) >= 1),
    sz AS (SELECT source, count(*) AS n FROM d GROUP BY source),
    ov AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM d a JOIN d b USING (fp)
        WHERE a.source < b.source
        GROUP BY a.source, b.source)
    SELECT ov.source_a, ov.source_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(ov.n_shared AS BIGINT) AS n_shared,
           round(CAST(ov.n_shared AS DOUBLE)
                 / (sa.n + sb.n - ov.n_shared), 9) AS jaccard
    FROM ov
    JOIN sz sa ON sa.source = ov.source_a
    JOIN sz sb ON sb.source = ov.source_b
    """,
    tags=("dedup", "audit", "overlap", "extension"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source document-overlap audit (the WIMBD cross-corpus
    overlap analysis — Elazar et al., ICLR'24 "What's In My Big
    Data?", public method): for every pair of sources, how many
    DISTINCT document OPENINGS (md5 of the first 8 lowercased words —
    the prefix-fingerprint flavor of WIMBD's common-snippet analysis,
    which also catches re-hosted docs with divergent tails) they
    share, and the Jaccard overlap of their distinct-opening sets.
    The standard pre-mixing audit: high overlap between two sources
    means their mixture weights double-count the same text (and
    train/test splits drawn per-source leak).

    Plan: one narrow projection to (source, fp) → map-side-combined
    DISTINCT (the dedup shuffle, keyed by fp) → self-join on fp.
    Fingerprints shared by k sources meet in one fp-partition and
    expand to k(k-1)/2 pairs map-side off that single exchange — the
    join never shuffles the corpus twice (both sides are the same
    checkpointed relation). Output is O(sources²) rows; per-source
    sizes broadcast back onto it. Exactness: counts are BIGINTs; one
    double division per pair, rounded to 9 dp.

    A 100 TB caveat the plan already handles: a fingerprint present
    in EVERY source expands quadratically in the number of sources —
    bounded by the source universe (O(sources²) per fp), not by
    corpus size.
    """
    from ..operators.lifecycle import tracked_local_checkpoint

    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    ws = Q.words(F.lower(F.col("text")))
    d = tracked_local_checkpoint(
        docs.filter(F.size(ws) >= 1)
        .select(
            "source",
            F.md5(F.concat_ws(" ", F.slice(ws, 1, 8))).alias("fp"),
        )
        .distinct()
    )
    sz = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = d.select(F.col("source").alias("source_a"), "fp")
    b = d.select(F.col("source").alias("source_b"), "fp")
    ov = (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sza = F.broadcast(sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a")))
    szb = F.broadcast(sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b")))
    return (
        ov.join(sza, "source_a")
        .join(szb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                9,
            ).alias("jaccard"),
        )
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
    # w staged in its own projection — see classifier_calibration:
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


@query(
    "classifier_calibration",
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
        SELECT doc_id, len(g) AS n_tok,
               list_reduce(list_prepend(0::BIGINT,
                   list_transform(g,
                       t -> ({{bucket}} * {{mix}})
                            % {{b}} - {{b}} // 2)),
                   (a, b) -> a + b) AS num,
               (n >= 10 AND stop_frac >= 0.01) AS rule_pass
        FROM g),
    scored AS (
        SELECT doc_id, num, n_tok, rule_pass,
               CASE WHEN n_tok > 0
                    THEN round(CAST(num AS DOUBLE) / ({{b}}.0 * n_tok), 4)
                         + 0.0
                    ELSE 0.0 END AS ft_score
        FROM s),
    deciled AS (
        SELECT *, ntile(10) OVER (ORDER BY ft_score, doc_id) AS decile
        FROM scored)
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rule_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rule_pass,
           round(sum(CASE WHEN rule_pass THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS rule_pass_rate,
           round(CAST(sum(num) AS DOUBLE)
                 / ({{b}}.0 * greatest(sum(n_tok), 1)), 6)
               AS token_weighted_score
    FROM deciled GROUP BY 1
    """.format(
        words=_SQL_WORDS_LOWER,
        stops=_STOPS_SQL,
        bucket=_sql_hash_bucket("t", _FT_B),
        mix=_FT_MIX,
        b=_FT_B,
    ),
    tags=("quality", "classifier", "evaluation", "extension"),
)
def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve of the fastText-style linear quality score
    (``linear_quality_classifier``) against an independent rule-based
    keep verdict — the eval every model-based filter deployment runs
    before trusting scores at corpus scale (the FineWeb-Edu /
    DataComp-LM practice: bin classifier scores, inspect agreement
    per bin). Docs are cut into EXACT score deciles; each decile
    reports size, the rule-pass count/rate, and the token-weighted
    mean score.

    The rule label here is a cheap independent heuristic (word count
    ≥ 10 AND distinct-stopword-hits / words ≥ 0.01) — distinct
    signals from the classifier's hashed n-grams, so agreement is
    informative.

    Exactness: deciles via :func:`~..operators.quantiles.ntile_exact`
    over the (rounded score, doc_id) total order — no global-sort
    window; per-decile outputs are BIGINT sums (pass counts, score
    NUMERATORS in integer units over the fixed {b} denominator;
    n_tok) with one final IEEE division each — bit-identical across
    engines, the ``linear_quality_classifier`` route.

    Scale shape: one feature explode into a map-side-combined per-doc
    BIGINT sum (the classifier plan), a narrow per-doc rule stage,
    the ntile range-id machinery (no single-task stage), and an
    O(10)-row output aggregate.
    """
    from ..operators.quantiles import ntile_exact

    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    # Materialize the word array in its OWN projection before any
    # consumer (r12): word_ngrams' gram lambda indexes the token array
    # with element_at, and a lambda that references anything but its
    # bound variables re-evaluates the referenced subtree PER ELEMENT
    # — with ``w`` as the raw words(lower(text)) expression every
    # bigram position re-tokenized the whole document (O(n²) per doc;
    # the NOTES round-12 HOF lesson). As a non-cheap alias referenced
    # more than once, ``w`` is safe from CollapseProject inlining.
    # sf1 A/B: 61 s / 1312 CPU-s → see OPTIMIZATION_r12.md.
    wdf = docs.select(
        "doc_id", Q.words(F.lower(F.col("text"))).alias("w")
    )
    w = F.col("w")
    g = F.concat(w, Q.word_ngrams(w, 2))
    feats = wdf.select(
        "doc_id", F.explode_outer(g).alias("t")
    )
    unit = F.when(F.col("t").isNull(), F.lit(0).cast("long")).otherwise(
        (Q.hash_bucket(F.col("t"), _FT_B).cast("long") * F.lit(_FT_MIX))
        % F.lit(_FT_B)
        - F.lit(_FT_B // 2)
    )
    per_doc = (
        feats.select("doc_id", "t", unit.alias("u"))
        .groupBy("doc_id")
        .agg(F.count("t").alias("n_tok"), F.sum("u").alias("num"))
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
    scored = per_doc.join(rule, "doc_id").select(
        "doc_id",
        "num",
        "n_tok",
        "rule_pass",
        F.when(
            F.col("n_tok") > 0,
            F.round(
                F.col("num").cast("double")
                / (F.lit(float(_FT_B)) * F.col("n_tok")),
                4,
            )
            + F.lit(0.0),
        )
        .otherwise(F.lit(0.0))
        .alias("ft_score"),
    )
    deciled = ntile_exact(scored, ["ft_score", "doc_id"], 10, out_col="decile")
    return deciled.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rule_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_rule_pass"),
        F.round(
            F.sum(F.when(F.col("rule_pass"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("rule_pass_rate"),
        F.round(
            F.sum("num").cast("double")
            / (
                F.lit(float(_FT_B))
                * F.greatest(F.sum("n_tok"), F.lit(1)).cast("double")
            ),
            6,
        ).alias("token_weighted_score"),
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
    (/root/reference/src/transform_load.py) — extension surface.
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
    (/root/reference/src/transform_load.py) — extension surface.
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


#: bucket count for the per-source distribution audit (same hashed-
#: vocabulary rationale as DSIR: the table stays O(B) at any corpus)
_KL_B = 4096


@query(
    "source_unigram_kl",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, {_SQL_WORDS_LOWER} AS w FROM documents),
    tok AS (
        SELECT source, {_sql_hash_bucket('g', _KL_B)} AS b
        FROM w, UNNEST(w.w) AS t(g)),
    cnt AS (
        SELECT source, b, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
    gb AS (
        SELECT b, CAST(sum(c) AS BIGINT) AS g FROM cnt GROUP BY 1),
    ns AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM cnt GROUP BY 1),
    tot AS (SELECT CAST(sum(g) AS BIGINT) AS n FROM gb),
    dense AS (
        SELECT s.source, s.n_s, r.b,
               coalesce(c.c, 0) AS c,
               coalesce(g.g, 0) AS g,
               t.n
        FROM ns s
        CROSS JOIN (SELECT unnest(range(0, {_KL_B})) AS b) r
        CROSS JOIN tot t
        LEFT JOIN cnt c ON c.source = s.source AND c.b = r.b
        LEFT JOIN gb g ON g.b = r.b),
    terms AS (
        SELECT source, n_s,
               CAST(c + 1 AS DECIMAL(18, 0))
                 * CAST(ln(((c + 1.0) * (n + {_KL_B}.0))
                           / ((n_s + {_KL_B}.0) * (g + 1.0)))
                        AS DECIMAL(18, 12)) AS kl_num,
               abs(CAST(c + 1 AS DECIMAL(19, 0)) * (n + {_KL_B})
                   - CAST(g + 1 AS DECIMAL(19, 0)) * (n_s + {_KL_B}))
                   AS tv_num,
               (n_s + {_KL_B}.0) * (n + {_KL_B}.0) AS denom
        FROM dense)
    SELECT source,
           max(n_s) AS n_tokens,
           round(CAST(sum(kl_num) AS DOUBLE) / max(n_s + {_KL_B}.0), 6)
               AS kl_nats,
           round(CAST(sum(tv_num) AS DOUBLE) / (2.0 * max(denom)), 6)
               AS tv_dist
    FROM terms GROUP BY source
    """,
    tags=("quality", "distribution", "drift", "extension"),
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution divergence from the corpus:
    add-one-smoothed KL(p_source ‖ p_corpus) in nats and exact total
    variation distance, over a hashed {_KL_B}-bucket vocabulary — the
    standard domain-drift diagnostic feeding mixture decisions
    (complements ``dsir_importance_weights``' per-doc weights and
    ``doremi_domain_weights``' reweighting step; hashing rationale as
    in Xie et al. NeurIPS'23: the distribution tables stay O(B) at
    any corpus size).

    Exactness: KL terms are ``(c+1) × DECIMAL-cast ln(ratio)`` summed
    as DECIMAL (order-independent; the ratio is the same IEEE op
    sequence in both engines — the dsir/doremi ln-parity precedent),
    one final double division per source. TV is fully exact integer
    arithmetic (|(c+1)(N+B) − (g+1)(N_s+B)| summed as DECIMAL) with
    one division. ALL {_KL_B} buckets are enumerated per source
    (smoothing gives zero-count buckets nonzero mass), so the bucket
    set is engine-independent.

    Scale shape (100 TB): one tokenize + map-side-combined
    (source, bucket) count — the only corpus-sized stage; everything
    after runs on O(sources × {_KL_B}) rows, broadcast-joined.

    Extension beyond the reference (no curation surface there)."""
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    cnt = (
        docs.select(
            "source",
            F.explode(Q.words(F.lower(F.col("text")))).alias("g"),
        )
        .select("source", Q.hash_bucket(F.col("g"), _KL_B).alias("b"))
        .groupBy("source", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    gb = cnt.groupBy("b").agg(F.sum("c").alias("g"))
    ns = cnt.groupBy("source").agg(F.sum("c").alias("n_s"))
    tot = gb.groupBy().agg(F.sum("g").alias("n"))
    buckets = spark.range(_KL_B).select(F.col("id").cast("int").alias("b"))
    dense = (
        ns.crossJoin(F.broadcast(buckets))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(cnt), ["source", "b"], "left")
        .join(F.broadcast(gb), "b", "left")
        .select(
            "source",
            "n_s",
            "n",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("g", F.lit(0)).alias("g"),
        )
    )
    kl_num = (F.col("c") + 1).cast("decimal(18,0)") * F.log(
        ((F.col("c") + F.lit(1.0)) * (F.col("n") + F.lit(float(_KL_B))))
        / (
            (F.col("n_s") + F.lit(float(_KL_B)))
            * (F.col("g") + F.lit(1.0))
        )
    ).cast("decimal(18,12)")
    tv_num = F.abs(
        (F.col("c") + 1).cast("decimal(19,0)") * (F.col("n") + _KL_B)
        - (F.col("g") + 1).cast("decimal(19,0)") * (F.col("n_s") + _KL_B)
    )
    denom = (F.col("n_s") + F.lit(float(_KL_B))) * (
        F.col("n") + F.lit(float(_KL_B))
    )
    return (
        dense.select(
            "source",
            "n_s",
            kl_num.alias("kl_num"),
            tv_num.alias("tv_num"),
            denom.alias("denom"),
        )
        .groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("kl_num").cast("double")
                / F.max(F.col("n_s") + F.lit(float(_KL_B))),
                6,
            ).alias("kl_nats"),
            F.round(
                F.sum("tv_num").cast("double") / (F.lit(2.0) * F.max("denom")),
                6,
            ).alias("tv_dist"),
        )
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
    verdict and the fastText-style linear classifier's sign (both as
    in ``classifier_calibration``) — the standard inter-rater
    agreement statistic a filter-deployment eval reports next to the
    calibration curve (chance-corrected: two filters that both pass
    90% of docs agree 82% by luck alone).

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
    # (see classifier_calibration / NOTES round-12 HOF lesson)
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
