"""Deduplication queries over ``documents``.

The substring and gram queries are oracle-checked. MinHash-LSH relies
on Spark-side hashing, so ``minhash_near_dups`` gets a rows-only check
here, a full golden in ``data_outputs/`` and behavioural tests in
``tests/test_dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.quality import fold_case_sql, words_sql
from ..operators.dedup import minhash_near_duplicates
from .registry import query

#: (doc_id, ts): the case-folded word array of every document — the
#: DuckDB form of the tokens the span and gram operators build
_SQL_DOC_TOKENS = (
    f"SELECT doc_id, {words_sql(fold_case_sql('text'))} AS ts FROM documents"
)


@query("minhash_near_dups", oracle=None, tags=("dedup", "lsh", "extension"))
def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs (rows-only check: the
    crc32 sketch and the Spark xxhash64 text fingerprint have no DuckDB
    mirror). Accuracy is asserted against exact Jaccard in
    tests/test_dedup.py."""
    docs = load(spark, "documents", sf_dir)
    return minhash_near_duplicates(
        docs, "doc_id", "text", k=5, num_hashes=64, bands=16, min_jaccard=0.4
    )


#: exact duplicated-span parameters shared by query and oracle:
#: 5-token grams — every repeated substring of >= 5 tokens is covered.
_SPAN_K = 5

#: DuckDB mirror of operators/spans.py::gram_occurrences +
#: duplicated_spans — same normalization, same gap-and-islands merge.
_SQL_SPANS = f"""
    WITH toks AS ({_SQL_DOC_TOKENS}),
    occ AS (
        SELECT doc_id, i AS pos, array_to_string(ts[i:i + {_SPAN_K - 1}], ' ') AS g
        FROM toks, UNNEST(range(1, len(ts) - {_SPAN_K} + 2)) AS r(i)
        WHERE len(ts) >= {_SPAN_K}
    ),
    dup AS (SELECT g FROM occ GROUP BY g HAVING COUNT(*) >= 2),
    hits AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (g)),
    brks AS (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER w <= {_SPAN_K}
                    THEN 0 ELSE 1 END AS brk
        FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM brks
    ),
    spans AS (
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT)                 AS span_start,
               CAST(MAX(pos) + {_SPAN_K - 1} AS BIGINT) AS span_end
        FROM isl GROUP BY doc_id, island
    )
"""


@query(
    "duplicated_spans",
    oracle=_SQL_SPANS
    + """
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)                          AS n_spans,
           CAST(SUM(span_end - span_start + 1) AS BIGINT)    AS dup_tokens,
           CAST(MAX(span_end - span_start + 1) AS BIGINT)    AS max_span
    FROM spans GROUP BY doc_id
    """,
    tags=("dedup", "substring", "extension"),
)
def duplicated_spans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-dedup profile (Lee et al. ACL'22 semantics at
    gram granularity): per document, the maximal spans covered by
    corpus-repeated 5-token grams — span count, duplicated-token
    mass, and longest span. The decision input for "trim the
    boilerplate, keep the document"."""
    from ..operators.spans import duplicated_spans

    docs = load(spark, "documents", sf_dir)
    spans = duplicated_spans(docs, k=_SPAN_K)
    span_len = F.col("span_end") - F.col("span_start") + 1
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(span_len).alias("dup_tokens"),
        F.max(span_len).alias("max_span"),
    )


@query(
    "dup_gram_stats",
    oracle=f"""
    WITH toks AS ({_SQL_DOC_TOKENS}),
    occ AS (
        SELECT doc_id, array_to_string(ts[i:i + {_SPAN_K - 1}], ' ') AS g
        FROM toks, UNNEST(range(1, len(ts) - {_SPAN_K} + 2)) AS r(i)
        WHERE len(ts) >= {_SPAN_K}
    )
    SELECT g AS gram,
           CAST(COUNT(*) AS BIGINT)               AS occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM occ GROUP BY g HAVING COUNT(*) >= 2
    ORDER BY occurrences DESC, gram LIMIT 20
    """,
    tags=("dedup", "substring", "extension"),
)
def dup_gram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaviest duplicated 5-grams corpus-wide (occurrences + doc
    frequency) — the "what IS this boilerplate" companion to
    duplicated_spans. Total order pinned by (occurrences DESC, gram)
    before LIMIT so the top-20 is deterministic.

    Counting is hash-first (``operators/spans.top_dup_grams``): gram
    STRINGS are reconstructed for the boundary survivors only — the
    all-strings path this replaces spent an interpreted
    slice+concat_ws per corpus gram (65 s → ~4 s engine at sf1)."""
    from ..operators.spans import top_dup_grams

    docs = load(spark, "documents", sf_dir)
    return top_dup_grams(docs, k=_SPAN_K, min_count=2, top_n=20)


@query(
    "substring_dedup_rewrite",
    oracle=f"""
    WITH toks AS ({_SQL_DOC_TOKENS}),
    occ AS (
        SELECT doc_id, i AS pos, array_to_string(ts[i:i + {_SPAN_K - 1}], ' ') AS g
        FROM toks, UNNEST(range(1, len(ts) - {_SPAN_K} + 2)) AS r(i)
        WHERE len(ts) >= {_SPAN_K}
    ),
    ranked AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        FROM occ
    ),
    removals AS (SELECT doc_id, pos FROM ranked WHERE rn >= 2),
    brks AS (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER w <= {_SPAN_K}
                    THEN 0 ELSE 1 END AS brk
        FROM removals WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM brks
    ),
    spans AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SPAN_K - 1} AS e
        FROM isl GROUP BY doc_id, island
    ),
    kept AS (
        SELECT t.doc_id, r.i, t.ts[r.i] AS tok
        FROM toks t, UNNEST(range(1, len(t.ts) + 1)) AS r(i)
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = t.doc_id AND r.i BETWEEN s.s AND s.e)
    ),
    agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS kept_tokens,
               array_to_string(list(tok ORDER BY i), ' ') AS kept_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.ts) AS BIGINT) AS orig_tokens,
           CAST(len(t.ts) AS BIGINT) - coalesce(a.kept_tokens, 0)
               AS removed_tokens,
           coalesce(a.kept_text, '') AS kept_text
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    tags=("dedup", "substring", "rewrite", "extension"),
)
def substring_dedup_rewrite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup REWRITE (Lee et al. ACL'22 ExactSubstr,
    "remove all but one occurrence"): the action stage that consumes
    ``duplicated_spans``' analysis — every corpus-repeated >= 5-token
    span is CUT from each document except the gram's globally first
    occurrence, and the rewritten (normalized) text is emitted with
    before/after token counts. See
    ``operators/spans.py::substring_dedup_rewrite`` for the plan
    shape (hash grams, keep-first per gram, islands, anti-join,
    doc-local rebuild)."""
    from ..operators.spans import substring_dedup_rewrite

    docs = load(spark, "documents", sf_dir)
    return substring_dedup_rewrite(docs, k=_SPAN_K)


@query(
    "ngram_novelty_profile",
    oracle=f"""
    WITH toks AS ({_SQL_DOC_TOKENS}),
    occ AS (
        SELECT DISTINCT doc_id,
               array_to_string(ts[i:i + {_SPAN_K - 1}], ' ') AS g
        FROM toks, UNNEST(range(1, len(ts) - {_SPAN_K} + 2)) AS r(i)
        WHERE len(ts) >= {_SPAN_K}
    ),
    firsts AS (SELECT g, min(doc_id) AS first_doc FROM occ GROUP BY g),
    stats AS (
        SELECT o.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN o.doc_id = f.first_doc THEN 1 ELSE 0 END)
                    AS BIGINT) AS novel_grams
        FROM occ o JOIN firsts f USING (g) GROUP BY 1)
    SELECT t.doc_id,
           coalesce(s.n_grams, 0) AS n_grams,
           coalesce(s.novel_grams, 0) AS novel_grams,
           CASE WHEN coalesce(s.n_grams, 0) = 0 THEN 0.0
                ELSE round(s.novel_grams / CAST(s.n_grams AS DOUBLE), 6)
           END AS novelty_frac
    FROM toks t LEFT JOIN stats s USING (doc_id)
    """,
    tags=("dedup", "novelty", "audit", "extension"),
)
def ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT 5-grams whose corpus-wide first occurrence (min doc_id —
    ingestion order on this fixture) is this document. The standard
    snapshot-novelty audit a crawl-ingestion pipeline reports ("how
    much of this batch is new text?") and the decision input for
    dedup-decay policies; 1 − novelty is the document's duplication
    exposure at gram granularity.

    Scale shape: the codegen hash-gram inventory (no gram strings),
    per-(doc, gram-hash) dedup rides the doc-clustered exchange, one
    map-side-combined min(doc_id) per gram, one shuffle join back
    (AQE splits hot grams), one per-doc count aggregate. Gram
    identity is the 64-bit hash — the duplicated_spans trade.

    Reference parity: no text analytics in the reference — LLM
    curation extension surface."""
    from ..operators.spans import gram_hash_occurrences

    docs = load(spark, "documents", sf_dir)
    occ = (
        gram_hash_occurrences(docs, k=_SPAN_K)
        .groupBy("doc_id", "__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select("doc_id", "__gh")
    )
    firsts = occ.groupBy("__gh").agg(F.min("doc_id").alias("first_doc"))
    stats = (
        occ.join(firsts, "__gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            )
            .cast("long")
            .alias("novel_grams"),
        )
    )
    return (
        docs.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("novel_grams", F.lit(0))
            .cast("bigint")
            .alias("novel_grams"),
            F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("novel_grams").cast("double")
                    / F.col("n_grams").cast("double"),
                    6,
                )
            )
            .alias("novelty_frac"),
        )
    )
