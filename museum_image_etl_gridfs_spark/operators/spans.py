"""Exact duplicated-span detection (substring-level dedup).

Document-level dedup (``operators/dedup.py``) misses the common
web-corpus failure mode where *parts* of documents repeat — boilerplate
headers, license blocks, quoted passages — while the documents as a
whole differ. The published remedy is exact substring deduplication
over the corpus-wide suffix array ("Deduplicating Training Data Makes
Language Models Better", Lee et al., ACL 2022): find every substring
of >= L tokens that occurs more than once in the corpus.

A monolithic suffix array does not distribute; the standard
shuffle-friendly equivalent (used here) detects the same spans through
fixed-width token k-grams:

1. inventory every k-gram occurrence ``(doc_id, pos, gram)`` — pure
   JVM expressions (``transform``/``slice``/``posexplode``), no UDFs;
2. a gram is *duplicated* iff it occurs >= 2 times corpus-wide
   (map-side-combined groupBy on the gram's ``xxhash64``, then a
   left-semi join back — AQE handles hot-gram skew on the join);
3. per document, merge duplicated gram starts into maximal islands
   (gap-and-islands over a ``doc_id`` window: a break when the next
   duplicated start is > k away, so covered token ranges that overlap
   or touch fuse into one span).

Every substring of length >= k that repeats corpus-wide is covered by
duplicated k-grams, so each such substring lies inside a reported
span; conversely every reported span is a union of repeated k-grams.
That is exactly the guarantee the suffix-array construction gives at
granularity k.

Scale shape (100 TB posture): the gram inventory is O(total tokens)
rows but only (doc_id, pos, 64-bit hash) wide after hashing; it is
derived once behind a tracked localCheckpoint and shuffled twice (dup
test, per-doc window) — both on keys with map-side reduction or
natural doc locality. No driver materialization,
no all-pairs anything; the hot-gram worst case (a stop-phrase
occurring everywhere) costs one skewed join partition that AQE splits,
not a cross product.

Two rejected alternatives, measured at sf0.1/local[32]:

- ``count(*) over (partition by gram_hash)`` instead of
  groupBy+semi-join — 4.5-5.0 s vs 7.0-7.4 s here (one scan instead
  of two), but it shuffles the ENTIRE occurrence inventory by gram
  hash and parks every occurrence of a hot gram in ONE window
  partition, which AQE cannot split (skew handling covers joins and
  post-shuffle coalescing, not window partitions). A web-corpus
  stop-phrase with 1e9 occurrences = a guaranteed straggler/OOM at
  100 TB. The groupBy path ships only map-side-combined partial
  counts and lets AQE manage the join; the price is reading the
  inventory twice, which the checkpoint makes one derivation.
- hashing the token-array slice directly (``xxhash64(slice(toks))``,
  skipping the gram string build) — 13.7-24 s, 2x SLOWER: Catalyst's
  array hashing walks elements with per-element dispatch and
  allocates a slice per gram; ``concat_ws`` + string xxhash64 is the
  fast path.

Reference parity: the reference engine has no substring analytics at
all (its only dedup is the whole-value pymongo ``$group``,
SURVEY.md §2.4); this module extends the dedup family to spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.quality import fold_case, words
from .lifecycle import tracked_local_checkpoint


def gram_occurrences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """One row per token k-gram occurrence: (id, pos, gram).

    ``pos`` is the 1-based token index of the gram's first token.
    Documents shorter than ``k`` tokens contribute no rows. All
    expression-level (sequence/slice/concat_ws under posexplode) —
    stays inside whole-stage codegen until the explode.
    """
    toks = words(fold_case(text_col))
    n = F.size(toks)
    # sequence(1, n-k+1) is DESCENDING when n < k — guard to empty.
    starts = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(toks, i, k))
    )
    out = df.select(F.col(id_col), F.posexplode(grams).alias("__i", "gram"))
    return out.select(
        id_col, (F.col("__i") + 1).cast("long").alias("pos"), "gram"
    )


def gram_hash_occurrences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """One row per token k-gram occurrence, identified by HASH only:
    (id, pos, __gh) with ``__gh = xxhash64(tok₁,…,tok_k)``.

    The whole-stage-codegen formulation of :func:`gram_occurrences`
    for consumers that never need the gram STRING (duplicated_spans):
    posexplode the tokens once, build the gram identity with k−1
    ``lead()`` columns over (id, pos) and hash the k token columns
    directly — no per-gram array slice, no string concatenation, no
    interpreted higher-order lambda (the trap NOTES.md documents;
    measured 81 s → see NOTES round 7 at sf1).
    Tokens are whitespace-split so the multi-column hash identifies
    exactly the same grams as hashing the space-joined string
    (collision class unchanged: 2⁻⁶⁴ per pair).

    One exchange: ``spread`` clusters by ``id``, the explode is
    narrow, and the window's (id, pos) requirement is satisfied by
    that same partitioning — per-doc state only, no hot-key skew
    (windowing BY GRAM was rejected with measurements in round 6; BY
    DOC is bounded by document length).
    """
    from ..partitioning import spread

    toks = words(fold_case(text_col))
    exploded = spread(df, id_col).select(
        F.col(id_col), F.posexplode(toks).alias("__i", "__tok")
    )
    w = Window.partitionBy(id_col).orderBy("__i")
    lead_cols = [F.lead("__tok", j).over(w).alias(f"__t{j}") for j in range(1, k)]
    g = exploded.select(
        id_col, (F.col("__i") + 1).cast("long").alias("pos"), "__tok", *lead_cols
    )
    last = f"__t{k - 1}" if k > 1 else "__tok"
    return g.filter(F.col(last).isNotNull()).select(
        id_col,
        "pos",
        F.xxhash64("__tok", *[f"__t{j}" for j in range(1, k)]).alias("__gh"),
    )


def duplicated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated spans per document.

    Returns (id, span_start, span_end) token ranges (1-based,
    inclusive) such that every corpus-repeated substring of >= k
    tokens is contained in some span. Only documents containing at
    least one duplicated k-gram appear.

    ``min_count``: minimum corpus-wide occurrence count (>= 2) for a
    gram to count as duplicated; occurrences inside one document
    count (a doc that repeats its own boilerplate dedups against
    itself, matching the suffix-array semantics).
    """
    # duplication is tested on the gram's 64-bit hash, never the
    # string (collision risk 2^-64 per pair — the standard trade), so
    # the codegen hash-gram path applies: no gram strings anywhere.
    # The inventory is consumed twice (dup test + semi-join back), so
    # it is checkpointed: documents are scanned and exploded ONCE.
    occ = tracked_local_checkpoint(
        gram_hash_occurrences(df, id_col=id_col, text_col=text_col, k=k)
    )
    dup = (
        occ.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__gh")
    )
    hits = occ.join(dup, "__gh", "left_semi").select(id_col, "pos")

    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    islands = hits.select(
        id_col, "pos", F.sum(brk).over(w).alias("__island")
    )
    # grouping keys contain the window partition key -> no new exchange
    return islands.groupBy(id_col, "__island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
    ).drop("__island")


def top_dup_grams(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_count: int = 2,
    top_n: int = 20,
) -> DataFrame:
    """Top-``top_n`` corpus-wide duplicated k-grams:
    (gram, occurrences, doc_freq), ordered (occurrences DESC, gram).

    Hash-first: counting runs entirely on the codegen
    :func:`gram_hash_occurrences` stream — the gram STRING is built
    for O(top_n + boundary ties) representative occurrences only,
    never for the corpus (the all-strings formulation paid an
    interpreted slice+concat_ws per gram: 65 s → ~4 s engine-side at
    sf1). Stages:

    1. ONE per-hash aggregate carrying (occurrences, doc_freq, and a
       min-struct representative (id, pos)) — map-side combined, one
       shuffle on the hash; the occurrence stream is consumed exactly
       once (a separate representative pass re-ran the whole
       tokenize+window stream: 13.9 s vs 7.5 s at sf1);
    2. boundary threshold = the ``top_n``-th largest occurrence count
       (a ``limit(top_n)`` + 1-row min, broadcast back); every hash AT
       the boundary survives because the final order tie-breaks on the
       gram string, which is unknown at hash level;
    3. the O(top_n + ties) survivors join their representative docs'
       token arrays to rebuild just those strings — small side
       planner-broadcast, one narrow corpus re-scan;
    4. final exact (occurrences DESC, gram) order + limit.

    Gram identity is the 64-bit hash — the same 2⁻⁶⁴-per-pair
    fingerprint trade :func:`duplicated_spans` documents (a colliding
    pair would merge counts and report the representative's string).
    """
    occ_h = gram_hash_occurrences(df, id_col=id_col, text_col=text_col, k=k)
    hstats = (
        occ_h.groupBy("__gh")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct(id_col).alias("doc_freq"),
            F.min(
                F.struct(F.col(id_col).alias("id"), F.col("pos").alias("pos"))
            ).alias("r"),
        )
        .filter(F.col("occurrences") >= min_count)
    )
    th = (
        hstats.orderBy(F.desc("occurrences"), "__gh")
        .limit(top_n)
        .agg(F.min("occurrences").alias("__min_occ"))
    )
    cand = (
        hstats.crossJoin(F.broadcast(th))
        .filter(F.col("occurrences") >= F.col("__min_occ"))
        .select(
            "__gh",
            "occurrences",
            "doc_freq",
            F.col("r.id").alias("id"),
            F.col("r.pos").alias("pos"),
        )
    )
    toks = df.select(
        F.col(id_col).alias("id"), words(fold_case(text_col)).alias("__ts")
    )
    return (
        cand.join(toks, "id")
        .select(
            F.concat_ws(
                " ", F.slice(F.col("__ts"), F.col("pos").cast("int"), k)
            ).alias("gram"),
            "occurrences",
            "doc_freq",
        )
        .orderBy(F.desc("occurrences"), "gram")
        .limit(top_n)
    )


def substring_dedup_rewrite(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Exact substring dedup REWRITE (Lee et al. ACL'22 §4,
    ExactSubstr: "remove all but one occurrence"): cut every
    corpus-duplicated >= k-token span from each document, keeping each
    duplicated gram's globally FIRST occurrence (min (id, pos) —
    deterministic), and return the rewritten text.

    Output: (id, orig_tokens, removed_tokens, kept_text), one row per
    input document. ``kept_text`` is the NORMALIZED token stream
    (case-folded :func:`.quality.words` tokens, single spaces) minus
    the removed spans; a fully duplicated document yields ``''``.

    Plan shape (100 TB posture — same backbone as
    :func:`duplicated_spans`):

    1. hash-gram inventory (codegen, no strings);
    2. per-gram aggregate carrying count + min (id, pos) — map-side
       combined, one shuffle on the gram hash;
    3. removal occurrences = duplicated grams' non-first occurrences
       (join back on the hash; AQE splits hot grams);
    4. gap-and-islands per doc merges removal grams into disjoint
       covered spans (doc-local window);
    5. covered token indices explode from the disjoint spans,
       LEFT ANTI join against the token inventory on (id, index) —
       all map-side-combinable keys, bounded by corpus token count;
    6. per-doc rebuild: sort_array over the collected (index, token)
       structs (bounded by document length), concat.

    Reference parity: no substring analytics in the reference (its
    dedup is whole-value $group, transform_load.py:48-50) — LLM
    curation extension surface.
    """
    from ..partitioning import spread

    # same double-consumption shape as duplicated_spans (firsts
    # aggregate + removals join) — same checkpointed inventory
    occ = tracked_local_checkpoint(
        gram_hash_occurrences(df, id_col=id_col, text_col=text_col, k=k)
    )
    firsts = (
        occ.groupBy("__gh")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(
                F.struct(F.col(id_col).alias("id"), F.col("pos").alias("pos"))
            ).alias("__first"),
        )
        .filter(F.col("__c") >= 2)
        .select("__gh", "__first")
    )
    removals = (
        occ.join(firsts, "__gh")
        .filter(
            ~(
                (F.col(id_col) == F.col("__first.id"))
                & (F.col("pos") == F.col("__first.pos"))
            )
        )
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)
    ).otherwise(F.lit(1))
    spans = (
        removals.select(id_col, "pos", F.sum(brk).over(w).alias("__island"))
        .groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("__s"),
            (F.max("pos") + F.lit(k - 1)).alias("__e"),
        )
    )
    # islands are disjoint per doc by construction -> the exploded
    # index stream is duplicate-free, no distinct needed
    covered = spans.select(
        id_col, F.explode(F.sequence("__s", "__e")).alias("__idx")
    )
    toks = words(fold_case(text_col))
    tokens = spread(df, id_col).select(
        F.col(id_col), F.posexplode(toks).alias("__i0", "__tok")
    ).select(id_col, (F.col("__i0") + 1).cast("long").alias("__idx"), "__tok")
    kept = tokens.join(covered, [id_col, "__idx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("__idx", F.col("__tok")))
                ),
                lambda s: s["__tok"],
            ),
        ).alias("kept_text"),
    )
    base = df.select(F.col(id_col), F.size(toks).cast("long").alias("orig_tokens"))
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "orig_tokens",
        (F.col("orig_tokens") - F.coalesce("__kept", F.lit(0))).alias(
            "removed_tokens"
        ),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )
