"""Reference-pipeline retrace queries (SURVEY.md §3).

The reference's end-to-end flow — ingest-cap, clean (NA-standardize),
keep-first dedup, GridFS chunk/reassemble, split assignment — each as
a lazy Spark plan over the driver's fixtures, with DuckDB oracles.
``orders`` stands in for ``artwork_metadata`` (same shape: surrogate
key, business key with duplicates, timestamp, free-text attrs);
``documents.text`` bytes stand in for image blobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.cleaning import na_standardize_col
from ..operators.dedup import dedup_keep_first
from ..operators.gridfs import chunk_binary, reassemble
from ..operators.split import assign_split, split_label_sql
from .registry import query


@query(
    "museum_pipeline",
    oracle=f"""
    WITH cleaned AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderpriority IS NULL OR o_orderpriority = ''
                    THEN 'NA' ELSE o_orderpriority END AS priority,
               o_orderdate
        FROM orders
    ),
    deduped AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS rn
        FROM cleaned
    )
    SELECT o_orderkey AS doc_id,
           o_custkey  AS object_id,
           priority,
           {split_label_sql("o_orderkey")} AS split
    FROM deduped WHERE rn = 1
    """,
    tags=("pipeline", "reference-parity", "flagship"),
)
def museum_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's clean→dedup→split pipeline as ONE
    lazy Spark plan (src/transform_load.py end-to-end).

    The reference runs three separate full scans with per-row
    round-trips; here it is a single DAG — scan → projection
    (cleaning, no shuffle) → window dedup (one shuffle on the business
    key) → split projection (no shuffle). At 100 TB the only exchange
    is the dedup window, skew-handled by AQE.
    """
    orders = load(spark, "orders", sf_dir)
    cleaned = orders.select(
        "o_orderkey",
        "o_custkey",
        na_standardize_col("o_orderpriority").alias("priority"),
        "o_orderdate",
    )
    deduped = dedup_keep_first(cleaned, ["o_custkey"], ["o_orderdate", "o_orderkey"])
    return assign_split(deduped, "o_orderkey").select(
        F.col("o_orderkey").alias("doc_id"),
        F.col("o_custkey").alias("object_id"),
        "priority",
        "split",
    )


@query(
    "na_standardize_three_way",
    oracle="""
    SELECT doc_id,
           CASE WHEN dirty IS NULL OR dirty = '' THEN 'NA' ELSE dirty END AS lang_clean
    FROM (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN NULL
                    WHEN lang = 'de' THEN ''
                    ELSE lang END AS dirty
        FROM documents
    )
    """,
    tags=("cleaning", "reference-parity"),
)
def na_standardize_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 exact three-way semantics: NULL ≡ '' ≡ missing → 'NA'
    (src/transform_load.py:29-31). Dirt is synthesized (the fixtures
    are clean): 'en'→NULL and 'de'→'' exercise both falsy branches.
    """
    docs = load(spark, "documents", sf_dir)
    dirty = (
        F.when(F.col("lang") == "en", F.lit(None).cast("string"))
        .when(F.col("lang") == "de", F.lit(""))
        .otherwise(F.col("lang"))
    )
    return docs.select(
        "doc_id", na_standardize_col(dirty).alias("lang_clean")
    )


@query(
    "incremental_pending",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderdate >= TIMESTAMP '2001-01-01'
                    THEN 'done' END AS transformed_id,
               CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE 'blob' END AS gridfs_id
        FROM orders
    )
    WHERE transformed_id IS NULL AND gridfs_id IS NOT NULL
    """,
    tags=("filter", "incremental", "reference-parity"),
)
def incremental_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3+F4: idempotent re-run filters — skip already-transformed
    rows (transformed id non-NULL, src/transform_load.py:83-84) and
    rows missing their blob FK (:86-88). Simulated markers.
    """
    o = load(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderdate") >= "2001-01-01", F.lit("done")).alias(
            "transformed_id"
        ),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("blob"))
        .alias("gridfs_id"),
    )
    return o.filter(
        F.col("transformed_id").isNull() & F.col("gridfs_id").isNotNull()
    ).select("o_orderkey", "o_custkey")


@query(
    "ingest_head",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_orderkey LIMIT 20
    """,
    tags=("limit", "reference-parity"),
)
def ingest_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: the reference's ``max_downloads = 20`` early-terminating
    cap (src/ingestion.py:35,90-92) as a pinned-order LIMIT —
    Catalyst plans TakeOrderedAndProject (per-partition early stop).
    """
    return (
        load(spark, "orders", sf_dir)
        .orderBy("o_orderkey")
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "gridfs_chunk_plan",
    oracle="""
    SELECT doc_id AS files_id,
           CAST(greatest(ceil(strlen(text) / 101.0), 1) AS BIGINT) AS n_chunks,
           CAST(CASE WHEN strlen(text) = 0 THEN 0
                     WHEN strlen(text) % 101 = 0 THEN 101
                     ELSE strlen(text) % 101 END AS BIGINT)        AS last_chunk_len
    FROM documents
    """,
    tags=("gridfs", "binary", "reference-parity"),
)
def gridfs_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 GridFS chunking, distributed: slice blobs into 101-byte
    chunks (posexplode flatMap), then per-file chunk count and last
    chunk length — cross-checked against DuckDB arithmetic.
    (255 KB default shrunk so fixtures produce multi-chunk files.)
    """
    docs = load(spark, "documents", sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    chunks = chunk_binary(docs, "doc_id", "blob", chunk_size=101)
    return chunks.groupBy("files_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.max_by(F.length("data"), "n").cast("long").alias("last_chunk_len"),
    )


@query(
    "gridfs_roundtrip",
    oracle="""
    SELECT doc_id AS files_id,
           CAST(strlen(text) AS BIGINT) AS orig_len,
           CAST(strlen(text) AS BIGINT) AS rebuilt_len,
           TRUE AS roundtrip_ok
    FROM documents
    """,
    tags=("gridfs", "binary", "reference-parity"),
)
def gridfs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 ∘ S7 identity: chunk every blob (101-byte chunks), shuffle
    the chunk rows, reassemble ordered by n, verify byte-for-byte
    equality (NULL-safe: a NULL blob rebuilds to NULL). The oracle
    states the identity (rebuilt == original); Spark actually performs
    the distributed round trip.
    """
    docs = load(spark, "documents", sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    chunks = chunk_binary(docs, "doc_id", "blob", chunk_size=101)
    rebuilt = reassemble(chunks.repartition(8))  # scramble placement on purpose
    return (
        docs.join(rebuilt, docs["doc_id"] == rebuilt["files_id"])
        .select(
            F.col("files_id"),
            F.length("blob").cast("long").alias("orig_len"),
            F.length("data").cast("long").alias("rebuilt_len"),
            F.col("blob").eqNullSafe(F.col("data")).alias("roundtrip_ok"),
        )
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH a AS (
        SELECT o_orderkey, o_orderpriority AS old_priority
        FROM orders WHERE o_orderkey % 10 <> 3),
    b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 5 THEN 'X-RECHECK'
                    ELSE o_orderpriority END AS new_priority
        FROM orders WHERE o_orderkey % 10 <> 7)
    SELECT * FROM (
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN old_priority IS DISTINCT FROM new_priority THEN 'changed'
               END AS change_type,
               old_priority, new_priority
        FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
    WHERE change_type IS NOT NULL
    """,
    tags=("pipeline", "cdc", "extension"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: classify every key as added / removed
    / changed between two table versions (unchanged rows are dropped).

    The two versions are carved deterministically from ``orders`` so
    the oracle can state the same diff: version B drops ``%10 == 7``
    keys (removed), gains ``%10 == 3`` keys absent from A (added),
    and rewrites the priority of ``%10 == 5`` keys (changed).

    Scale shape: ONE full-outer sort-merge join on the snapshot key —
    the irreducible cost of a diff; both sides carry only the key +
    tracked columns (column-pruned at the scan). With both snapshots
    bucketed by key the Exchange disappears entirely; for wide rows,
    compare a single md5 row-hash column instead of column-by-column.
    String-only mutation keeps the oracle float-free.
    """
    from ..operators.diff import snapshot_diff_frames

    o = load(spark, "orders", sf_dir).select(
        "o_orderkey", F.col("o_orderpriority").alias("priority")
    )
    key10 = F.col("o_orderkey") % 10
    a = o.filter(key10 != 3)
    b = o.filter(key10 != 7).withColumn(
        "priority",
        F.when(key10 == 5, F.lit("X-RECHECK")).otherwise(F.col("priority")),
    )
    return snapshot_diff_frames(a, b, "o_orderkey", ["priority"])
