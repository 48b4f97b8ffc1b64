"""Engine surfaces, driver-verified, each with an exact DuckDB oracle:
the format("museum_api") Python DataSource and the batch-HTTP/binary
fetch pipelines on their hermetic transports.

The reference (a 501-LoC pymongo ETL) has none of these; they
complete the large-scale training-data/analytics surface the task
brief scopes for the Spark engine (SURVEY.md §2.12 / COVERAGE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from .registry import query


@query(
    "http_ingest_pipeline",
    oracle="""
    SELECT doc_id AS object_id,
           CAST((doc_id * 7) % 97 AS INTEGER) AS k,
           'obj-' || CAST(doc_id AS VARCHAR) AS title
    FROM documents
    WHERE doc_id % 10 <> 0
    """,
    tags=("rest-ingest", "S2", "F1", "U1", "mapInPandas"),
)
def http_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ingestion loop (src/ingestion.py:38-57) as a
    driver-verified Spark pipeline: id list from a table (S1) →
    partition-batched per-id fetch (S2/U1, sources/http.py) → HTTP
    status filter (F1) → JSON body projection (C2).

    The injected transport is a pure function of the URL (404 for
    every 10th id, else a JSON document derived arithmetically from
    the id), so the whole pipeline — including the dropped-row path —
    is deterministic and the oracle reproduces it relationally. Same
    fetch/filter/parse code as the live-network path, minus sockets.
    """
    import json as _json

    from ..sources.http import fetch_json

    ids = load(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("object_id")
    )

    def url_for(i: int) -> str:
        return f"https://museum.invalid/objects/{i}"

    def transport(url: str):
        i = int(url.rsplit("/", 1)[1])
        if i % 10 == 0:
            return 404, b""
        doc = {"k": (i * 7) % 97, "title": f"obj-{i}"}
        return 200, _json.dumps(doc).encode()

    fetched = fetch_json(ids, url_for, transport)
    parsed = F.from_json(F.col("body"), "k int, title string").alias("doc")
    return (
        fetched.filter(F.col("status") == 200)
        .select("object_id", parsed)
        .select(
            "object_id",
            F.col("doc.k").alias("k"),
            F.col("doc.title").alias("title"),
        )
    )


@query(
    "binary_fetch_pipeline",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 200 END AS INTEGER)
               AS data_status,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(32 AS INTEGER) END AS n_bytes,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE md5(CAST(doc_id AS VARCHAR)) END AS body_str
    FROM documents
    """,
    tags=("binary-fetch", "S3", "F2", "mapInPandas"),
)
def binary_fetch_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S3/F2 driver-verified: per-row binary blob fetch
    (sources/http.py::fetch_binary) with the empty-URL quarantine
    path — empty URLs short-circuit to status 0 with a NULL blob and
    SURVIVE as quarantine rows (F2 leaves the drop to the caller).

    The transport returns the md5 hex digest of the id as the blob,
    so blob bytes, lengths, and the quarantine pattern are all
    SQL-reproducible. Same fetch code as the live path minus sockets.
    """
    from ..sources.http import fetch_binary

    docs = load(spark, "documents", sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("https://museum.invalid/images/"),
                F.col("doc_id").cast("string"),
            )
        ).alias("url"),
    )

    def transport(url: str):
        import hashlib as _hl

        i = url.rsplit("/", 1)[1]
        return 200, _hl.md5(i.encode()).hexdigest().encode()

    fetched = fetch_binary(docs, "url", transport)
    return fetched.select(
        "doc_id",
        "data_status",
        F.length(F.col("data")).alias("n_bytes"),
        F.col("data").cast("string").alias("body_str"),
    )


@query(
    "python_datasource_scan",
    oracle="""
    SELECT doc_id, 200 AS status, lang, n_chars
    FROM documents
    WHERE doc_id < 100
    """,
    tags=("datasource", "rest-scan", "S1", "S2"),
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S1/S2 driver-verified: the ``format("museum_api")``
    Python DataSource (id-partitioned REST document scan,
    sources/museum_api.py) run end-to-end — id splits fan out across
    partitions, each split fetches its documents, JSON bodies parse
    relationally — and hash-checked against the same rows read
    straight from parquet.

    The hermetic ``canned_json`` transport serves the per-id payloads
    (built here from the documents table, first 100 ids — bounded at
    every SF); it is the SAME reader code path as the live-HTTP
    transport minus the socket, so this pins the connector's
    partitioning, fetch loop, and Arrow return path, which were
    previously covered by pytest only.
    """
    import json as _json
    import os

    import pyarrow.parquet as pq

    from ..sources.museum_api import MuseumApiDataSource

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "lang", "n_chars"],
    ).to_pylist()
    canned = {
        str(r["doc_id"]): {"lang": r["lang"], "n_chars": int(r["n_chars"])}
        for r in tbl
        if r["doc_id"] < 100
    }
    ids = sorted(int(k) for k in canned)
    spark.dataSource.register(MuseumApiDataSource)
    raw = (
        spark.read.format("museum_api")
        .option("ids", ",".join(str(i) for i in ids))
        .option("canned_json", _json.dumps(canned))
        .option("partitions", "8")
        .load()
    )
    parsed = F.from_json(
        F.col("body"), "lang string, n_chars int"
    ).alias("doc")
    return raw.select(
        F.col("object_id").alias("doc_id"), "status", parsed
    ).select(
        "doc_id",
        "status",
        F.col("doc.lang").alias("lang"),
        F.col("doc.n_chars").cast("long").alias("n_chars"),
    )
