"""Multimodal-column queries (C6 + training-pipeline extension).

The fixtures carry no real blobs, so images are synthesized
deterministically from ``doc_id`` (operators.images.synthesize_images)
and pushed through the REAL Spark plumbing: binary column -> Arrow
batch -> decode -> numpy resize -> re-encode -> typed metadata. The
oracle states the arithmetic consequences (dims, byte lengths,
statuses), so the whole decode-transform-encode path is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..partitioning import spread
from ..operators.images import (
    RawCodec,
    decoded_length,
    image_features,
    synthesize_images,
    transform_images,
)
from .registry import query

_SRC_W, _SRC_H = 32, 24
_DST_W, _DST_H = 16, 12
_HEADER = 12  # RAW0 header bytes


@query(
    "multimodal_transform",
    oracle=f"""
    SELECT doc_id,
           CAST({_SRC_W * _SRC_H * 3} AS BIGINT)          AS src_pixels,
           CAST({_DST_W * _DST_H * 3 + _HEADER} AS BIGINT) AS out_len,
           {_DST_W} AS out_w, {_DST_H} AS out_h,
           'ok' AS status
    FROM documents
    """,
    tags=("multimodal", "binary", "extension"),
)
def multimodal_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image ETL slice: synthesize -> decode -> resize -> encode ->
    feature-extract, all distributed, no shuffle (C6 at scale).

    ``src_pixels`` is read JVM-side from the typed header
    (decoded_length — no Python decode for planning-level metadata);
    ``out_w``/``out_h`` come from re-decoding the transformed blob,
    proving the resize actually happened.
    """
    docs = load(spark, "documents", sf_dir).select("doc_id")
    imgs = synthesize_images(
        spread(docs, "doc_id"), "doc_id", width=_SRC_W, height=_SRC_H
    )
    transformed = transform_images(imgs, "image", size=(_DST_W, _DST_H), codec=RawCodec)
    feats = image_features(
        transformed.select(
            "doc_id",
            F.col("image_transformed").alias("image"),
            F.col("image_transformed_status").alias("status"),
            decoded_length("image").alias("src_pixels"),
        )
    )
    return feats.select(
        "doc_id",
        "src_pixels",
        (F.length("image")).cast("long").alias("out_len"),
        F.col("width").alias("out_w"),
        F.col("height").alias("out_h"),
        "status",
    )


@query(
    "image_etl_gridfs",
    oracle=f"""
    SELECT doc_id,
           CAST({224 * 224 * 3 + _HEADER} AS BIGINT) AS transformed_len,
           CAST(1 AS BIGINT)                          AS n_chunks,
           CAST(doc_id AS VARCHAR) || '_transformed.jpg' AS filename,
           'ok' AS status
    FROM documents
    """,
    tags=("multimodal", "gridfs", "pipeline", "reference-parity"),
)
def image_etl_gridfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's image stage end-to-end AT ITS REAL PARAMETERS:
    resize to 224x224 (src/transform_load.py:97) and store via GridFS
    chunking at the 255 KB default — every transformed image fits one
    chunk, exactly as the reference's artifacts show
    (fs_transformed_chunks_view.png: only n=0; BASELINE.md).

    ONE linear pass, ZERO shuffles past the byte-sizing exchange:
    synthesize -> decode -> resize -> encode -> per-doc chunk layout
    (``chunk_pieces`` — the identical slicing arithmetic
    ``chunk_binary`` explodes, aggregated in place; explode +
    reassembly are oracle-exercised by gridfs_chunk_plan /
    gridfs_roundtrip). The r7 shape instead JOINED three branches
    (blobs x descriptors x chunk counts) all derived from the same two
    mapInPandas stages — Spark cannot common-subexpression a Python
    stage, so the 224x224 synth+resize ran once per branch and the r8
    solo-clean sf1 adjudication read 185 s engine-side (545 s in r7's
    loadavg-39 sweep window). Single-pass + byte-sized partitions
    (~64 MB of output blobs per task, derived from the measured row
    count — the SURVEY §4 "size by bytes, not rows" rule, now enforced
    here and inside the operators rather than in a docstring).
    """
    from ..operators.gridfs import GRIDFS_CHUNK_SIZE, chunk_pieces
    from ..operators.images import bytes_sized_partitions

    docs = load(spark, "documents", sf_dir).select("doc_id")
    # eager O(1)-result row-count probe (metadata-cheap on parquet) —
    # the byte-sizing input; same documented eager pattern as
    # jaccard_pairs_blocked's sub-block probe
    out_blob = 224 * 224 * 3 + _HEADER
    nparts = bytes_sized_partitions(docs, docs.count(), out_blob)
    imgs = synthesize_images(
        spread(docs, "doc_id", target=nparts),
        "doc_id",
        width=_SRC_W,
        height=_SRC_H,
    )
    transformed = transform_images(imgs, "image", size=(224, 224), codec=RawCodec)
    return transformed.select(
        "doc_id",
        F.length("image_transformed").cast("long").alias("transformed_len"),
        F.size(chunk_pieces("image_transformed", GRIDFS_CHUNK_SIZE))
        .cast("long")
        .alias("n_chunks"),
        F.concat(F.col("doc_id").cast("string"), F.lit("_transformed.jpg")).alias(
            "filename"
        ),
        F.col("image_transformed_status").alias("status"),
    )
