"""Document chunking: Catalyst/UDTF parity and chunk grammar edge
cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.catalog import load
from museum_image_etl_gridfs_spark.functions.chunking import (
    chunk_documents,
    make_chunk_udtf,
)


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_grammar_hand_case(spark):
    # len 10, size 4, stride 3 -> starts 0,3,6,9; last chunk short
    df = _mk_docs(spark, [(1, "abcdefghij")])
    out = chunk_documents(df, size=4, stride=3).orderBy("chunk_idx").collect()
    assert [(r.chunk_idx, r.pos, r.chunk_text, r.chunk_len) for r in out] == [
        (0, 0, "abcd", 4),
        (1, 3, "defg", 4),
        (2, 6, "ghij", 4),
        (3, 9, "j", 1),
    ]


def test_chunk_exact_tiling_no_phantom_chunk(spark):
    # len == 2*stride: exactly 2 chunks, no empty third at pos==len
    df = _mk_docs(spark, [(1, "x" * 240)])
    out = chunk_documents(df, size=120, stride=120).collect()
    assert len(out) == 2
    assert all(r.chunk_len == 120 for r in out)


def test_chunk_skips_null_and_empty(spark):
    df = _mk_docs(spark, [(1, None), (2, ""), (3, "ok")])
    out = chunk_documents(df, size=8, stride=8).collect()
    assert [(r.doc_id, r.chunk_text) for r in out] == [(3, "ok")]


def test_chunks_cover_text_with_overlap(spark, sf_dir):
    """Reassembling chunk prefixes of length `stride` (plus the full
    last chunk) must reproduce every document exactly."""
    from pyspark.sql import Window

    docs = load(spark, "documents", sf_dir).limit(50)
    chunks = chunk_documents(docs, size=160, stride=120)
    last = F.max("chunk_idx").over(Window.partitionBy("doc_id"))
    rebuilt = (
        chunks.withColumn(
            "piece",
            F.when(
                F.col("chunk_idx") == last, F.col("chunk_text")  # last chunk: keep all
            ).otherwise(F.expr("substring(chunk_text, 1, 120)")),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("chunk_idx", "piece"))).piece
            ).alias("rebuilt")
        )
    )
    joined = docs.join(rebuilt, "doc_id").filter(F.col("text") != F.col("rebuilt"))
    assert joined.count() == 0


def test_udtf_matches_catalyst_chunker(spark):
    rows = [(1, "abcdefghij"), (2, "x" * 240), (3, "short"), (4, None), (5, "")]
    df = _mk_docs(spark, rows)
    want = sorted(
        (r.doc_id, r.chunk_idx, r.pos, r.chunk_text, r.chunk_len)
        for r in chunk_documents(df, size=7, stride=5).collect()
    )
    spark.udtf.register("chunk_text_udtf", make_chunk_udtf())
    df.createOrReplaceTempView("udtf_docs")
    got = sorted(
        (r.doc_id, r.chunk_idx, r.pos, r.chunk_text, r.chunk_len)
        for r in spark.sql(
            "SELECT d.doc_id, c.* FROM udtf_docs d, LATERAL chunk_text_udtf(d.text, 7, 5) c"
        ).collect()
    )
    assert got == want
