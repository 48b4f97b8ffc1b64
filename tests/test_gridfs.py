"""S4/S7 — GridFS chunking and reassembly (SURVEY.md §2.1).

Invariant: reassemble ∘ chunk_binary = identity for arbitrary blob
lengths — 0 bytes, under one chunk, exact chunk multiples, and
multi-chunk — even when chunk rows are shuffled to random partitions.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.operators.gridfs import (
    chunk_binary,
    file_descriptors,
    reassemble,
    reassemble_with_files,
)

CHUNK = 16  # tiny chunk size so fixtures exercise many chunks


def _blobs_df(spark, blobs: list[bytes]):
    return spark.createDataFrame(
        [(i, b) for i, b in enumerate(blobs)], "id long, blob binary"
    )


def _roundtrip(spark, blobs: list[bytes], chunk_size: int = CHUNK) -> dict[int, bytes]:
    df = _blobs_df(spark, blobs)
    chunks = chunk_binary(df, "id", "blob", chunk_size=chunk_size)
    rebuilt = reassemble(chunks.repartition(5))  # scramble placement
    return {r["files_id"]: bytes(r["data"]) for r in rebuilt.collect()}


def test_edge_lengths_roundtrip(spark):
    blobs = [
        b"",  # empty
        b"x",  # 1 byte
        b"a" * (CHUNK - 1),  # just under
        b"b" * CHUNK,  # exactly one chunk
        b"c" * (CHUNK + 1),  # just over
        b"d" * (CHUNK * 3),  # exact multiple
        bytes(range(256)) * 2,  # binary content incl. NUL bytes
    ]
    got = _roundtrip(spark, blobs)
    assert got == {i: b for i, b in enumerate(blobs)}


def test_chunk_counts_and_ordinals(spark):
    blob = b"z" * (CHUNK * 2 + 3)
    chunks = chunk_binary(_blobs_df(spark, [blob]), "id", "blob", CHUNK).collect()
    by_n = {r["n"]: bytes(r["data"]) for r in chunks}
    assert sorted(by_n) == [0, 1, 2]
    assert len(by_n[0]) == CHUNK and len(by_n[1]) == CHUNK and len(by_n[2]) == 3


def test_empty_blob_yields_single_empty_chunk(spark):
    chunks = chunk_binary(_blobs_df(spark, [b""]), "id", "blob", CHUNK).collect()
    assert len(chunks) == 1
    assert chunks[0]["n"] == 0 and bytes(chunks[0]["data"]) == b""


def test_file_descriptors_lengths(spark):
    blobs = [b"abc", b"", b"q" * 100]
    files = file_descriptors(
        _blobs_df(spark, blobs), "id", "blob", chunk_size=CHUNK
    )
    got = {r["_id"]: (r["length"], r["chunkSize"], r["filename"]) for r in files.collect()}
    assert got[0] == (3, CHUNK, "0.bin")
    assert got[1] == (0, CHUNK, "1.bin")
    assert got[2] == (100, CHUNK, "2.bin")


def test_reassemble_with_files_flags_length(spark):
    df = _blobs_df(spark, [b"hello world" * 5])
    files = file_descriptors(df, "id", "blob", chunk_size=CHUNK)
    chunks = chunk_binary(df, "id", "blob", chunk_size=CHUNK)
    joined = reassemble_with_files(files, chunks).collect()
    assert len(joined) == 1 and joined[0]["length_ok"]
    # corrupt: drop a chunk -> length mismatch flagged
    bad = chunk_binary(df, "id", "blob", chunk_size=CHUNK).filter(F.col("n") != 1)
    joined_bad = reassemble_with_files(files, bad).collect()
    assert not joined_bad[0]["length_ok"]


def test_chunk_sets_not_exactly_0_to_k_minus_1_never_reassemble(spark):
    """A 3-chunk file whose sorted ordinals are not exactly 0..2 must
    come back as NULL data and length_ok false — never as silently
    wrong bytes. Chunk 0 standing in for a missing chunk 1 keeps the
    byte length right, so the length check alone cannot catch it."""
    blob = bytes(range(CHUNK * 2 + 8))  # chunks of 16, 16, 8 bytes
    df = _blobs_df(spark, [blob])
    files = file_descriptors(df, "id", "blob", chunk_size=CHUNK)
    good = {r["n"]: bytes(r["data"]) for r in chunk_binary(df, "id", "blob", CHUNK).collect()}
    assert sorted(good) == [0, 1, 2]
    cases = {
        "well_formed": [(0, good[0]), (1, good[1]), (2, good[2])],
        "dup_for_missing": [(0, good[0]), (0, good[0]), (2, good[2])],
        "missing": [(0, good[0]), (2, good[2])],
        "duplicated": [(0, good[0]), (1, good[1]), (1, good[1]), (2, good[2])],
        "out_of_range": [(0, good[0]), (1, good[1]), (3, good[2])],
    }
    for name, pieces in cases.items():
        chunks = spark.createDataFrame(
            [(0, n, d) for n, d in pieces], "files_id long, n int, data binary"
        ).repartition(3)
        (row,) = reassemble_with_files(files, chunks).collect()
        if name == "well_formed":
            assert bytes(row["data"]) == blob and row["length_ok"], name
        else:
            assert row["data"] is None and not row["length_ok"], name

    # an empty file's single empty chunk, duplicated: NULL data is
    # flagged even though the descriptor length (0) matches
    empty = _blobs_df(spark, [b""])
    one = chunk_binary(empty, "id", "blob", CHUNK)
    dup = one.unionAll(one)
    files = file_descriptors(empty, "id", "blob", chunk_size=CHUNK)
    (row,) = reassemble_with_files(files, dup).collect()
    assert row["data"] is None and not row["length_ok"]


def test_default_255kb_chunks_with_megabyte_blobs(spark):
    """Realistic layout: the GridFS default 261120-byte chunk size
    against MB-scale blobs (the reference's raw images are 0.3-1 MB,
    BASELINE.md) — chunk counts and round-trip must hold at real
    sizes, not just toy ones."""
    from museum_image_etl_gridfs_spark.operators.gridfs import GRIDFS_CHUNK_SIZE

    import os as _os

    sizes = [1_069_455, 314_791, GRIDFS_CHUNK_SIZE * 2]  # ref max/min + exact
    blobs = [_os.urandom(n) for n in sizes]
    df = _blobs_df(spark, blobs)
    chunks = chunk_binary(df, "id", "blob", GRIDFS_CHUNK_SIZE)
    counts = {
        r["files_id"]: r["n"]
        for r in chunks.groupBy("files_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {0: 5, 1: 2, 2: 2}  # ceil(size / 255 KB)
    rebuilt = {
        r["files_id"]: bytes(r["data"])
        for r in reassemble(chunks.repartition(7)).collect()
    }
    assert rebuilt == {i: b for i, b in enumerate(blobs)}


@settings(max_examples=10, deadline=None)
@given(
    blobs=st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=8),
    chunk_size=st.integers(min_value=1, max_value=64),
)
def test_roundtrip_property(spark, blobs, chunk_size):
    # `spark` is session-scoped, so hypothesis's function-scoped-
    # fixture health check does not apply
    got = _roundtrip(spark, blobs, chunk_size)
    assert got == {i: b for i, b in enumerate(blobs)}


def test_chunk_pieces_matches_exploded_chunks(spark):
    """The per-doc layout facts image_etl_gridfs reads off the
    chunk_pieces ARRAY (count, per-piece lengths, concatenation) must
    agree with the exploded chunk_binary rows for every edge length —
    the aggregate-in-place form is the same write-side layout."""
    from museum_image_etl_gridfs_spark.operators.gridfs import chunk_pieces

    blobs = [
        b"",
        b"x",
        b"a" * (CHUNK - 1),
        b"b" * CHUNK,
        b"c" * (CHUNK + 1),
        b"d" * (CHUNK * 3),
        bytes(range(256)) * 2,
    ]
    df = _blobs_df(spark, blobs)
    via_array = {
        r["id"]: (r["n"], [bytes(p) for p in r["pieces"]])
        for r in df.select(
            "id",
            F.size(chunk_pieces("blob", CHUNK)).alias("n"),
            chunk_pieces("blob", CHUNK).alias("pieces"),
        ).collect()
    }
    exploded = chunk_binary(df, "id", "blob", CHUNK).collect()
    via_rows: dict[int, list] = {}
    for r in sorted(exploded, key=lambda r: (r["files_id"], r["n"])):
        via_rows.setdefault(r["files_id"], []).append(bytes(r["data"]))
    for i, blob in enumerate(blobs):
        n, pieces = via_array[i]
        assert n == len(via_rows[i]) == max(1, -(-len(blob) // CHUNK))
        assert pieces == via_rows[i]
        assert b"".join(pieces) == blob
