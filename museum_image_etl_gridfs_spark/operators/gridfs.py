"""GridFS chunked binary storage, modeled natively as Spark tables.

The reference stores image bytes via MongoDB GridFS: ``fs.put`` splits
a blob into 255 KB chunks producing ``fs.files`` (descriptor) +
``fs.chunks`` (ordered pieces) rows (``src/ingestion.py:63-67``);
``fs.get(id).read()`` reassembles them ordered by ``n``
(``src/transform_load.py:92-93``). Chunk size 261120 B is the GridFS
default (``data_outputs/fs_files_view.png``).

Here both directions are pure DataFrame ops:
- write path = slice BinaryType with substr + posexplode (a UDTF-like
  flatMap, SURVEY.md S4) — distributed, no driver materialization;
- read path = groupBy(files_id) over chunks with an ordered binary
  concat via sort_array(collect_list(struct(n, data))) (S7/J2).

Scale: chunking is a narrow map (no shuffle); reassembly shuffles on
``files_id`` once. Partitions should be sized by *bytes* not rows
when blobs are large (SURVEY.md §4) — callers repartition upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRIDFS_CHUNK_SIZE = 261120  # 255 KB, GridFS default


def chunk_pieces(data_col, chunk_size: int = GRIDFS_CHUNK_SIZE) -> F.Column:
    """The GridFS write-side layout as a COLUMN: the ordered array of
    ``chunk_size`` byte slices of a blob. :func:`chunk_binary` is this
    expression followed by a posexplode; consumers that only need
    per-file layout facts (chunk count, lengths) should aggregate the
    array directly — same slicing arithmetic, no row expansion, no
    shuffle (array_size(chunk_pieces(b)) ≡ chunk_binary(...).groupBy
    count, pinned in tests/test_gridfs.py).

    Empty blobs yield a single empty piece (GridFS stores zero chunks
    for empty files; keeping one empty row preserves the round-trip
    identity for length 0)."""
    c = F.col(data_col) if isinstance(data_col, str) else data_col
    n_chunks = F.greatest(
        F.ceil(F.length(c) / F.lit(chunk_size)), F.lit(1)
    ).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: c.substr(i * chunk_size + 1, F.lit(chunk_size)),
    )


def chunk_binary(
    df: DataFrame,
    id_col: str,
    data_col: str,
    chunk_size: int = GRIDFS_CHUNK_SIZE,
) -> DataFrame:
    """Split a binary column into GridFS-style chunk rows.

    Returns (files_id, n, data): one row per ``chunk_size`` slice, in
    0-based ordinal ``n`` (see :func:`chunk_pieces` for the slicing
    contract, including the empty-blob convention).
    """
    return df.select(
        F.col(id_col).alias("files_id"),
        F.posexplode(chunk_pieces(data_col, chunk_size)).alias("n", "data"),
    )


def file_descriptors(
    df: DataFrame,
    id_col: str,
    data_col: str,
    filename_col=None,
    chunk_size: int = GRIDFS_CHUNK_SIZE,
    metadata_col=None,
) -> DataFrame:
    """GridFS ``files``-table descriptors: _id, filename, chunkSize,
    length, uploadDate (+ optional metadata struct)."""
    cols = [
        F.col(id_col).alias("_id"),
        (
            filename_col
            if filename_col is not None
            else F.concat(F.col(id_col).cast("string"), F.lit(".bin"))
        ).alias("filename"),
        F.lit(chunk_size).alias("chunkSize"),
        F.length(F.col(data_col)).cast("long").alias("length"),
        F.current_timestamp().alias("uploadDate"),
    ]
    if metadata_col is not None:
        cols.append(metadata_col.alias("metadata"))
    return df.select(*cols)


def reassemble(chunks: DataFrame) -> DataFrame:
    """Inverse of :func:`chunk_binary`: (files_id, data).

    Sorts each group's (n, data) structs by n, then folds the binary
    pieces with concat — ``sort_array`` on collect_list avoids a
    per-group window sort; one shuffle on files_id.

    ``data`` is NULL unless the group's sorted ordinals are exactly
    ``0..k-1``: a missing, duplicated or out-of-range chunk never
    reassembles into silently wrong bytes (a duplicate standing in for
    a missing chunk would otherwise keep the length right).
    """
    return chunks.groupBy("files_id").agg(
        F.sort_array(F.collect_list(F.struct("n", "data"))).alias("sorted")
    ).select(
        "files_id",
        F.when(
            F.transform("sorted", lambda s: s["n"])
            == F.sequence(F.lit(0), F.size("sorted") - 1),
            F.aggregate(
                "sorted", F.lit(b""), lambda acc, s: F.concat(acc, s["data"])
            ),
        ).alias("data"),
    )


def reassemble_with_files(files: DataFrame, chunks: DataFrame) -> DataFrame:
    """J2: files ⋈ reassembled-chunks with length verification column.

    Joins the descriptor table to the reassembled blobs and flags
    rows whose byte length disagrees with the descriptor (corruption
    check the reference never does). A file with chunks whose set is
    not exactly ``n = 0..k-1`` reassembles to NULL ``data`` (see
    :func:`reassemble`) and is flagged whatever its length; a file
    with no chunks at all is ok only at length 0 (GridFS stores zero
    chunks for an empty file).
    """
    blobs = reassemble(chunks)
    return (
        files.join(blobs, files["_id"] == blobs["files_id"], "left")
        .select(
            files["*"],
            blobs["data"],
            (
                (F.coalesce(F.length(blobs["data"]), F.lit(0)) == files["length"])
                & (blobs["files_id"].isNull() | blobs["data"].isNotNull())
            ).alias("length_ok"),
        )
    )
