"""Document chunking — the step between curation and tokenization in
a training-data pipeline: split each document into fixed-size,
optionally overlapping windows that downstream tokenizers/packers
consume (reference has no analogue; this is north-star scope, like
`functions/quality.py`).

Two implementations of the same semantics:

- :func:`chunk_documents` — the PRODUCTION path: pure Catalyst
  (``sequence`` → ``explode`` → ``substring``), whole-stage codegen,
  zero Python. This is what the registry query uses.
- :class:`ChunkTextUDTF` — the same logic as a Spark 4 Python UDTF,
  completing the §2.10 UDF/UDAF/UDTF API surface. Kept OUT of the
  hot path (row-at-a-time Python); its parity with the Catalyst
  version is pinned in ``tests/test_chunking.py``.

Chunk grammar (both paths, and the DuckDB oracle): for a non-empty
text of length L, chunk k starts at ``k * stride`` (0-based) for
``k = 0 .. ceil(L / stride) - 1`` and spans ``size`` characters
(the last chunk is shorter). ``size >= stride`` gives overlapping
windows; ``size == stride`` tiles exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    size: int = 160,
    stride: int = 120,
) -> DataFrame:
    """Explode each document into character-window chunks.

    Pure JVM plan: ``sequence(0, length-1, stride)`` generates the
    start offsets, ``explode`` flattens them (a Generate node — no
    shuffle, no Python), ``substring`` slices. Narrow end to end: at
    100 TB this pipelines inside the scan stage with zero exchanges,
    and the output is naturally partitioned the same way as the
    input (downstream groupBy-on-doc_id needs no extra care beyond
    the usual).

    ``chunk_idx`` is derived as ``pos div stride`` (exact — offsets
    are multiples of stride) instead of ``posexplode`` ordinality so
    the DuckDB oracle can mirror it without WITH ORDINALITY.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    t = F.col(text_col)
    return (
        df.filter(t.isNotNull() & (F.length(t) > 0))
        .select(
            *id_cols,
            t.alias("__text"),
            F.explode(
                F.sequence(F.lit(0), F.length(t) - 1, F.lit(stride))
            ).alias("pos"),
        )
        .select(
            *id_cols,
            F.expr(f"pos div {stride}").cast("int").alias("chunk_idx"),
            F.col("pos").cast("int").alias("pos"),
            F.expr(f"substring(__text, pos + 1, {size})").alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("int"))
    )


def chunk_oracle_sql(*, size: int = 160, stride: int = 120) -> str:
    """DuckDB mirror of :func:`chunk_documents` over ``documents``."""
    return f"""
    SELECT doc_id,
           CAST(pos // {stride} AS INTEGER) AS chunk_idx,
           CAST(pos AS INTEGER) AS pos,
           substring(text, pos + 1, {size}) AS chunk_text,
           CAST(length(substring(text, pos + 1, {size})) AS INTEGER) AS chunk_len
    FROM (
        SELECT doc_id, text, unnest(range(0, length(text), {stride})) AS pos
        FROM documents
        WHERE text IS NOT NULL AND length(text) > 0
    )
    """


def make_chunk_udtf():
    """Build the Spark 4 Python UDTF class for text chunking (same
    grammar as :func:`chunk_documents`). Returned un-decorated so
    callers choose registration:

    >>> spark.udtf.register("chunk_text", make_chunk_udtf())
    >>> spark.sql("SELECT d.doc_id, c.* FROM docs d, "
    ...           "LATERAL chunk_text(d.text, 160, 120) c")

    Row-at-a-time Python — API-surface parity only; use
    :func:`chunk_documents` in production plans.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, pos int, chunk_text string, chunk_len int")
    class ChunkTextUDTF:
        def eval(self, text: str | None, size: int, stride: int):
            if not text or size <= 0 or stride <= 0:
                return
            for k, pos in enumerate(range(0, len(text), stride)):
                piece = text[pos : pos + size]
                yield k, pos, piece, len(piece)

    return ChunkTextUDTF
