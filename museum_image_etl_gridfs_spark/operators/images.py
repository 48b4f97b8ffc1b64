"""Multimodal binary columns: image decode / resize / feature-extract.

Reference semantics (C6, the one operator Spark has no primitive
for): ``Image.open(bytes).resize((224,224)).convert("RGB")`` -> JPEG
bytes (src/transform_load.py:96-102). Spark-side this is an
Arrow-batched mapInPandas stage over a BinaryType column — the
schema, partitioning, and batch plumbing here are real and tested;
the codec is pluggable because image libraries (PIL) are not in this
container:

- :class:`RawCodec` — a deterministic, dependency-free raster format
  (12-byte header ``RAW0|w|h`` + uint8 RGB bytes) with real
  nearest-neighbor resampling in numpy. Tests and oracle queries run
  on it; resize/feature semantics are genuinely exercised.
- :class:`PILCodec` — the production JPEG path, import-gated; decode
  raises ImportError (not a silent fake) when PIL is absent.

Scale notes: binary work is sized by BYTES not rows, enforced at TWO
levels (SURVEY.md §4 hard-parts list):

- **inside the operators** — every blob-producing mapInPandas stage
  slices its work so no in-flight pandas frame exceeds
  ``_TARGET_BATCH_BYTES`` of estimated OUTPUT blob bytes. Arrow caps
  input batches by ROWS (``maxRecordsPerBatch``, default 10k), which
  is the wrong unit here: 10k rows of 2 KB thumbnails arrive as one
  23 MB batch, but transforming them to 224×224 would materialize a
  1.5 GB output frame per core — ×32 cores, the r7 sf1 blow-up
  (545 s swept). The operator protects ANY caller.
- **in the queries** — :func:`bytes_sized_partitions` derives the
  partition count from estimated output bytes so task memory stays
  bounded and parallelism tracks blob volume, not input row count.

The transform itself is embarrassingly parallel (no shuffle).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAGIC = b"RAW0"
_HEADER = struct.Struct("<4sii")  # magic, width, height

#: max estimated OUTPUT bytes a single in-flight pandas batch may hold
#: inside a blob-producing mapInPandas stage; also the per-partition
#: byte target for :func:`bytes_sized_partitions`. 64 MB keeps
#: 32 concurrent Python workers around ~2 GB of peak batch memory
#: while staying far above Arrow framing overhead.
_TARGET_BATCH_BYTES = 64 << 20


def _bounded(pdf, est_row_bytes: int):
    """Yield ``pdf`` in slices of at most ``_TARGET_BATCH_BYTES /
    est_row_bytes`` rows, so downstream per-slice blob work never
    materializes an unbounded frame. For UNIFORM row sizes (constant
    synthesized output) only — skew-prone inputs go through
    :func:`_bounded_measured`."""
    rows_per = max(1, _TARGET_BATCH_BYTES // max(int(est_row_bytes), 1))
    for i in range(0, len(pdf), rows_per):
        yield pdf.iloc[i : i + rows_per]


def _bounded_measured(pdf, row_bytes):
    """Yield ``pdf`` in slices whose MEASURED per-row byte totals stay
    under ``_TARGET_BATCH_BYTES``.

    A mean-derived fixed row count (the old shape) overshoots on
    size-skewed batches — a few very large blobs among many tiny ones
    pull the mean down while a slice that happens to catch the large
    ones blows past the target (ADVICE r8). Splitting on the running
    cumulative sum bounds every slice exactly; a single row larger
    than the target gets a slice of its own.
    """
    start, acc = 0, 0
    for i, b in enumerate(row_bytes):
        if acc + b > _TARGET_BATCH_BYTES and i > start:
            yield pdf.iloc[start:i]
            start, acc = i, 0
        acc += b
    if start < len(pdf):
        yield pdf.iloc[start:]


def bytes_sized_partitions(
    df: DataFrame, n_rows: int, est_row_bytes: int
) -> int:
    """Partition count for a blob stage: enough partitions that each
    holds ~``_TARGET_BATCH_BYTES`` of estimated OUTPUT blobs, floored
    at defaultParallelism so small inputs still use every core. The
    row count is the caller's (one metadata-cheap ``count()`` on the
    pruned scan — the same documented eager pattern as
    ``jaccard_pairs_blocked``'s sub-block probe)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return max(cores, -(-int(n_rows) * int(est_row_bytes) // _TARGET_BATCH_BYTES))


class RawCodec:
    """Deterministic raster codec: RAW0 header + row-major RGB bytes."""

    @staticmethod
    def encode(arr) -> bytes:
        import numpy as np

        arr = np.asarray(arr, dtype=np.uint8)
        h, w, c = arr.shape
        assert c == 3, "RGB only"
        return _HEADER.pack(_MAGIC, w, h) + arr.tobytes()

    @staticmethod
    def decode(blob: bytes):
        import numpy as np

        if len(blob) < _HEADER.size:
            raise ValueError(f"{len(blob)}-byte blob is shorter than a RAW0 header")
        magic, w, h = _HEADER.unpack_from(blob)
        if magic != _MAGIC:
            raise ValueError("not a RAW0 blob")
        # checked before the reshape, which would infer a -1 dimension
        if w <= 0 or h <= 0 or len(blob) != _HEADER.size + w * h * 3:
            raise ValueError(
                f"RAW0 header {w}x{h} does not match "
                f"{len(blob) - _HEADER.size} payload bytes"
            )
        return np.frombuffer(blob, dtype=np.uint8, offset=_HEADER.size).reshape(
            h, w, 3
        )

    @staticmethod
    def resize(arr, size: tuple[int, int]):
        """Nearest-neighbor resample to (width, height)."""
        import numpy as np

        w, h = size
        src_h, src_w, _ = arr.shape
        rows = (np.arange(h) * src_h // h).clip(0, src_h - 1)
        cols = (np.arange(w) * src_w // w).clip(0, src_w - 1)
        return arr[rows[:, None], cols[None, :], :]


class PILCodec:
    """Production JPEG codec — import-gated on Pillow."""

    @staticmethod
    def _pil():
        try:
            from PIL import Image
        except ImportError as e:  # pragma: no cover - container lacks PIL
            raise ImportError(
                "Pillow not installed; use RawCodec for the tested path"
            ) from e
        return Image

    @classmethod
    def decode(cls, blob: bytes):
        import io

        import numpy as np

        return np.asarray(cls._pil().open(io.BytesIO(blob)).convert("RGB"))

    @classmethod
    def encode(cls, arr) -> bytes:
        import io

        img = cls._pil().fromarray(arr, mode="RGB")
        buf = io.BytesIO()
        img.save(buf, format="JPEG")
        return buf.getvalue()

    @staticmethod
    def resize(arr, size: tuple[int, int]):
        import numpy as np

        Image = PILCodec._pil()
        return np.asarray(Image.fromarray(arr).resize(size))


def synthesize_images(
    df: DataFrame, key_col: str, *, width: int = 32, height: int = 24
) -> DataFrame:
    """Deterministic fake images keyed by an integer column — the
    fixture generator for multimodal tests (testdata has no blobs).
    Pixel (y, x, c) = (key*31 + y*7 + x*3 + c) mod 256."""
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    est = width * height * 3 + 64  # output blob + key columns

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        y, x, c = np.ogrid[0:height, 0:width, 0:3]
        base = (y * 7 + x * 3 + c).astype(np.int64)
        for full in batches:
            for pdf in _bounded(full, est):
                blobs = [
                    RawCodec.encode(((int(k) * 31 + base) % 256).astype("uint8"))
                    for k in pdf[key_col]
                ]
                pdf = pdf.copy()
                pdf["image"] = pd.Series(blobs, index=pdf.index, dtype=object)
                yield pdf

    return df.mapInPandas(gen, f"{out_fields}, image binary")


def transform_images(
    df: DataFrame,
    image_col: str = "image",
    *,
    size: tuple[int, int] = (224, 224),
    codec=RawCodec,
    out_col: str = "image_transformed",
) -> DataFrame:
    """C6: decode -> resize -> re-encode, PERMISSIVE-style.

    Adds (out_col binary, ``{out_col}_status`` string): failures
    yield status='error' quarantine rows instead of killed tasks (the
    reference's try/except-continue, src/transform_load.py:121-123,
    §2.11 convention). No shuffle; scales with executors.
    """
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    # output row carries BOTH the source blob (all input fields pass
    # through) and the resized one — bound slices by their sum, using
    # each row's MEASURED input blob size (cumulative, skew-safe)
    out_blob = size[0] * size[1] * 3 + 16

    def tx(batches: Iterator) -> Iterator:
        import pandas as pd

        for full in batches:
            per_row = full[image_col].map(
                lambda b: (len(b) if b is not None else 0) + out_blob
            )
            for pdf in _bounded_measured(full, per_row.tolist()):
                out, status = [], []
                for blob in pdf[image_col]:
                    try:
                        arr = codec.decode(bytes(blob))
                        out.append(codec.encode(codec.resize(arr, size)))
                        status.append("ok")
                    except Exception as e:  # noqa: BLE001 - quarantine row
                        out.append(None)
                        status.append(f"error:{type(e).__name__}")
                pdf = pdf.copy()
                pdf[out_col] = pd.Series(out, index=pdf.index, dtype=object)
                pdf[f"{out_col}_status"] = pd.Series(status, index=pdf.index)
                yield pdf

    return df.mapInPandas(
        tx, f"{out_fields}, {out_col} binary, {out_col}_status string"
    )


def image_features(
    df: DataFrame, image_col: str = "image", *, codec=RawCodec
) -> DataFrame:
    """Feature extraction: width/height from the typed header plus
    per-channel means — the embedding-stub shape a training pipeline
    feeds downstream (array<float> column). A NULL blob, or one the
    codec rejects, keeps its row with NULL features (the quarantine
    rows of :func:`transform_images` carry NULL images)."""
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def fx(batches: Iterator) -> Iterator:
        import pandas as pd

        for full in batches:
            per_row = full[image_col].map(
                lambda b: (len(b) if b is not None else 0) + 64
            )
            for pdf in _bounded_measured(full, per_row.tolist()):
                ws, hs, means = [], [], []
                for blob in pdf[image_col]:
                    try:
                        arr = None if blob is None else codec.decode(bytes(blob))
                    except Exception:  # noqa: BLE001 - quarantine row
                        arr = None
                    if arr is None:
                        ws.append(None)
                        hs.append(None)
                        means.append(None)
                        continue
                    h, w, _ = arr.shape
                    ws.append(w)
                    hs.append(h)
                    means.append([float(m) for m in arr.mean(axis=(0, 1))])
                pdf = pdf.copy()
                # nullable ints: a plain int column would turn NULLs to NaN
                pdf["width"] = pd.Series(ws, index=pdf.index, dtype="Int32")
                pdf["height"] = pd.Series(hs, index=pdf.index, dtype="Int32")
                pdf["channel_means"] = pd.Series(means, index=pdf.index, dtype=object)
                yield pdf

    return df.mapInPandas(
        fx, f"{out_fields}, width int, height int, channel_means array<float>"
    )


def decoded_length(image_col) -> "F.Column":
    """JVM-side typed-metadata read: pixel-byte length implied by the
    RAW0 header (w*h*3), without decoding the raster. Filters and
    planning on image dims stay codegen'd; only the real pixel work
    crosses into Python. NULL wherever :meth:`RawCodec.decode` rejects
    the header: a magic other than RAW0, a dimension <= 0 as a signed
    int32, or dimensions no real payload can match (w*h*3 >= 2^62)."""
    c = F.col(image_col) if isinstance(image_col, str) else image_col

    # header is little-endian: magic(4) | int32 w | int32 h — read each
    # int32 unsigned by reversing its bytes into big-endian hex
    def u32(pos: int) -> "F.Column":
        digits = [F.hex(F.substring(c, pos + i, 1)) for i in (3, 2, 1, 0)]
        return F.conv(F.concat(*digits), 16, 10).cast("long")

    w, h = u32(5), u32(9)
    # a signed int32 is > 0 exactly when its unsigned read is in [1, 2^31);
    # the product bound (in double, which cannot overflow) keeps w*h*3
    # inside a long
    valid = (
        (F.hex(F.substring(c, 1, 4)) == _MAGIC.hex().upper())
        & w.between(1, 2**31 - 1)
        & h.between(1, 2**31 - 1)
        & (w.cast("double") * h * 3 < 2.0**62)
    )
    return F.when(valid, w * h * 3).alias("decoded_length")
