"""Multimodal image pipeline (C6): codec, transform, features.

The container has no PIL, so the RawCodec path is the tested one —
its resize is real numpy resampling, so the Spark plumbing (binary
schema, Arrow batches, quarantine rows) is genuinely exercised.
"""

from __future__ import annotations

import importlib.util
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.operators.images import (
    PILCodec,
    RawCodec,
    decoded_length,
    image_features,
    synthesize_images,
    transform_images,
)


def test_rawcodec_roundtrip():
    arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    blob = RawCodec.encode(arr)
    assert np.array_equal(RawCodec.decode(blob), arr)


def test_rawcodec_resize_identity_and_downsample():
    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    assert np.array_equal(RawCodec.resize(arr, (4, 4)), arr)
    half = RawCodec.resize(arr, (2, 2))
    assert half.shape == (2, 2, 3)
    assert np.array_equal(half[0, 0], arr[0, 0])  # nearest-neighbor


def test_synthesize_deterministic(spark):
    df = spark.range(3).select(F.col("id").alias("k"))
    a = {r["k"]: bytes(r["image"]) for r in synthesize_images(df, "k").collect()}
    b = {r["k"]: bytes(r["image"]) for r in synthesize_images(df, "k").collect()}
    assert a == b
    assert len(set(a.values())) == 3  # distinct keys -> distinct images


def test_transform_resizes_to_224(spark):
    df = synthesize_images(spark.range(4).select(F.col("id").alias("k")), "k")
    out = transform_images(df, "image", size=(224, 224)).collect()
    for r in out:
        assert r["image_transformed_status"] == "ok"
        arr = RawCodec.decode(bytes(r["image_transformed"]))
        assert arr.shape == (224, 224, 3)


def test_transform_quarantines_bad_blobs(spark):
    good = RawCodec.encode(np.zeros((2, 2, 3), dtype=np.uint8))
    # a negative width must not let the reshape infer a (2, 5, 3) raster
    negative = struct.pack("<4sii", b"RAW0", -1, 2) + bytes(30)
    # shorter than the 12-byte header: rejected before the unpack
    short = b"RAW"
    df = spark.createDataFrame(
        [(1, good), (2, b"not an image"), (3, negative), (4, short)],
        "k long, image binary",
    )
    rows = {r["k"]: r for r in transform_images(df, "image").collect()}
    assert rows[1]["image_transformed_status"] == "ok"
    assert rows[2]["image_transformed_status"].startswith("error:")
    assert rows[2]["image_transformed"] is None
    assert rows[3]["image_transformed_status"] == "error:ValueError"
    assert rows[3]["image_transformed"] is None
    assert rows[4]["image_transformed_status"] == "error:ValueError"
    assert rows[4]["image_transformed"] is None


def test_image_features(spark):
    df = synthesize_images(
        spark.range(2).select(F.col("id").alias("k")), "k", width=8, height=6
    )
    feats = image_features(df).collect()
    for r in feats:
        assert (r["width"], r["height"]) == (8, 6)
        assert len(r["channel_means"]) == 3
        arr = RawCodec.decode(bytes(r["image"]))
        want = arr.mean(axis=(0, 1))
        got = np.array(r["channel_means"])
        assert np.allclose(got, want, atol=1e-4)


def test_image_features_quarantines_bad_blobs(spark):
    """A blob the codec rejects, or a NULL one, keeps its row with NULL
    features instead of failing the job."""
    good = RawCodec.encode(np.full((2, 3, 3), 9, dtype=np.uint8))
    negative = struct.pack("<4sii", b"RAW0", -1, 2) + bytes(30)
    df = spark.createDataFrame(
        [(1, good), (2, b"not an image"), (3, negative), (4, b"RAW"), (5, None)],
        "k long, image binary",
    )
    rows = {r["k"]: r for r in image_features(df).collect()}
    assert len(rows) == 5
    assert (rows[1]["width"], rows[1]["height"]) == (3, 2)
    assert rows[1]["channel_means"] == [9.0, 9.0, 9.0]
    for k in (2, 3, 4, 5):
        assert rows[k]["width"] is None, k
        assert rows[k]["height"] is None, k
        assert rows[k]["channel_means"] is None, k


def test_decoded_length_header_read(spark):
    df = synthesize_images(
        spark.range(3).select(F.col("id").alias("k")), "k", width=10, height=7
    )
    rows = df.select(decoded_length("image")).collect()
    assert all(r["decoded_length"] == 10 * 7 * 3 for r in rows)
    # headers the decoder rejects: a negative width, a foreign magic,
    # and dimensions whose pixel-byte count overflows a long
    big = 2**31 - 1
    bad = spark.createDataFrame(
        [
            (1, struct.pack("<4sii", b"RAW0", -1, 2) + bytes(30)),
            (2, struct.pack("<4sii", b"JUNK", 5, 2) + bytes(30)),
            (3, struct.pack("<4sii", b"RAW0", big, big) + bytes(30)),
        ],
        "k long, image binary",
    )
    got = bad.select("k", decoded_length("image")).collect()
    assert {r["k"]: r["decoded_length"] for r in got} == {1: None, 2: None, 3: None}


def test_pil_codec_gated():
    if importlib.util.find_spec("PIL") is not None:
        pytest.skip("PIL installed in this env")
    with pytest.raises(ImportError, match="Pillow"):
        PILCodec.decode(b"\xff\xd8")


def test_bounded_measured_skew_never_overshoots():
    """ADVICE r8: a size-skewed batch (a few huge blobs among many
    tiny ones) must never produce a slice whose measured bytes exceed
    the target — the old mean-derived fixed row count did."""
    import pandas as pd

    from museum_image_etl_gridfs_spark.operators.images import (
        _TARGET_BATCH_BYTES,
        _bounded_measured,
    )

    # 990 tiny rows + 10 rows of 0.4*target each: the mean row size is
    # ~0.4% of target => a mean-derived slice takes ~250 rows and can
    # catch several huge rows at once (>1x target).
    big = int(_TARGET_BATCH_BYTES * 0.4)
    sizes = [64] * 990 + [big] * 10
    pdf = pd.DataFrame({"i": range(len(sizes)), "b": sizes})
    slices = list(_bounded_measured(pdf, pdf["b"].tolist()))
    assert sum(len(s) for s in slices) == len(pdf)
    assert pd.concat(slices)["i"].tolist() == pdf["i"].tolist()  # order+cover
    for s in slices:
        assert s["b"].sum() <= _TARGET_BATCH_BYTES


def test_bounded_measured_single_oversize_row_gets_own_slice():
    import pandas as pd

    from museum_image_etl_gridfs_spark.operators.images import (
        _TARGET_BATCH_BYTES,
        _bounded_measured,
    )

    sizes = [100, 3 * _TARGET_BATCH_BYTES, 100]
    pdf = pd.DataFrame({"i": range(3), "b": sizes})
    slices = list(_bounded_measured(pdf, sizes))
    assert [s["i"].tolist() for s in slices] == [[0], [1], [2]]
