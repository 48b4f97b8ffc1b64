"""Vector math over array<float> embeddings — cross-checked vs numpy."""

from __future__ import annotations

import math

import numpy as np
import pytest

from museum_image_etl_gridfs_spark.functions.vectors import (
    cosine,
    dot,
    norm,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(7)
    rows = [
        (i, rng.normal(size=8).astype("float32").tolist(),
         rng.normal(size=8).astype("float32").tolist())
        for i in range(20)
    ]
    rows.append((99, [0.0] * 8, [1.0] * 8))  # zero-norm edge
    return spark.createDataFrame(rows, "id int, a array<float>, b array<float>"), rows


def test_dot_norm_cosine_match_numpy(spark, vec_df):
    df, rows = vec_df
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            dot("a", "b").alias("dot"),
            norm("a").alias("na"),
            cosine("a", "b").alias("cos"),
        ).collect()
    }
    for rid, a, b in rows:
        a64 = np.asarray(a, dtype="float64")
        b64 = np.asarray(b, dtype="float64")
        r = got[rid]
        assert math.isclose(r["dot"], float(a64 @ b64), rel_tol=1e-9, abs_tol=1e-9)
        assert math.isclose(r["na"], float(np.linalg.norm(a64)), rel_tol=1e-9)
        if np.linalg.norm(a64) == 0 or np.linalg.norm(b64) == 0:
            assert r["cos"] == 0.0
        else:
            want = float(a64 @ b64 / (np.linalg.norm(a64) * np.linalg.norm(b64)))
            assert math.isclose(r["cos"], want, rel_tol=1e-9)


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], "a array<float>")
    v = df.select(cosine("a", "a").alias("c")).collect()[0]["c"]
    assert math.isclose(v, 1.0, rel_tol=1e-12)

