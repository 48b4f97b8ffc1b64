"""Behavioral pins for the Gopher top-n-gram fraction over the
``words`` / ``word_ngrams`` tokenizer, and for corpus_power_laws.
Cross-engine value equality is the oracle harness's job; these pin
the SEMANTICS on constructed inputs where the right answer is known
by hand."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.functions import quality as Q
from museum_image_etl_gridfs_spark.operators.topk import grouped_topk


def _gopher_fracs(spark, text):
    """Per-n share of the most frequent 2/3/4-gram in one synthetic
    document (count of the top gram / count of all grams)."""
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    w = Q.words(F.lower(F.col("text")))

    def tag(n):
        return F.transform(
            Q.word_ngrams(w, n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
        )

    grams = df.select(
        "doc_id", F.explode(F.concat(tag(2), tag(3), tag(4))).alias("t")
    ).select("doc_id", "t.n", "t.g")
    rows = (
        grams.groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("n")
        .agg((F.max("c") / F.sum("c")).alias("frac"))
        .collect()
    )
    return {r["n"]: r["frac"] for r in rows}


def test_gopher_dominant_bigram_fraction(spark):
    # "a b a b a b" -> bigrams: [a b, b a, a b, b a, a b] = 5 grams,
    # top "a b" count 3 -> 3/5
    fr = _gopher_fracs(spark, "a b a b a b")
    assert abs(fr[2] - 3 / 5) < 1e-12
    # trigrams: [a b a, b a b, a b a, b a b] -> 2/4
    assert abs(fr[3] - 0.5) < 1e-12


def test_zipf_slope_recovers_synthetic_power_law(spark):
    """Terms with counts c(r) = round(1000 * r^-1) follow an exact
    slope -1 power law (up to integer rounding) — the OLS fit over
    the top ranks must land near -1 with high R²."""
    rows = []
    for r in range(1, 51):
        c = max(round(1000 * r ** -1.0), 1)
        rows += [("s", f"t{r:03d}")] * c
    df = spark.createDataFrame(rows, "source string, term string")
    cnts = df.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    topk = grouped_topk(
        cnts, ["source"], [("c", False), ("term", True)], 50, rn_col="rank"
    )
    pts = [(r["rank"], r["c"]) for r in topk.collect()]
    xs = [math.log(r) for r, _ in pts]
    ys = [math.log(c) for _, c in pts]
    n = len(pts)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert -1.05 < slope < -0.95

    from museum_image_etl_gridfs_spark.plans.registry import all_queries

    # and the registered query itself returns one row per source with
    # sane ranges on the fixture
    out = all_queries()["corpus_power_laws"].build(
        spark, "/root/testdata/sf0.001"
    )
    for row in out.collect():
        assert row["n_types"] <= row["n_tokens"]
        assert 0.0 < row["ttr"] <= 1.0
        assert row["zipf_slope"] is None or row["zipf_slope"] < 0.0
        assert row["zipf_r2"] is None or 0.0 <= row["zipf_r2"] <= 1.0
