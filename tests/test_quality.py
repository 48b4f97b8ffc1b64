"""Unit tests for the text-quality column functions
(functions/quality.py) and the two queries built on them
(plans/queries_quality.py: quality_flags, eval_contamination) on
hand-computed inputs, plus one oracle comparison of the tokenizing
queries on a corpus whose documents start or end with whitespace.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.functions import quality as Q
from museum_image_etl_gridfs_spark.plans import all_queries

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_correctness import duck_connection, normalize, value_hash  # noqa: E402


def _one(df, expr, **cols):
    return df.select(expr.alias("v"), *[F.col(c) for c in cols]).first()["v"]


def test_words_handles_null_and_blank(spark):
    df = spark.createDataFrame(
        [("a  b\tc",), ("   ",), (None,)], ["text"]
    ).select(Q.words("text").alias("w"))
    assert [r["w"] for r in df.collect()] == [["a", "b", "c"], [], []]


def test_word_ngrams_counts_and_short_docs(spark):
    df = spark.createDataFrame([("a b c a b",), ("a",), ("",)], ["text"])
    grams = df.select(Q.word_ngrams(Q.words("text"), 2).alias("g")).collect()
    assert grams[0]["g"] == ["a b", "b c", "c a", "a b"]
    assert grams[1]["g"] == []
    assert grams[2]["g"] == []


def test_dup_ngram_fraction_hand_computed(spark):
    # bigrams of "a b a b a": [a b, b a, a b, b a] -> 4 total, 2 distinct
    df = spark.createDataFrame([("a b a b a",)], ["text"])
    v = _one(df, Q.dup_ngram_fraction(Q.words("text"), 2))
    assert v == pytest.approx(0.5)
    # all-unique trigram case
    df2 = spark.createDataFrame([("w x y z",)], ["text"])
    assert _one(df2, Q.dup_ngram_fraction(Q.words("text"), 3)) == 0.0


def test_frac_alpha_and_stopword_hits(spark):
    df = spark.createDataFrame([("The cat 123 !! and THE dog",)], ["text"])
    w = Q.words("text")
    # 7 words, non-alpha: "123", "!!" -> 5/7
    assert _one(df, Q.frac_alpha_words(w)) == pytest.approx(5 / 7)
    # distinct stopword hits: the (x2 counts once) + and -> 2
    assert _one(df, Q.stopword_hits(w)) == 2


def test_hash_bucket_matches_python_md5(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], ["doc_id"])
    got = {
        r["doc_id"]: r["b"]
        for r in df.select("doc_id", Q.hash_bucket("doc_id").alias("b")).collect()
    }
    for i in range(50):
        expect = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1000
        assert got[i] == expect


def test_quality_flags_mix_and_formula(spark, sf_dir):
    q = all_queries()["quality_flags"]
    rows = q.build(spark, sf_dir).collect()
    assert len(rows) > 0
    passed = [r for r in rows if r["quality_pass"]]
    failed = [r for r in rows if not r["quality_pass"]]
    # fixture corpus contains both keepers and droppers
    assert passed and failed
    for r in rows:
        expect = (
            10 <= r["n_words"] <= 100000
            and 2 <= r["mean_word_len"] <= 12
            and r["frac_alpha"] >= 0.5
            and r["stop_hits"] >= 1
            and r["dup_bigram_frac"] <= 0.6
        )
        assert r["quality_pass"] == expect


def test_tfidf_rare_term_outranks_common(spark):
    """Smoothed TF-IDF over the ``words`` tokenizer ranks a term that
    occurs in one document above one that occurs in all three."""
    # 3 docs; "rare" appears in one doc, "common" in all three.
    docs = spark.createDataFrame(
        [(0, "rare common"), (1, "common zz"), (2, "common yy")],
        ["doc_id", "text"],
    )
    t = docs.select("doc_id", F.explode(Q.words(F.lower("text"))).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = t.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    s = tf.join(df_, "term").select(
        "doc_id", "term",
        (F.col("tf") * (F.log((3 + 1.0) / (F.col("df") + 1.0)) + 1.0)).alias("w"),
    )
    w = {(r["doc_id"], r["term"]): r["w"] for r in s.collect()}
    assert w[(0, "rare")] > w[(0, "common")]


def test_eval_contamination_excludes_eval_docs(spark, sf_dir):
    q = all_queries()["eval_contamination"]
    rows = q.build(spark, sf_dir).collect()
    assert all(r["doc_id"] % 97 != 0 for r in rows)
    for r in rows:
        assert 0 <= r["n_overlap"] <= r["n_shingles"]
        assert 0.0 <= r["contam_frac"] <= 1.0


def test_edge_whitespace_yields_no_empty_token(spark, tmp_path):
    """A tab, newline, vertical tab, form feed or carriage return at
    either end of a document strips like a space, and a run of
    whitespace splits like one space: ``words`` makes no empty token,
    and every query tokenizing with it, its DuckDB form or its Python
    form (the ``eval_contamination`` kernel) matches its own oracle.
    Blank and NULL documents have no tokens, so they pair with no
    document; upper-case and non-ASCII letters check the case fold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [
        "\tred fox jumps over the blue sky\n",  # doc 0: the eval split
        "\tred fox jumps",
        "blue sky\n",
        "\r\n the red fox and the sky \f",
        "\t\n",
        None,
        "one two three four five six seven eight nine ten the\t",
        "\x0bthe red fox jumps over the  blue sky\x0b",
        "the\x0bred fox jumps  over the blue\tsky",
        "  one two three four five six seven eight nine ten  ",
        "\x0b",
        "",
        "THE Red FOX jumps over ΟΔΟΣ ΣΑΣ İstanbul",
        "the red fox jumps over οδος σας İstanbul\x0b",
    ]
    n = len(texts)
    pq.write_table(
        pa.table({
            "doc_id": list(range(n)),
            "text": texts,
            "lang": ["en"] * n,
            "source": ["s0"] * n,
            "n_chars": [len(t or "") for t in texts],
        }),
        os.path.join(str(tmp_path), "documents.parquet"),
    )
    sf = str(tmp_path)
    ws = spark.createDataFrame([(t,) for t in texts], "text string")
    for r in ws.select(Q.words("text").alias("w")).collect():
        assert "" not in r["w"], r["w"]
    con = duck_connection(sf)
    for name in (
        "eval_contamination", "quality_flags", "duplicated_spans",
        "prefix_join_near_dups", "near_dup_components_exact", "text_stats",
    ):
        q = all_queries()[name]
        got = normalize(q.build(spark, sf).toPandas())
        want = normalize(con.execute(q.oracle).df())
        assert len(got) == len(want), (name, got, want)
        assert value_hash(got) == value_hash(want), (name, got, want)
