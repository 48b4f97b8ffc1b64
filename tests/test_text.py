"""Text-analysis functions (training-data pipeline extensions)."""

from __future__ import annotations

import hashlib

from museum_image_etl_gridfs_spark.functions import text as TX


def _one(spark, expr, value):
    df = spark.createDataFrame([(value,)], "t string")
    return df.select(expr("t").alias("v")).collect()[0]["v"]


def test_token_count(spark):
    assert _one(spark, TX.token_count, "one two  three\tfour") == 4
    assert _one(spark, TX.token_count, "  ") == 0
    assert _one(spark, TX.token_count, None) == 0
    assert _one(spark, TX.token_count, "solo") == 1


def test_char_and_punct_counts(spark):
    assert _one(spark, TX.char_count, "abc") == 3
    assert _one(spark, TX.char_count, None) == 0
    assert _one(spark, TX.punct_count, "a,b.c!?") == 4
    assert _one(spark, TX.punct_count, "no punct") == 0


def test_ratios(spark):
    assert _one(spark, TX.digit_ratio, "a1b2") == 0.5
    assert _one(spark, TX.digit_ratio, "") == 0.0
    assert _one(spark, TX.uppercase_ratio, "ABcd") == 0.5


def test_mean_token_len(spark):
    #  "ab cdef" -> 6 solid chars / 2 tokens = 3.0
    assert _one(spark, TX.mean_token_len, "ab cdef") == 3.0
    assert _one(spark, TX.mean_token_len, "") == 0.0


def test_quality_score_bounds(spark):
    for t in ["Good plain prose, nicely sized words here.", "", "111 222 333",
              "A" * 500, None]:
        v = _one(spark, TX.quality_score, t)
        assert 0.0 <= v <= 1.0


def test_fingerprint_normalizes_whitespace_and_case(spark):
    a = _one(spark, TX.fingerprint, "Hello   World")
    b = _one(spark, TX.fingerprint, "  hello world ")
    assert a == b
    assert a == hashlib.md5(b"hello world").hexdigest()


def test_lang_guess(spark):
    cases = {
        "the cat and the dog of the house is big": "en",
        "der hund und die katze ist nicht da": "de",
        "le chat et la maison est grande les jours": "fr",
        "el gato y los perros es que grande": "es",
        "zzz qqq www": "und",
        "": "und",
        # ADVICE r9: markers glued to punctuation must still score
        "the, cat. (and) the dog; of 'the' house is big!": "en",
        "le chat, et la maison... est grande, les jours.": "fr",
    }
    df = spark.createDataFrame(list(cases.items()), "t string, want string")
    got = df.select(
        TX.lang_guess("t").alias("got"), "want", "t"
    ).collect()
    for r in got:
        assert r["got"] == r["want"], r["t"]
