"""dup_ngram_char_fraction (operators/spans.py): Gopher's duplicate-
n-gram character fraction must count each character ONCE under
overlapping duplicated grams (exact interval union), handle docs
shorter than n, and never plan a single-task stage."""

from __future__ import annotations

from museum_image_etl_gridfs_spark.operators.spans import (
    GOPHER_DUP_NGRAM_THRESHOLDS,
    dup_ngram_char_fraction,
)


def _rows(spark, texts, **kw):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = dup_ngram_char_fraction(df, **kw)
    return {
        (r["doc_id"], r["n"]): (
            r["dup_chars"],
            r["total_chars"],
            r["dup_char_frac"],
            r["flagged"],
        )
        for r in out.collect()
    }


def _brute(text, n):
    """Reference implementation: set-of-covered-chars (overlap-safe)."""
    ws = text.strip().lower().split()
    joined = " ".join(ws)
    starts, pos = [], 0
    for w in ws:
        starts.append(pos)
        pos += len(w) + 1
    grams = {}
    for i in range(len(ws) - n + 1):
        g = " ".join(ws[i : i + n])
        span = (starts[i], starts[i + n - 1] + len(ws[i + n - 1]))
        grams.setdefault(g, []).append(span)
    covered: set[int] = set()
    for spans in grams.values():
        if len(spans) >= 2:
            for a, b in spans:
                covered.update(range(a, b))
    return len(covered), len(joined)


def test_full_overlap_chain_counts_once(spark):
    # "a b a b a": every bigram duplicated, spans chain-overlap —
    # union must be the WHOLE 9-char stream, not the 4x3=12 sum.
    # n=2 has no published threshold -> never flagged by default
    got = _rows(spark, ["a b a b a"], ns=(2,))
    assert got[(0, 2)] == (9, 9, 1.0, False)
    got = _rows(spark, ["a b a b a"], ns=(2,), thresholds={2: 0.5})
    assert got[(0, 2)] == (9, 9, 1.0, True)


def test_no_duplicates_and_short_doc(spark):
    got = _rows(spark, ["a b c d", "x"], ns=(2, 5))
    assert got[(0, 2)] == (0, 7, 0.0, False)
    assert got[(0, 5)] == (0, 7, 0.0, False)  # shorter than n
    assert got[(1, 2)] == (0, 1, 0.0, False)
    assert len(got) == 4  # one row per (doc, n) incl. gram-free docs


def test_disjoint_duplicate_spans_sum(spark):
    text = "x y q w e x y"
    got = _rows(spark, [text], ns=(2,))
    dup, tot = _brute(text, 2)
    assert got[(0, 2)][0] == dup == 6
    assert got[(0, 2)][1] == tot == 13
    assert got[(0, 2)][2] == round(6 / 13, 6)


def test_matches_brute_force_on_random_docs(spark):
    import random

    rng = random.Random(42)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
        for _ in range(30)
    ]
    for n in (2, 3, 5):
        got = _rows(spark, texts, ns=(n,))
        for i, t in enumerate(texts):
            dup, tot = _brute(t, n)
            assert got[(i, n)][0] == dup, (i, n, t)
            assert got[(i, n)][1] == tot


def test_thresholds_flag(spark):
    got = _rows(spark, ["a b a b a", "a b c d e"], ns=(2,), thresholds={2: 0.5})
    assert got[(0, 2)][3] is True  # frac 1.0 > 0.5
    assert got[(1, 2)][3] is False


def test_published_defaults_present():
    assert GOPHER_DUP_NGRAM_THRESHOLDS == {
        5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
    }


def test_no_single_task_stage_in_plan(spark):
    df = spark.createDataFrame(
        [(i, "a b a b a c d") for i in range(50)], "doc_id long, text string"
    ).repartition(4)
    out = dup_ngram_char_fraction(df, ns=(2, 3))
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan
