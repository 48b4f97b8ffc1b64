"""jaccard_pairs_blocked must return EXACTLY the brute-force
Jaccard-threshold pairs. The inputs include the boundary cases of
prefix-filter joins (float-rounded thresholds, overlap exactly at the
bound), which any exact pair engine must also get right."""

from __future__ import annotations

import itertools
import random

import pytest

from museum_image_etl_gridfs_spark.operators.ann import jaccard_pairs_blocked


def _brute(rows, t):
    out = set()
    for (ia, sa, ba), (ib, sb, bb) in itertools.combinations(rows, 2):
        if ba != bb:
            continue
        u = len(sa | sb)
        j = (len(sa & sb) / u) if u else 0.0
        if j >= t:
            lo, hi = (ia, ib) if ia < ib else (ib, ia)
            out.add((lo, hi))
    return out


def _run(spark, rows, t, block=True):
    df = spark.createDataFrame(
        [(i, list(s), b) for i, s, b in rows], "id long, ts array<string>, blk int"
    )
    got = jaccard_pairs_blocked(
        df,
        id_col="id",
        tokens_col="ts",
        threshold=t,
        block_col="blk" if block else None,
    )
    return {(r["id_a"], r["id_b"]) for r in got.collect()}


@pytest.mark.parametrize("seed,t", [(0, 0.5), (1, 0.6), (2, 0.8), (3, 0.3)])
def test_random_sets_match_brute_force(spark, seed, t):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(120):
        n = rng.randint(1, 12)
        rows.append((i, set(rng.sample(vocab, n)), rng.randint(0, 1)))
    # inject near-dup pairs so the threshold actually fires
    for i in range(100, 110):
        base = set(rows[i - 100][1])
        if base:
            base.add(f"x{i}")
        rows.append((1000 + i, base, rows[i - 100][2]))
    assert _run(spark, rows, t) == _brute(rows, t)


def test_exact_duplicates_and_unblocked(spark):
    rows = [
        (1, {"a", "b", "c"}, 0),
        (2, {"a", "b", "c"}, 0),
        (3, {"a", "b"}, 0),
        (4, {"z"}, 0),
        (5, {"z"}, 0),
    ]
    got = _run(spark, rows, 0.99, block=False)
    assert got == {(1, 2), (4, 5)}


def test_jaccard_values_are_exact_ratios(spark):
    rows = [(1, {"a", "b", "c", "d"}, 0), (2, {"a", "b", "c"}, 0)]
    df = spark.createDataFrame(
        [(i, list(s), b) for i, s, b in rows], "id long, ts array<string>, blk int"
    )
    out = jaccard_pairs_blocked(
        df, id_col="id", tokens_col="ts", threshold=0.5, block_col="blk"
    ).collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == 3 / 4


def test_empty_and_singleton_sets(spark):
    rows = [(1, set(), 0), (2, set(), 0), (3, {"q"}, 0), (4, {"q"}, 0)]
    assert _run(spark, rows, 0.5) == {(3, 4)}


@pytest.mark.parametrize("t,n", [(0.14, 50), (0.07, 100), (0.28, 25)])
def test_float_rounded_thresholds_keep_boundary_pairs(spark, t, n):
    """Binary t*n can land an ulp above the exact rational (0.14*50 ->
    7.000000000000001). Pin the exact-boundary case: y = the subset of
    x whose jaccard is exactly the threshold."""
    k = round(t * n)  # |y| such that k/n == t exactly in the rational
    x = {f"w{i}" for i in range(n)}
    # make y the globally most frequent tokens (the worst case for a
    # rarest-first prefix order)
    rows = [(1, x, 0), (2, {f"w{i}" for i in range(k)}, 0)]
    for j in range(3, 40):  # boost df of y's tokens
        rows.append((j, {f"w{j % k}"}, 1))
    got = _run(spark, rows, t)
    assert (1, 2) in _brute(rows, t), "sanity: pair qualifies exactly"
    assert got == _brute(rows, t)


@pytest.mark.parametrize("seed,t", [(4, 0.5), (5, 0.3), (6, 0.8)])
def test_more_random_sets_match_brute_force(spark, seed, t):
    """Extra randomized parity seeds — denser vocab, more injected
    near-dups."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(90):
        n = rng.randint(1, 14)
        rows.append((i, set(rng.sample(vocab, n)), rng.randint(0, 1)))
    for i in range(60, 75):  # near-dup injections
        base = set(rows[i][1])
        base.add(f"x{i}")
        rows.append((1000 + i, base, rows[i][2]))
    df = spark.createDataFrame(
        [(i, list(s), b) for i, s, b in rows], "id long, ts array<string>, blk int"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_blocked(
            df, id_col="id", tokens_col="ts", threshold=t, block_col="blk"
        ).collect()
    }
    assert got == _brute(rows, t)


def test_overlap_at_the_bound_keeps_pairs(spark):
    """Pairs whose overlap EQUALS the minimum the threshold requires
    (jaccard exactly 0.5) must all be kept. Long-ish sets, the
    adversarial case of a prefix-filter suffix bound (Xiao'08 §4)."""
    rng = random.Random(42)
    rows = []
    for i in range(40):
        n = rng.randint(20, 60)
        rows.append((i, {f"t{rng.randint(0, 99)}" for _ in range(n)}, 0))
    # exact-boundary pairs: y shares exactly ceil(t/(1+t)*(|x|+|y|))
    # tokens with x at t=0.5 -> jaccard exactly 0.5 when |x| == |y|
    for i in range(40, 50):
        x = {f"b{i}_{j}" for j in range(30)}
        y = {f"b{i}_{j}" for j in range(20)} | {f"c{i}_{j}" for j in range(10)}
        rows.append((i * 10, x, 0))
        rows.append((i * 10 + 1, y, 0))  # |x∩y|=20, |x∪y|=40 -> j=0.5
    df = spark.createDataFrame(
        [(i, list(s), b) for i, s, b in rows], "id long, ts array<string>, blk int"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_blocked(
            df, id_col="id", tokens_col="ts", threshold=0.5, block_col="blk"
        ).collect()
    }
    assert got == _brute(rows, 0.5)
    assert all((i * 10, i * 10 + 1) in got for i in range(40, 50))
