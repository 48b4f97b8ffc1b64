"""Dedup operators — keep-first and MinHash/LSH.

Covers SURVEY.md A3 (reference parity) and the near-dup extension.
MinHash accuracy is asserted against exact Jaccard on crafted
documents (FIXTURES.md model).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.functions.quality import (
    fold_case,
    fold_case_py,
    words,
    words_py,
)
from museum_image_etl_gridfs_spark.operators.ann import jaccard_pairs_blocked
from museum_image_etl_gridfs_spark.operators.dedup import (
    dedup_keep_first,
    minhash_near_duplicates,
)


def _meta(spark):
    rows = [
        # (doc_id, object_id, created_at) — object 10 has 3 copies
        ("a", 10, "2024-01-03"),
        ("b", 10, "2024-01-01"),
        ("c", 10, "2024-01-02"),
        ("d", 20, "2024-01-01"),
        ("e", 30, "2024-01-05"),
    ]
    return spark.createDataFrame(
        rows, "doc_id string, object_id int, created_at string"
    ).withColumn("created_at", F.to_timestamp("created_at"))


def test_dedup_keep_first_deterministic(spark):
    out = dedup_keep_first(_meta(spark), ["object_id"], ["created_at", "doc_id"])
    got = {r["object_id"]: r["doc_id"] for r in out.collect()}
    # survivor = earliest created_at per group
    assert got == {10: "b", 20: "d", 30: "e"}
    # idempotent: dedup of deduped is identity
    again = dedup_keep_first(out, ["object_id"], ["created_at", "doc_id"])
    assert again.subtract(out).count() == 0 and out.subtract(again).count() == 0


def test_minhash_estimates_jaccard(spark):
    """Signature agreement rate must approximate true Jaccard of the
    shingle sets (within MinHash standard error ~1/sqrt(64) ≈ 0.125
    at 64 hashes; we allow 3 sigma)."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    # change only the LAST occurrence: Jaccard stays high (~0.8), so
    # the 16-band/4-row LSH finds the pair with probability ~1-1e-4
    # (at j=0.5 detection would be a coin flip — not testable)
    i = base.rfind("lazy")
    near = base[:i] + "sleepy" + base[i + len("lazy"):]
    far = "completely different text about spark engines and parquet files"
    texts = {"base": base, "near": near, "far": far}
    df = spark.createDataFrame(list(texts.items()), "doc_id string, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in minhash_near_duplicates(
            df, "doc_id", "text", k=3, num_hashes=64, bands=16, min_jaccard=0.0
        ).collect()
    }

    def shingle_set(text, k=3):
        toks = words_py(fold_case_py(text))
        return {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}

    sets = {d: shingle_set(t) for d, t in texts.items()}
    exact = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a, b in combinations(sorted(texts), 2)
    }
    key = ("base", "near")
    assert exact[key] >= 0.5  # sanity: the crafted pair is near-dup
    assert abs(pairs[key] - exact[key]) < 0.375  # 3 * 1/sqrt(64)
    # the far document must not surface as a candidate above 0.4
    high = {k for k, v in pairs.items() if v >= 0.4}
    assert high == {key}


def test_minhash_identical_docs_score_1(spark):
    df = spark.createDataFrame(
        [("x", "same exact words here today"), ("y", "same exact words here today")],
        "doc_id string, text string",
    )
    rows = minhash_near_duplicates(
        df, "doc_id", "text", k=2, num_hashes=32, bands=8, min_jaccard=0.9
    ).collect()
    assert len(rows) == 1 and rows[0]["jaccard_est"] == 1.0


def test_minhash_giant_identical_cluster_bounded(spark, monkeypatch):
    """The 100 TB killer case (VERDICT r3 'what's wrong' #1): a
    boilerplate cluster of N identical docs shares EVERY band bucket.
    The fp-collapse must turn it into N-1 star pairs at 1.0 — O(N)
    output, never an O(N^2) expansion or a single N-member
    collect_list — even with a tiny bucket cap forcing the blocking
    path for whatever survives."""
    from museum_image_etl_gridfs_spark.operators import dedup

    monkeypatch.setattr(dedup, "_BUCKET_CAP", 64)
    n = 20_000
    docs = spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        F.lit("identical boilerplate text repeated across the corpus").alias(
            "text"
        ),
    )
    pairs = minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        k=3,
        num_hashes=32,
        bands=8,
        min_jaccard=0.5,
    )
    rows = pairs.collect()
    assert len(rows) == n - 1  # star closure, not all-pairs
    rep = min(str(i) for i in range(n))  # lexicographic min id
    assert all(r["jaccard_est"] == 1.0 for r in rows)
    assert all(r["id_a"] == rep or r["id_b"] == rep for r in rows)


def test_minhash_block_decomposition_is_exact(spark, monkeypatch):
    """Sub-salting oversized buckets must be output-invariant: a
    bucket cap small enough to force multi-chunk 2D blocking on every
    bucket yields EXACTLY the same pair set (ids and estimates) as an
    effectively-unbounded cap."""
    from museum_image_etl_gridfs_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        (f"d{i:02d}", base + f"variant token {i % 4}") for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    def run(cap):
        monkeypatch.setattr(dedup, "_BUCKET_CAP", cap)
        return {
            (r["id_a"], r["id_b"]): r["jaccard_est"]
            for r in minhash_near_duplicates(
                docs,
                "doc_id",
                "text",
                k=3,
                num_hashes=32,
                bands=8,
                min_jaccard=0.2,
            ).collect()
        }

    unblocked = run(10**6)
    blocked = run(3)  # every >3-member bucket splits into chunk pairs
    assert len(unblocked) > 10  # the fixture actually exercises pairs
    assert blocked == unblocked


def test_minhash_pairs_no_token_less_document(spark):
    """A document with no token (NULL, empty or all whitespace) has an
    empty shingle set, whose Jaccard with anything is 0: MinHash pairs
    none of them, and agrees with the exact kernel on such input. Two
    documents shorter than k that fold to the same tokens share their
    one shingle and pair."""
    same = "the quick brown fox jumps over the lazy dog"
    rows = [(1, None), (2, None), (3, ""), (4, "   "), (5, "\t\n"),
            (6, same), (7, same), (8, "Hello World"), (9, "hello  world")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    minhash = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", k=5, num_hashes=64, bands=16, min_jaccard=0.5
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_blocked(
            docs.select("doc_id", words(fold_case("text")).alias("ts")),
            id_col="doc_id",
            tokens_col="ts",
            threshold=0.5,
        ).collect()
    }
    assert minhash == exact == {(6, 7), (8, 9)}
