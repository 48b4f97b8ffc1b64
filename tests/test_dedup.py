"""Dedup operators — exact, keep-first, MinHash/LSH, SimHash.

Covers SURVEY.md A1-A3 (reference parity) and the training-data
near-dup extensions. MinHash accuracy is asserted against exact
Jaccard on crafted documents (FIXTURES.md model).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.operators.dedup import (
    dedup_keep_first,
    duplicate_groups,
    exact_dedup,
    hamming64,
    minhash_near_duplicates,
    ngram_jaccard,
    shingle_hashes,
    shingles,
    simhash,
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


def test_duplicate_groups(spark):
    got = {
        r["object_id"]: r["dup_count"]
        for r in duplicate_groups(_meta(spark), ["object_id"]).collect()
    }
    assert got == {10: 3}


def test_dedup_keep_first_deterministic(spark):
    out = dedup_keep_first(_meta(spark), ["object_id"], ["created_at", "doc_id"])
    got = {r["object_id"]: r["doc_id"] for r in out.collect()}
    # survivor = earliest created_at per group
    assert got == {10: "b", 20: "d", 30: "e"}
    # idempotent: dedup of deduped is identity
    again = dedup_keep_first(out, ["object_id"], ["created_at", "doc_id"])
    assert again.subtract(out).count() == 0 and out.subtract(again).count() == 0


def test_exact_dedup(spark):
    df = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "k int, v string")
    assert exact_dedup(df).count() == 2
    assert exact_dedup(df, ["k"]).count() == 2


def test_shingles_word_window(spark):
    df = spark.createDataFrame([("the quick brown fox",)], "t string")
    got = sorted(df.select(shingles(F.col("t"), k=2).alias("s")).collect()[0]["s"])
    assert got == ["brown fox", "quick brown", "the quick"]


def test_shingles_short_text_single_shingle(spark):
    df = spark.createDataFrame([("hello",), ("",)], "t string")
    rows = df.select(shingles(F.col("t"), k=3).alias("s")).collect()
    assert rows[0]["s"] == ["hello"]
    assert rows[1]["s"] == [""]


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
    df = spark.createDataFrame(
        [("base", base), ("near", near), ("far", far)], "doc_id string, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in minhash_near_duplicates(
            df, "doc_id", "text", k=3, num_hashes=64, bands=16, min_jaccard=0.0
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["j"]
        for r in (
            df.alias("a")
            .join(df.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                ngram_jaccard(
                    shingles(F.col("a.text"), 3), shingles(F.col("b.text"), 3)
                ).alias("j"),
            )
        ).collect()
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


def test_minhash_giant_identical_cluster_bounded(spark):
    """The 100 TB killer case (VERDICT r3 'what's wrong' #1): a
    boilerplate cluster of N identical docs shares EVERY band bucket.
    The fp-collapse must turn it into N-1 star pairs at 1.0 — O(N)
    output, never an O(N^2) expansion or a single N-member
    collect_list — even with a tiny bucket_cap forcing the blocking
    path for whatever survives."""
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
        bucket_cap=64,
    )
    rows = pairs.collect()
    assert len(rows) == n - 1  # star closure, not all-pairs
    rep = min(str(i) for i in range(n))  # lexicographic min id
    assert all(r["jaccard_est"] == 1.0 for r in rows)
    assert all(r["id_a"] == rep or r["id_b"] == rep for r in rows)


def test_minhash_sig_broadcast_gate_counts_id_bytes(spark, monkeypatch):
    """The signature broadcast gate must count the ids' bytes. With
    wide string ids and a ceiling between the id-blind estimate
    (docs × (8·num_hashes + 32)) and the full one, the sig join must
    carry no broadcast hint; the pairs are the same either way."""
    from museum_image_etl_gridfs_spark.operators import dedup

    n, num_hashes = 12, 32
    docs = spark.createDataFrame(
        [
            (f"{i:04d}" + "x" * 2000, f"shared words in every doc number {i % 3} here")
            for i in range(n)
        ],
        "doc_id string, text string",
    )
    kw = dict(k=2, num_hashes=num_hashes, bands=8, min_jaccard=0.5)

    def hinted(pairs) -> bool:
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        return "strategy=broadcast" in plan

    assert hinted(minhash_near_duplicates(docs, "doc_id", "text", **kw))
    expected = sorted(
        tuple(r) for r in minhash_near_duplicates(docs, "doc_id", "text", **kw).collect()
    )
    id_blind = n * (num_hashes * 8 + 32)
    monkeypatch.setattr(dedup, "_SIG_BROADCAST_MAX_BYTES", id_blind)
    pairs = minhash_near_duplicates(docs, "doc_id", "text", **kw)
    assert not hinted(pairs)
    assert sorted(tuple(r) for r in pairs.collect()) == expected
    assert expected  # the docs do pair up


def test_minhash_block_decomposition_is_exact(spark):
    """Sub-salting oversized buckets must be output-invariant: a
    bucket_cap small enough to force multi-chunk 2D blocking on every
    bucket yields EXACTLY the same pair set (ids and estimates) as an
    effectively-unbounded cap."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        (f"d{i:02d}", base + f"variant token {i % 4}") for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    def run(cap):
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
                bucket_cap=cap,
            ).collect()
        }

    unblocked = run(10**6)
    blocked = run(3)  # every >3-member bucket splits into chunk pairs
    assert len(unblocked) > 10  # the fixture actually exercises pairs
    assert blocked == unblocked


def test_shingle_hashes_in_range(spark):
    df = spark.createDataFrame([("alpha beta gamma delta",)], "t string")
    hs = df.select(
        shingle_hashes(shingles(F.col("t"), 2)).alias("h")
    ).collect()[0]["h"]
    assert all(0 <= h < (1 << 31) - 1 for h in hs)


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("b", "the quick brown fox jumps over the lazy dog"),
            ("c", "the quick brown fox jumps over the sleepy dog"),
            ("d", "entirely unrelated content regarding database engines"),
        ],
        "id string, text string",
    )
    sigs = df.select("id", simhash(F.col("text")).alias("sh"))
    wide = (
        sigs.alias("x")
        .join(sigs.alias("y"), F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            hamming64(F.col("x.sh"), F.col("y.sh")).alias("d"),
        )
    )
    dist = {(r["a"], r["b"]): r["d"] for r in wide.collect()}
    assert dist[("a", "b")] == 0  # identical text -> identical simhash
    assert dist[("a", "c")] < dist[("a", "d")]  # near < far


def test_ngram_jaccard_edges(spark):
    df = spark.createDataFrame([(["a", "b"], ["a", "b"], [], ["c"])],
                               "x array<string>, y array<string>, e array<string>, z array<string>")
    row = df.select(
        ngram_jaccard(F.col("x"), F.col("y")).alias("same"),
        ngram_jaccard(F.col("e"), F.col("e")).alias("both_empty"),
        ngram_jaccard(F.col("x"), F.col("z")).alias("disjoint"),
    ).collect()[0]
    assert row["same"] == 1.0
    assert row["both_empty"] == 0.0
    assert row["disjoint"] == 0.0


def test_incremental_minhash_equals_filtered_full(spark, sf_dir):
    """Incremental mode's contract: identical to the FULL output
    filtered to pairs with at least one new member — the band prune
    drops only buckets with no new doc (whose pairs are all old×old),
    the kernel rejects old×old inside surviving buckets, and all-old
    star groups emit nothing."""
    from museum_image_etl_gridfs_spark.catalog import load

    docs = load(spark, "documents", sf_dir).withColumn(
        "is_new", F.col("doc_id") % 10 == 0
    )
    kw = dict(k=5, num_hashes=16, bands=4, min_jaccard=0.3)
    full = minhash_near_duplicates(docs, "doc_id", "text", **kw)
    inc = minhash_near_duplicates(
        docs, "doc_id", "text", new_col="is_new", **kw
    )
    flags = docs.select(F.col("doc_id"), "is_new")
    expected = (
        full.join(flags.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("is_new", "new_a")
        .join(flags.withColumnRenamed("doc_id", "id_b"), "id_b")
        .filter(F.col("new_a") | F.col("is_new"))
        .select("id_a", "id_b", "jaccard_est")
    )
    got = {tuple(r) for r in inc.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want and len(want) > 0
