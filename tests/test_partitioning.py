"""spread() must add an Exchange for under-split input and add NOTHING
for input that is already wide — the 100 TB posture pin for every
CPU-bound stage (sketching, scoring, codecs).

VERDICT r1 flagged unconditional ``repartition(defaultParallelism,
key)`` barriers: right on single-row-group fixtures, wrong at scale
(full-corpus shuffle + partition-count collapse). This test builds a
multi-partition input and asserts the barrier is gone, and a
1-partition input and asserts it appears.
"""

from __future__ import annotations

from museum_image_etl_gridfs_spark.catalog import load
from museum_image_etl_gridfs_spark.operators.dedup import (
    minhash_near_duplicates,
)
from museum_image_etl_gridfs_spark.partitioning import spread


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_repartitions_narrow_input(spark):
    df = spark.range(100).coalesce(1)
    out = spread(df, "id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert "Exchange hashpartitioning" in _physical(out)


def test_spread_is_identity_on_wide_input(spark):
    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism * 2, "id"
    )
    # materialize the repartitioned shape as the "scan" stand-in
    assert wide.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    out = spread(wide, "id")
    assert out is wide  # no extra node at all


def test_spread_explicit_target(spark):
    df = spark.range(10).coalesce(1)
    assert spread(df, "id", target=7).rdd.getNumPartitions() == 7


def test_minhash_has_no_barrier_on_presplit_input(spark, sf_dir, tmp_path):
    """End-to-end posture pin: write the documents fixture as many
    small files (the multi-row-group / many-split scan shape of a
    large table), and assert the minhash plan contains NO
    hashpartitioning Exchange on the raw text — the sketch stage must
    inherit the scan's splits."""
    n_target = spark.sparkContext.defaultParallelism
    src = load(spark, "documents", sf_dir).select("doc_id", "text")
    path = str(tmp_path / "docs_many_files")
    src.repartition(n_target, "doc_id").write.mode("overwrite").parquet(path)

    docs = spark.read.parquet(path)
    assert docs.rdd.getNumPartitions() >= n_target

    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", k=5, num_hashes=32, bands=8, min_jaccard=0.4
    )
    plan = _physical(pairs)
    # exactly ONE repartition exchange — the deliberate (band,
    # band_hash) bucket barrier; the fp-collapse and blocking windows
    # reuse it (superset keys). The sketch itself no longer appears in
    # the final plan at all: it ran EXACTLY ONCE into the tracked
    # localCheckpoint at build time (r13), and every consumer — the
    # band explode, the star branch, the post-candidate signature
    # join — is a Scan ExistingRDD of those blocks. No up-front
    # repartition of (id, text) on a pre-split input: spread() saw a
    # wide scan and added nothing, so the sketch inherited the scan's
    # splits (pinned structurally: a REPARTITION_BY_NUM here would
    # survive into the checkpointed lineage; see the coalesce(1)
    # branch below where it must appear).
    assert plan.count("REPARTITION_BY_COL") == 1
    assert "MapInArrow" not in plan
    # 4 block reads: band explode, star aggregate, star join side,
    # signature join — each a Scan ExistingRDD, never a re-sketch
    assert plan.count("Scan ExistingRDD") == 4
    # the signature column must NOT ride the band fan-out through the
    # bucket exchange: the projection feeding REPARTITION_BY_COL
    # carries only (id, fp, band, band_hash)
    pre_exchange = plan[: plan.index("REPARTITION_BY_COL")]
    fanout_project = pre_exchange[pre_exchange.rindex("Project") :]
    assert "sig" not in fanout_project
    # remaining exchanges are narrow: the star aggregate + join side,
    # the signature join, the block groupBy, and the final pair dedup
    assert plan.count("Exchange hashpartitioning") <= 6

    # on the single-file fixture the spread barrier IS present inside
    # the sketch's (checkpointed) lineage — the final plan cannot show
    # it, so pin it on the pre-checkpoint relation: a 1-partition
    # input must leave minhash's Python stage spread across cores
    one = load(spark, "documents", sf_dir).select("doc_id", "text").coalesce(1)
    spread_one = spread(one, "doc_id")
    assert "REPARTITION_BY_NUM" in _physical(spread_one)
    plan_one = _physical(
        minhash_near_duplicates(
            one, "doc_id", "text", k=5, num_hashes=32, bands=8, min_jaccard=0.4
        )
    )
    assert plan_one.count("REPARTITION_BY_COL") == 1
