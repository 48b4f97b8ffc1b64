"""The one Structured Streaming query, ``stream_tumbling_1h``:
drained with trigger(availableNow=True) it must produce exactly the
rows of its batch twin ``events_tumbling_1h`` over the same parquet
(SURVEY.md §7: streaming extension contract).
"""

from __future__ import annotations

from museum_image_etl_gridfs_spark.plans import all_queries, queries_events

QUERIES = all_queries()


def test_tumbling_matches_batch(spark, sf_dir):
    got = QUERIES["stream_tumbling_1h"].build(spark, sf_dir)
    want = QUERIES["events_tumbling_1h"].build(spark, sf_dir)
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
    assert got.count() == want.count()  # rule out duplicate-row asymmetry


def test_stream_query_is_streaming(spark, sf_dir, monkeypatch):
    """``stream_tumbling_1h`` aggregates a streaming source, not a
    batch read. The drain is stubbed out so the query hands back its
    stream."""
    monkeypatch.setattr(queries_events, "run_to_memory", lambda stream, name: stream)
    s = QUERIES["stream_tumbling_1h"].build(spark, sf_dir)
    assert s.isStreaming


def test_checkpoint_fm_default_class_resolves(spark):
    """The session pins the fork-free FileSystem-based checkpoint
    manager (r12: the FileContext default forks a `readlink` per
    checkpoint file). The class lives at a Spark-4 package path — a
    Spark upgrade that moved it would make streaming silently fall
    back to the forking manager, so pin that the configured name
    actually RESOLVES in the running JVM."""
    from museum_image_etl_gridfs_spark.session import DEFAULT_CKPT_FM

    name = spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
    assert name == DEFAULT_CKPT_FM
    klass = spark._jvm.java.lang.Class.forName(name)  # noqa: SLF001
    assert klass.getName() == name


def test_checkpoint_fm_env_override(monkeypatch):
    """SPARK_GRAFT_CKPT_FM must round-trip into the session conf
    (HDFS/object-store deployments configure a store-specific
    manager); get_spark reads it through ckpt_fm_class()."""
    from museum_image_etl_gridfs_spark.session import (
        DEFAULT_CKPT_FM,
        ckpt_fm_class,
    )

    monkeypatch.delenv("SPARK_GRAFT_CKPT_FM", raising=False)
    assert ckpt_fm_class() == DEFAULT_CKPT_FM
    monkeypatch.setenv("SPARK_GRAFT_CKPT_FM", "com.example.S3CkptManager")
    assert ckpt_fm_class() == "com.example.S3CkptManager"
