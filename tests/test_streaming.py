"""Structured Streaming operators — availableNow batch equivalence.

Each streaming operator drained with trigger(availableNow=True) must
produce exactly the rows of its batch twin over the same parquet
(SURVEY.md §7: streaming extension contract).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.catalog import load
from museum_image_etl_gridfs_spark.plans import all_queries
from museum_image_etl_gridfs_spark.streaming import (
    events_stream,
    run_to_memory,
    stream_click_purchase_joins,
    stream_dedup_within_watermark,
    stream_session_windows,
    stream_sliding_counts,
    stream_tumbling_counts,
    stream_user_running_totals,
)

QUERIES = all_queries()


def _assert_same(a, b):
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
    assert a.count() == b.count()  # rule out duplicate-row asymmetry


def test_tumbling_matches_batch(spark, sf_dir):
    got = run_to_memory(
        stream_tumbling_counts(events_stream(spark, sf_dir)), "t_tumbling"
    )
    want = QUERIES["events_tumbling_1h"].build(spark, sf_dir)
    _assert_same(got, want)


def test_sliding_matches_batch(spark, sf_dir):
    got = run_to_memory(
        stream_sliding_counts(events_stream(spark, sf_dir)), "t_sliding"
    )
    want = QUERIES["events_sliding_1h_30m"].build(spark, sf_dir)
    _assert_same(got, want)


def test_session_windows_match_batch_sessionization(spark, sf_dir):
    """session_window(gap=30m) must find the same per-user session
    count as the batch lag/running-sum sessionization."""
    got = run_to_memory(
        stream_session_windows(events_stream(spark, sf_dir)), "t_sessions"
    )
    stream_counts = got.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    batch_counts = (
        QUERIES["user_sessions"]
        .build(spark, sf_dir)
        .select("user_id", "n_sessions")
    )
    _assert_same(stream_counts, batch_counts)
    # per-session event counts must also agree with the longest-run
    longest = got.groupBy("user_id").agg(F.max("n_events").alias("longest_session"))
    batch_longest = (
        QUERIES["user_sessions"].build(spark, sf_dir).select("user_id", "longest_session")
    )
    _assert_same(longest, batch_longest)


def test_dedup_within_watermark(spark, sf_dir):
    got = run_to_memory(
        stream_dedup_within_watermark(events_stream(spark, sf_dir)),
        "t_dedup",
        output_mode="append",
    )
    n_raw = load(spark, "events", sf_dir).count()
    assert got.count() == n_raw  # fixture ids are unique
    assert got.select("event_id").distinct().count() == n_raw


def test_stateful_running_totals(spark, sf_dir):
    got = run_to_memory(
        stream_user_running_totals(events_stream(spark, sf_dir)),
        "t_state",
        output_mode="update",
    )
    # with availableNow over one source, the last emitted row per user
    # is the lifetime total — compare against the batch aggregate
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    want = (
        load(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    _assert_same(final, want)


def test_parquet_sink_exactly_once_on_rerun(spark, sf_dir):
    """Checkpointed file sink: draining twice (second run sees no new
    source files) must not duplicate output — the streaming form of
    the reference's idempotent re-run marker (F3)."""
    import shutil
    import uuid

    from museum_image_etl_gridfs_spark.streaming import run_to_parquet

    base = f"/root/repo/.tmp_stream_{uuid.uuid4().hex[:8]}"
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    try:
        n_src = load(spark, "events", sf_dir).count()
        run_to_parquet(events_stream(spark, sf_dir), out, ckpt)
        assert spark.read.parquet(out).count() == n_src
        # second drain: offsets in the checkpoint say "nothing new"
        run_to_parquet(events_stream(spark, sf_dir), out, ckpt)
        assert spark.read.parquet(out).count() == n_src
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_watermark_present_in_plan(spark, sf_dir):
    """The aggregations must carry a watermark (state cleanup at
    scale); a missing watermark would silently accumulate state."""
    s = stream_tumbling_counts(events_stream(spark, sf_dir))
    assert "watermark" in s._jdf.queryExecution().analyzed().toString().lower()


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The watermarked stream-stream attribution join must emit
    exactly the batch inner join's pairs (availableNow drain)."""
    got = run_to_memory(
        stream_click_purchase_joins(events_stream(spark, sf_dir)),
        "t_ss_join_tbl",
        output_mode="append",
    ).collect()

    ev = load(spark, "events", sf_dir)
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = (
        a.join(
            b,
            F.expr(
                "c_user = p_user AND purchase_ts >= click_ts "
                "AND purchase_ts <= click_ts + interval 30 minutes"
            ),
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long"))
            .alias("lag_s"),
        )
        .collect()
    )
    key = lambda r: (r["user_id"], r["click_id"], r["purchase_id"], r["lag_s"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) > 0


def test_foreach_batch_upsert_last_writer_wins(spark, sf_dir, tmp_path):
    """foreachBatch MERGE sink: the maintained table holds exactly one
    row per user — the latest event by (ts, event_id) — and a rerun
    against the drained source changes nothing (exactly-once)."""
    from museum_image_etl_gridfs_spark.streaming import run_foreach_batch_upsert

    out = str(tmp_path / "user_state")
    ckpt = str(tmp_path / "ckpt_upsert")
    run_foreach_batch_upsert(
        events_stream(spark, sf_dir),
        out,
        keys=["user_id"],
        checkpoint=ckpt,
        order_by=["ts", "event_id"],
    )
    got = spark.read.parquet(out)
    ev = load(spark, "events", sf_dir)
    w_latest = F.struct(F.col("ts"), F.col("event_id")).alias("__k")
    want = (
        ev.withColumn("__k", w_latest)
        .groupBy("user_id")
        .agg(F.max("__k").alias("m"))
        .select("user_id", F.col("m.ts").alias("ts"), F.col("m.event_id").alias("event_id"))
    )
    joined = got.select("user_id", "ts", "event_id").exceptAll(want)
    assert joined.count() == 0
    assert got.count() == ev.select("user_id").distinct().count()
    before = sorted(map(tuple, got.collect()))
    run_foreach_batch_upsert(
        events_stream(spark, sf_dir),
        out,
        keys=["user_id"],
        checkpoint=ckpt,
        order_by=["ts", "event_id"],
    )
    after = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert after == before


def test_enriched_segments_match_batch(spark, sf_dir):
    """Stream-static broadcast join + window must equal the batch
    join+group over the same parquet."""
    from museum_image_etl_gridfs_spark.streaming import (
        stream_enriched_segment_counts,
    )

    dim = load(spark, "customer", sf_dir)
    got = run_to_memory(
        stream_enriched_segment_counts(events_stream(spark, sf_dir), dim),
        "t_enriched",
    )
    ev = load(spark, "events", sf_dir)
    want = (
        ev.join(
            dim.select("c_custkey", "c_mktsegment"),
            ev["user_id"] == F.col("c_custkey"),
        )
        .groupBy(
            F.window("ts", "1 hour").alias("w"), "c_mktsegment"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment", "n", "sum_value",
        )
    )
    _assert_same(got, want)


def test_stream_event_funnel_matches_batch(spark, sf_dir):
    """The stateful streaming funnel must equal the batch funnel over
    the same parquet (min-per-step state is order-insensitive, so any
    micro-batch split yields the identical final row)."""
    got = QUERIES["stream_event_funnel"].build(spark, sf_dir)
    want = QUERIES["event_funnel"].build(spark, sf_dir)
    _assert_same(got, want)


def test_hourly_ohlc_matches_batch(spark, sf_dir):
    """Streaming struct-argmin/argmax bars == batch hourly_ohlc
    (modulo the hour column name)."""
    from museum_image_etl_gridfs_spark.streaming import stream_hourly_ohlc_bars

    got = run_to_memory(
        stream_hourly_ohlc_bars(events_stream(spark, sf_dir)), "t_ohlc"
    )
    want = (
        QUERIES["hourly_ohlc"]
        .build(spark, sf_dir)
        .withColumnRenamed("hour", "window_start")
    )
    _assert_same(got, want)


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
