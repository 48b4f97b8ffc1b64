"""Event queries over ``events``: hourly windows, sessionization,
JSON extraction and re-run dedup — plus the one Structured Streaming
query, ``stream_tumbling_1h``, which drains the events parquet with an
``availableNow`` trigger through the same hourly aggregate as the batch
``events_tumbling_1h`` (tests/test_streaming.py asserts they agree).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, normalize_events_ts
from .registry import query


def hourly_counts(ev: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time windows × event type: row count and
    value sum. The sum goes through DECIMAL so it is
    partition-order-independent. Works on a batch or a streaming
    ``events`` DataFrame."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


@query(
    "events_tumbling_1h",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY window_start, event_type
    """,
    tags=("events", "window-agg", "extension"),
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows × event type (batch)."""
    return hourly_counts(load(spark, "events", sf_dir))


@query(
    "user_sessions",
    oracle="""
    WITH gapped AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL THEN 1
                    WHEN date_diff('second',
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) > 1800 THEN 1
                    ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gapped
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
           CAST(MAX(sess_n) AS BIGINT) AS longest_session
    FROM (
        SELECT user_id, session_id, COUNT(*) AS sess_n
        FROM sessions GROUP BY user_id, session_id
    )
    GROUP BY user_id
    """,
    tags=("events", "sessionization", "extension"),
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap): lag → gap flag →
    running-sum session ids → per-session sizes → per-user stats.
    Batch analog of streaming ``session_window``; two window shuffles
    on user_id then a group-by — all on the same key, so Spark reuses
    the partitioning (single exchange)."""
    ev = load(spark, "events", sf_dir)
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_order)
    new_session = F.when(gap_s.isNull() | (gap_s > 1800), 1).otherwise(0)
    sessions = ev.select(
        "user_id",
        "ts",
        F.sum(new_session).over(
            w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_id"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("sess_n")
    )
    return per_session.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.max("sess_n").alias("longest_session"),
    )


@query(
    "event_props_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT))
                AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("events", "json", "reference-parity"),
)
def event_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 JSON path extraction (the reference parses API JSON docs,
    src/ingestion.py:45-79) — regexp-based here so both engines share
    the exact extraction semantics, aggregated per event type."""
    ev = load(spark, "events", sf_dir)
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet with ts normalized to a
    session-tz timestamp — the streaming twin of ``catalog.load``.

    The file source requires an explicit schema; rather than hardcode
    one physical layout, probe it with a batch scan (footer read only)
    and reuse the batch normalizer on the streaming DataFrame.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probed = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # the file source requires a directory: stream the sf_dir with a
    # glob filter rather than the single parquet file
    raw = (
        spark.readStream.schema(probed)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_events_ts(raw)


def run_to_memory(stream: DataFrame, name: str) -> DataFrame:
    """Drain a streaming aggregate with an ``availableNow`` trigger
    into an in-memory table (complete mode); returns the materialized
    result as a batch DataFrame. Blocks until the source is drained."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream.sparkSession.table(name)


@query(
    "stream_tumbling_1h",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY window_start, event_type
    """,
    tags=("streaming", "window-agg", "extension"),
)
def stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events_tumbling_1h`` as a Structured Streaming query, drained
    with an ``availableNow`` trigger — same oracle as the batch query
    because the trigger guarantees batch equivalence."""
    return run_to_memory(
        hourly_counts(events_stream(spark, sf_dir)),
        f"q_tumbling_{uuid.uuid4().hex[:8]}",
    )


@query(
    "events_dedup_rerun",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_after_dedup,
           CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_original
    FROM (SELECT DISTINCT event_id FROM (
        SELECT event_id FROM events UNION ALL SELECT event_id FROM events
    ))
    """,
    tags=("events", "dedup", "reference-parity"),
)
def events_dedup_rerun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once re-run semantics: ingesting the same batch twice
    then deduplicating by event id restores the original count (batch
    analog of ``dropDuplicatesWithinWatermark``)."""
    ev = load(spark, "events", sf_dir).select("event_id")
    doubled = ev.unionAll(ev)
    return doubled.dropDuplicates(["event_id"]).agg(
        F.count(F.lit(1)).alias("n_after_dedup")
    ).crossJoin(F.broadcast(ev.agg(F.count(F.lit(1)).alias("n_original"))))
