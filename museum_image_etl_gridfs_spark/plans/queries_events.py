"""Event-stream queries over ``events`` — the batch faces of the
Structured Streaming operators in ``streaming/`` (same logical plans;
streaming equivalence is asserted in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from .registry import query


def _dec6(c) -> "F.Column":
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,6)")


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
    """Tumbling 1-hour event-time windows × event type.

    Batch face of the streaming tumbling-window aggregate; the value
    sum goes through DECIMAL so it is partition-order-independent.
    """
    ev = load(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec6("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


@query(
    "events_sliding_1h_30m",
    oracle="""
    SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value
        FROM events
    )
    GROUP BY window_start
    """,
    tags=("events", "window-agg", "extension"),
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): every event lands
    in two windows. The oracle expands the two memberships as a
    UNION ALL of shifted 30-minute buckets — identical semantics."""
    ev = load(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec6("value")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


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
    """Structured Streaming tumbling-window aggregate, drained with an
    ``availableNow`` trigger — same oracle as the batch twin because
    the trigger guarantees batch equivalence (asserted in
    tests/test_streaming.py). Watermarked: closed-window state is
    dropped, so memory stays bounded on an unbounded stream."""
    import uuid

    from ..streaming import events_stream, run_to_memory, stream_tumbling_counts

    return run_to_memory(
        stream_tumbling_counts(events_stream(spark, sf_dir)),
        f"q_tumbling_{uuid.uuid4().hex[:8]}",
    )


@query(
    "stream_user_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "extension"),
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user lifetime totals. With one availableNow batch the emitted
    state equals the batch group-by — hash-checked against the oracle.
    The decimal cast mirrors the oracle's exact summation so doubles
    match bit-for-bit."""
    import uuid

    from ..streaming import events_stream, run_to_memory

    ev = events_stream(spark, sf_dir)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, "0")
        from decimal import Decimal

        total = Decimal(total)
        for pdf in pdfs:
            n += len(pdf)
            for v in pdf["value"]:
                total += Decimal(str(v)).quantize(Decimal("0.000001"))
        state.update((n, str(total)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [float(total)],
            }
        )

    totals = (
        ev.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total string",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_memory(
        totals, f"q_totals_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    # update-mode emits one row per user per micro-batch; keep the last
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    return (
        out.withColumn("__rn", w)
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@query(
    "stream_expired_sessions",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_ms(ts) AS tms FROM events
    ),
    deltas AS (
        SELECT user_id, tms,
               CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
                         > 1800000
                    THEN 1 ELSE 0 END AS brk
        FROM e
    ),
    sess AS (
        SELECT user_id, tms,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY tms
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM deltas
    ),
    agg AS (
        SELECT user_id, sid,
               MIN(tms) AS s_ms, MAX(tms) AS e_ms,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
    ),
    last AS (SELECT user_id, MAX(sid) AS last_sid FROM agg GROUP BY user_id)
    SELECT agg.user_id,
           make_timestamp(s_ms * 1000) AS session_start,
           make_timestamp(e_ms * 1000) AS session_end,
           n_events
    FROM agg JOIN last ON agg.user_id = last.user_id
    WHERE agg.sid < last.last_sid
       OR e_ms + 1800000 < (SELECT MAX(epoch_ms(ts)) - 1800000 FROM events)
    """,
    tags=("streaming", "stateful", "timeout", "extension"),
)
def stream_expired_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time-timeout sessionization (applyInPandasWithState +
    GroupStateTimeout.EventTimeTimeout): per-user sessions that CLOSE
    when the watermark passes last activity + 30 min — or the moment
    a LATER event proves the gap (the in-batch split emits
    immediately, no watermark needed) — emitted in append mode
    exactly once.

    The oracle is the batch sessionization (lag/sum gap-split on
    ms-truncated event time); its emission rule mirrors the operator
    exactly: every non-last session per user is successor-closed (a
    later event > 30 min after it exists by construction), and the
    user's LAST session emits only when the final watermark
    (max ts - 30 min delay) strictly passes its timeout. Only open
    tails are withheld on both engines.
    """
    import uuid

    from ..streaming import events_stream, run_to_memory, stream_expiring_sessions

    ev = events_stream(spark, sf_dir)
    return run_to_memory(
        stream_expiring_sessions(ev),
        f"q_expired_{uuid.uuid4().hex[:8]}",
        output_mode="append",
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


@query(
    "stream_attribution_pairs",
    oracle="""
    SELECT a.user_id,
           a.event_id AS click_id,
           b.event_id AS purchase_id,
           CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS lag_s
    FROM events a JOIN events b ON a.user_id = b.user_id
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
      AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    tags=("events", "streaming", "stream-stream-join", "extension"),
)
def stream_attribution_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click -> purchase attribution
    within 30 min), EXECUTED AS A STREAM: watermarks on both sides
    bound the join state, availableNow drains the source, and the
    append-mode output is compared against the DuckDB batch self-join
    — the strongest check a streaming operator can get (exact value
    hash, not rows-only).

    date_diff('second') counts second-boundary crossings, which equals
    Spark's floor-epoch cast difference — exact on both engines.
    """
    from ..streaming import (
        events_stream,
        run_to_memory,
        stream_click_purchase_joins,
    )

    return run_to_memory(
        stream_click_purchase_joins(events_stream(spark, sf_dir)),
        "stream_attribution_pairs_tbl",
        output_mode="append",
    )


@query(
    "stream_enriched_segments",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    tags=("events", "streaming", "stream-static-join", "extension"),
)
def stream_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined to the
    (broadcast) customer dimension, rolled up per 1-hour window x
    market segment — the canonical streaming-ETL enrich-then-window
    shape. availableNow drains the source, so the result equals the
    batch join+group oracle."""
    import uuid

    from ..catalog import load as batch_load
    from ..streaming import (
        events_stream,
        run_to_memory,
        stream_enriched_segment_counts,
    )

    dim = batch_load(spark, "customer", sf_dir)
    return run_to_memory(
        stream_enriched_segment_counts(events_stream(spark, sf_dir), dim),
        f"q_enriched_{uuid.uuid4().hex[:8]}",
    )


@query(
    "stream_event_funnel",
    oracle="""
    WITH u AS (
        SELECT user_id,
               min(ts) FILTER (WHERE event_type = 'view') AS t_view,
               min(ts) FILTER (WHERE event_type = 'click') AS t_click,
               min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
        FROM events GROUP BY user_id)
    SELECT CAST(count(t_view) AS BIGINT) AS viewed,
           CAST(count(*) FILTER (WHERE t_click > t_view) AS BIGINT)
               AS clicked_after_view,
           CAST(count(*) FILTER (WHERE t_click > t_view
                                 AND t_purchase > t_click) AS BIGINT)
               AS purchased_full_path
    FROM u
    """,
    tags=("streaming", "funnel", "stateful", "extension"),
)
def stream_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of ``event_funnel``: a stateful per-user
    aggregation maintains the FIRST timestamp of each funnel step —
    min() is commutative and associative, so the result is exact
    under ANY micro-batch split or arrival order (no watermark or
    ordering assumption needed; state is three timestamps + a counter
    per user, bounded by user cardinality like ``stream_user_totals``).

    Update-mode emits a row per user per micro-batch; the monotone
    ``n_events`` counter picks each user's final emission, then a
    batch rollup gates the steps exactly like the batch twin.
    """
    import uuid

    from ..streaming import events_stream, run_to_memory

    ev = events_stream(spark, sf_dir)

    def first_ts(etype: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    out = run_to_memory(
        agg, f"q_funnel_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    u = out.withColumn("__rn", rn).filter(F.col("__rn") == 1)
    clicked = F.col("t_click") > F.col("t_view")
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return u.agg(
        F.count("t_view").alias("viewed"),
        F.count(F.when(clicked, 1)).alias("clicked_after_view"),
        F.count(F.when(purchased, 1)).alias("purchased_full_path"),
    )
