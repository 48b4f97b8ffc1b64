"""Watermark semantics across micro-batches: late data is DROPPED.

Two checkpointed availableNow drains over a staging directory:
batch 1 closes event-time windows (watermark advances past their
end), batch 2 delivers an event that belongs to an already-closed
window plus a fresh event. In append mode the late event must not
resurrect or mutate the closed window — the bounded-state guarantee
every 100 TB stream depends on.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def _write_events(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.write.mode("append").parquet(path)


def _drain(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .format("parquet")
        .load(src)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_late_event_does_not_reopen_closed_window(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    t = lambda s: datetime.fromisoformat(f"2024-01-01T{s}:00")
    # batch 1: two events in the 10:00 window, one in 11:00, and a
    # 13:00 event that advances the watermark to 12:30 — closing
    # (and emitting) the 10:00 and 11:00 windows
    _write_events(spark, src, [
        (1, t("10:05"), 1, "click", 1.0),
        (2, t("10:10"), 1, "click", 1.0),
        (3, t("11:05"), 2, "click", 1.0),
        (4, t("13:00"), 3, "click", 1.0),
    ])
    _drain(spark, src, out, ckpt)
    first = {
        r["window_start"]: r["n"] for r in spark.read.parquet(out).collect()
    }
    assert first[t("10:00")] == 2
    assert first[t("11:00")] == 1
    assert t("13:00") not in first  # still open

    # batch 2: a LATE event for the closed 10:00 window (watermark
    # is 12:30) plus a 15:00 event that closes the 13:00 window
    _write_events(spark, src, [
        (5, t("10:20"), 1, "click", 1.0),  # late -> dropped
        (6, t("15:00"), 3, "click", 1.0),
    ])
    _drain(spark, src, out, ckpt)
    final = spark.read.parquet(out).collect()
    counts: dict = {}
    for r in final:
        counts.setdefault(r["window_start"], []).append(r["n"])

    # the closed 10:00 window was neither re-emitted nor mutated
    assert counts[t("10:00")] == [2]
    assert counts[t("11:00")] == [1]
    # the 13:00 window closed in batch 2 with exactly its event
    assert counts[t("13:00")] == [1]
