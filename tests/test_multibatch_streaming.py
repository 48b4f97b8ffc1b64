"""Cross-micro-batch state: the single-file fixtures drain in ONE
availableNow batch, so this test re-shards events into multiple files
and forces several micro-batches (maxFilesPerTrigger), proving the
watermarked tumbling-window aggregate carries state BETWEEN batches:
with time-ordered file arrival (a production stream's shape)
multi-batch results must equal the batch aggregate — windows closed in
early batches are merged correctly, late-batch rows within the delay
are not dropped.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from museum_image_etl_gridfs_spark.catalog import load, normalize_events_ts
from museum_image_etl_gridfs_spark.plans.queries_events import hourly_counts

N_FILES = 6
PER_TRIGGER = 2  # -> 3 micro-batches


@pytest.fixture(scope="module")
def sharded_events_dir(spark, sf_dir, tmp_path_factory):
    """events re-written as N time-range files with ascending mtimes,
    so the file source feeds them oldest-range first."""
    out = str(tmp_path_factory.mktemp("events_shards"))
    ev = load(spark, "events", sf_dir)
    (
        ev.repartitionByRange(N_FILES, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    files = sorted(
        f for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(files) >= 2
    # file source orders by (mtime, path): make mtimes strictly
    # ascending in ts-range order (part files sort by range already)
    base = 1_700_000_000
    for i, f in enumerate(files):
        os.utime(os.path.join(out, f), (base + i, base + i))
    return out


def _multi_batch_stream(spark, path):
    probed = spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(probed)
        .format("parquet")
        .option("maxFilesPerTrigger", PER_TRIGGER)
        .load(path)
    )
    return normalize_events_ts(raw)


def _drain(stream, name):
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 3  # really ran multiple batches
    return stream.sparkSession.table(name)


def test_tumbling_windows_merge_across_batches(spark, sf_dir, sharded_events_dir):
    ev = _multi_batch_stream(spark, sharded_events_dir)
    got = _drain(hourly_counts(ev.withWatermark("ts", "2 hours")), "mb_tumbling")
    want = hourly_counts(load(spark, "events", sf_dir))
    # append emits only watermark-closed windows: every emitted row
    # must match the batch aggregate exactly, and only the tail
    # windows (within the 2h delay of the final event) may be missing
    assert got.exceptAll(want).count() == 0
    missing = want.exceptAll(got)
    max_ts = load(spark, "events", sf_dir).agg(F.max("ts")).first()[0]
    import datetime

    horizon = max_ts - datetime.timedelta(hours=3)  # 2h delay + 1h window
    assert missing.filter(F.col("window_start") < horizon).count() == 0
