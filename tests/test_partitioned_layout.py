"""Partitioned-write layout + partition pruning (100 TB posture).

A training pipeline's canonical layout is Parquet partitioned by the
split label: readers of one split must scan only that directory.
The test writes the flagship pipeline output partitioned by `split`
and asserts (a) the read-back equals the unpartitioned result and
(b) a split='train' filter becomes a PartitionFilter — zero data
files of other splits are read.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.plans import all_queries


@pytest.fixture(scope="module")
def partitioned_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("split") / "out")
    df = all_queries()["museum_pipeline"].build(spark, sf_dir)
    df.write.mode("overwrite").partitionBy("split").parquet(out)
    return out, df


def test_partitioned_roundtrip(spark, partitioned_dir):
    out, df = partitioned_dir
    back = spark.read.parquet(out).select(*df.columns)
    assert back.subtract(df).count() == 0
    assert df.subtract(back).count() == 0


def test_partition_pruning(spark, partitioned_dir):
    out, _ = partitioned_dir
    train = spark.read.parquet(out).filter(F.col("split") == "train")
    plan = train._sc._jvm.PythonSQLUtils.explainString(
        train._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "split" in seg  # the filter moved into the partition scan
    # and the row counts confirm only the train partition was read
    full = spark.read.parquet(out)
    assert train.count() == full.filter(F.col("split") == "train").count()
    assert train.count() < full.count()
