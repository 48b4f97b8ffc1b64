"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same settings are what we would
ship on a real cluster (AQE, UTC session time, Arrow transfers).
Scale posture:
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching — this is what keeps
  a plan tuned at sf0.01 valid at 100 TB.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound;
  on a big cluster you would raise it (~2-3× total cores) and let AQE
  coalesce down.
- Session timezone pinned to UTC: the reference is explicitly
  tz-aware UTC (``src/ingestion.py:6,82``), and the DuckDB oracle
  compares naive-UTC timestamps.
- Python workers run under :mod:`.worker_daemon`, a drop-in for
  ``pyspark.daemon`` that stops every task from re-parsing
  ``pyspark.zip`` (~0.2 CPU-s per task on CPython <= 3.12); the
  package's parent directory is put on the workers' ``PYTHONPATH`` so
  the daemon and the operators' kernels import wherever the driver
  runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Spark-4 package path of the fork-free checkpoint manager (see the
#: inline rationale in :func:`get_spark`). A Spark upgrade that moves
#: the class would silently fall back to the forking FileContext
#: manager if this string rotted — tests/test_streaming.py pins that
#: the configured class actually RESOLVES in the running JVM.
DEFAULT_CKPT_FM = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def ckpt_fm_class() -> str:
    """Checkpoint-manager class for this session: the
    ``SPARK_GRAFT_CKPT_FM`` env override (HDFS/object-store
    deployments configure a store-specific manager) or the fork-free
    local default."""
    return os.environ.get("SPARK_GRAFT_CKPT_FM", DEFAULT_CKPT_FM)


#: Python-worker daemon module (see :mod:`.worker_daemon`).
WORKER_DAEMON_MODULE = "museum_image_etl_gridfs_spark.worker_daemon"

#: Directory holding this package: what the Python workers need on
#: their path to import the daemon and the operators' kernels.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "museum_image_etl_gridfs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` sets local parallelism,
    ``SPARK_GRAFT_MASTER`` the master URL. A
    ``spark.executorEnv.PYTHONPATH`` in ``extra_conf`` is kept, with
    the package's parent directory appended.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Streaming checkpoint I/O (r12, guide §7.3): the default
        # FileContext-based checkpoint manager routes every
        # offset/commit/state-delta rename through Hadoop
        # AbstractFileSystem.renameInternal, whose local-FS
        # implementation calls getFileLinkStatus → FileUtil.readLink —
        # which FORKS a `readlink` shell subprocess per file. A
        # stateful micro-batch commits 4 state stores × N shuffle
        # partitions, so availableNow runs spent whole seconds per
        # task parked in ProcessImpl.forkAndExec with ~0 CPU (thread
        # dump evidence; stream-stream join rows ran 11-14 s at ANY
        # SF). The FileSystem-based manager commits via
        # File.renameTo — same rename-based atomicity class, no fork.
        # Deployments whose checkpoints live on HDFS/object stores can
        # override via SPARK_GRAFT_CKPT_FM (cloud setups typically
        # configure a store-specific manager anyway).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            ckpt_fm_class(),
        )
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (conf.get("spark.executorEnv.PYTHONPATH"), _PACKAGE_PARENT) if p
    )
    conf["spark.python.daemon.module"] = WORKER_DAEMON_MODULE
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
