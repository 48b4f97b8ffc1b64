"""The Python-worker daemon and the workers' import path.

- The stat guard on ``zipimporter.invalidate_caches`` skips re-reading
  an unchanged archive, still re-reads a replaced one, and falls
  through to the original re-read when ``stat`` fails (no Spark).
- The session's workers really run under the guard: a Spark upgrade
  that renamed or stopped honouring ``spark.python.daemon.module``
  would silently bring back the per-task ``pyspark.zip`` re-parse.
- Workers import the package wherever the driver runs.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from unittest import mock

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_lazy_upstream = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 invalidates zip caches lazily; the guard is not installed",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write a fresh archive next to ``path`` and move it into place
    (a new inode, like a re-shipped ``addPyFile`` zip)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard in this process; monkeypatch restores the
    original zipimport functions afterwards."""
    from museum_image_etl_gridfs_spark import worker_daemon

    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    worker_daemon.install()


@_lazy_upstream
def test_guard_rereads_only_a_changed_archive(tmp_path, guarded):
    archive = str(tmp_path / "graft_guard.zip")
    _write_zip(archive, {"graft_guard_a": "X = 1\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("graft_guard_a").X == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        with mock.patch.object(
            zipimport, "_read_directory", wraps=zipimport._read_directory
        ) as rd:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
            assert archive not in [c.args[0] for c in rd.call_args_list]

            _write_zip(archive, {"graft_guard_a": "X = 1\n", "graft_guard_b": "Y = 2\n"})
            importlib.invalidate_caches()
            assert [c.args[0] for c in rd.call_args_list].count(archive) == 1
        assert importlib.import_module("graft_guard_b").Y == 2

        # stat fails (archive gone): the original re-read runs and, as
        # upstream, leaves the importer with an empty directory
        os.remove(archive)
        importlib.invalidate_caches()
        assert importer._files == {}  # noqa: SLF001
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("graft_guard_a", "graft_guard_b"):
            sys.modules.pop(name, None)


@_lazy_upstream
def test_session_workers_run_under_the_guard(spark):
    """Pin in the style of the checkpoint-manager pin in
    tests/test_streaming.py: the configured daemon is the package's,
    and a task actually sees the guarded ``invalidate_caches``."""
    from museum_image_etl_gridfs_spark.session import WORKER_DAEMON_MODULE

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        WORKER_DAEMON_MODULE
    )

    def report(batches):
        import zipimport

        import pyarrow as pa

        f = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"fn": [f"{f.__module__}.{f.__qualname__}"]})

    got = {
        r["fn"]
        for r in spark.range(0, 8, numPartitions=2).mapInArrow(report, "fn string").collect()
    }
    assert got == {f"{WORKER_DAEMON_MODULE}.guarded_invalidate_caches"}


_OUTSIDE_CHECKOUT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import numpy as np
from museum_image_etl_gridfs_spark.operators.images import RawCodec, transform_images
from museum_image_etl_gridfs_spark.session import get_spark

spark = get_spark(
    "outside-checkout", master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.executorEnv.PYTHONPATH": "/nonexistent-caller-entry"},
)
blob = RawCodec.encode(np.zeros((4, 6, 3), dtype=np.uint8))
df = spark.createDataFrame([(1, blob)], "artwork_id long, image binary")
rows = transform_images(df, size=(2, 2)).collect()
print(json.dumps({
    "status": [r["image_transformed_status"] for r in rows],
    "pythonpath": spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH"),
}))
spark.stop()
"""


def test_workers_import_the_package_outside_the_checkout(tmp_path):
    """Driver cwd outside the checkout and no PYTHONPATH: the daemon
    and the image kernel must still import in the workers, and a
    caller's executor PYTHONPATH is kept."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_CHECKOUT, REPO],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["status"] == ["ok"]
    assert out["pythonpath"] == os.pathsep.join(["/nonexistent-caller-entry", REPO])
