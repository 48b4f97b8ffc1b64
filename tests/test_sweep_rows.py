"""Result-file schema of ``tools/check_correctness.py``: a mini-run in
each comparison mode (full value-hash compare and ``--count-only``)
exits 0, reports no failures, and writes a per-query row with its
status and row count to the ``--out`` JSON.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import check_correctness  # noqa: E402


def _run(tmp_path, argv):
    out = tmp_path / "sweep.json"
    old = sys.argv
    sys.argv = ["check_correctness.py", "--out", str(out), *argv]
    try:
        rc = check_correctness.main()
    finally:
        sys.argv = old
    with open(out) as f:
        return rc, json.load(f)


def test_full_compare_rows_carry_split_and_noise(tmp_path, spark, sf_dir):
    rc, data = _run(
        tmp_path, ["--sf-dir", sf_dir, "distinct_segments", "top_orders"]
    )
    assert rc == 0 and data["failed"] == []
    for name in ("distinct_segments", "top_orders"):
        row = data["results"][name]
        assert row["status"] == "OK"
        assert "rows" in row


def test_count_only_rows_carry_split_and_noise(tmp_path, spark, sf_dir):
    rc, data = _run(
        tmp_path,
        ["--sf-dir", sf_dir, "--count-only", "top_orders", "top_orders"],
    )
    assert rc == 0 and data["failed"] == []
    row = data["results"]["top_orders"]
    assert row["status"] == "COUNT_OK"
    assert "rows" in row
