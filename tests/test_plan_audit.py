"""Registry-wide plan audit: no query may grow a Python eval node
unless it is explicitly whitelisted (tools/plan_audit.py) — the guard
against a convenient UDF sneaking into a hot relational path."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from plan_audit import EXPECTED_PYTHON, audit, read_committed  # noqa: E402

from museum_image_etl_gridfs_spark.plans import all_queries  # noqa: E402


def test_no_unexpected_python_nodes_anywhere(spark, sf_dir):
    results = audit(spark, sf_dir)
    assert set(results) == set(all_queries())  # the whole registry got audited
    # a deleted query cannot linger in the whitelist
    assert EXPECTED_PYTHON <= set(results), EXPECTED_PYTHON - set(results)
    offenders = {
        name: row["python"]
        for name, row in results.items()
        if "error" not in row and row["python"] and name not in EXPECTED_PYTHON
    }
    assert offenders == {}, f"unexpected Python eval nodes: {offenders}"
    # and the whitelist doesn't rot: whitelisted queries DO use Python
    stale = {
        name
        for name in EXPECTED_PYTHON
        if "error" not in results[name] and not results[name]["python"]
    }
    assert stale == set(), f"whitelisted but Python-free now: {stale}"


def test_plan_features_match_committed_audit(spark, sf_dir):
    """The full plan-regression gate: every query's shuffle /
    broadcast / scan / pushed-filter counts must equal the committed
    PLAN_AUDIT.md row. A plan regression (or improvement) fails here
    until `python tools/plan_audit.py --write` is deliberately re-run
    and the new audit committed — plan drift is never silent.
    """
    committed = read_committed()
    live = audit(spark, sf_dir)
    assert len(committed) == sum("error" not in row for row in live.values()), (
        "PLAN_AUDIT.md missing or truncated"
    )
    drift: dict[str, str] = {}
    for name, row in live.items():
        if "error" in row:
            continue  # streaming-only builders — no batch plan
        want = committed.get(name)
        if want is None:
            drift[name] = "not in PLAN_AUDIT.md (new query?)"
            continue
        for k in ("exchanges", "broadcasts", "scans", "pushed"):
            if row[k] != want[k]:
                drift.setdefault(name, "")
                drift[name] += f" {k}: committed {want[k]} -> live {row[k]};"
    # the gate is bidirectional: a committed row whose query was
    # deleted/renamed must not linger (stale rows read as coverage).
    # live rows with "error" are streaming-only builders — their
    # committed rows are the error-marker lines read_committed skips,
    # so set(live) here is the full registry either way.
    for name in set(committed) - set(live):
        drift[name] = "in PLAN_AUDIT.md but not in the registry (deleted query?)"
    assert drift == {}, (
        "plan drift vs PLAN_AUDIT.md — if intended, regenerate with "
        f"`python tools/plan_audit.py --write`: {drift}"
    )


def test_relational_flagships_are_shuffle_lean(spark, sf_dir):
    results = audit(
        spark, sf_dir, ["pricing_summary", "revenue_by_nation", "table_profile"]
    )
    # pricing_summary: one shuffle (the groupBy) — the TPC-H Q1 contract
    assert results["pricing_summary"]["exchanges"] <= 1
    assert results["pricing_summary"]["python"] == []
    # dimension joins broadcast instead of shuffling the fact
    assert results["revenue_by_nation"]["broadcasts"] >= 2
    # the one-scan profile: a single aggregate, no python
    assert results["table_profile"]["scans"] == 1
    assert results["table_profile"]["python"] == []
