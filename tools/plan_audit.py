"""Physical-plan audit across the whole query registry.

`tests/test_plans.py` pins the plan contracts of individual flagship
queries; this tool sweeps EVERY registered query and reports the
plan features that decide 100 TB behavior:

- ``exchanges``  — shuffle count (the dominant cost at scale),
- ``python``     — row/batch Python eval nodes in the plan
  (BatchEvalPython / ArrowEvalPython / *InPandas / InArrow). The
  engine's posture is JVM-only relational paths; Python is legal
  only where Spark has no primitive (sketching, codecs) — those
  queries are whitelisted explicitly in ``EXPECTED_PYTHON``,
- ``scans`` / ``pushed`` — file scans, and how many of them push at
  least one filter (a selective query whose scan pushes nothing is
  reading the whole table to throw it away),
- ``broadcasts`` — broadcast joins (small-dim joins that would
  otherwise shuffle the fact).

Run: ``python tools/plan_audit.py [--sf-dir DIR] [--write] [names…]``
— ``--write`` regenerates ``PLAN_AUDIT.md`` at the repo root. The
audit is also imported by ``tests/test_plan_audit.py``, which fails
if a query grows an unexpected Python node: the cheapest possible
guard against "someone added a convenient UDF to the hot path".
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "MapInArrow",
    "AggregateInPandas",
    "ArrowAggregatePython",  # grouped-agg pandas UDAF (Spark 4 name)
    "BatchEvalPythonUDTF",   # python UDTF (LATERAL row expander)
)

#: queries where Python eval is the design (no JVM primitive exists)
EXPECTED_PYTHON = {
    "minhash_near_dups",        # numpy minhash sketching
    "multimodal_transform",     # binary image codec
    "image_etl_gridfs",         # binary image codec
    "eval_contamination",        # vectorized bigram shingling
    "http_ingest_pipeline",      # batch-HTTP fetch stage (S2/U1, hermetic)
    "binary_fetch_pipeline",     # binary blob fetch stage (S3/F2, hermetic)
    "prefix_join_near_dups",     # block-matrix intersection matmul
    "near_dup_components_exact",  # matmul + union-find closure (numpy)
}


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )


def audit_plan(plan: str) -> dict:
    """Counts of scale-relevant features in one formatted plan."""
    scans = re.findall(r"^\(\d+\) Scan \w+", plan, flags=re.M)
    pushed = re.findall(r"PushedFilters: \[(?!\])", plan)
    return {
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)),
        "python": sorted(
            {node for node in _PYTHON_NODES if node in plan}
        ),
        "scans": len(scans),
        "pushed": len(pushed),
        "broadcasts": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
    }


def audit(spark, sf_dir: str, names: list[str] | None = None) -> dict[str, dict]:
    from museum_image_etl_gridfs_spark.plans import all_queries

    queries = all_queries()
    results: dict[str, dict] = {}
    for name, q in sorted(queries.items()):
        if names and name not in names:
            continue
        try:
            row = audit_plan(plan_of(q.build(spark, sf_dir)))
        except Exception as exc:  # streaming-only builders etc.
            row = {"error": str(exc).splitlines()[0][:120]}
        results[name] = row
    return results


def read_committed(path: str | None = None) -> dict[str, dict]:
    """Parse the committed ``PLAN_AUDIT.md`` back into audit rows —
    the accepted plan contract that ``tests/test_plan_audit.py``
    enforces. A plan change (new shuffle, lost broadcast, extra scan)
    fails the gate until the audit is deliberately regenerated with
    ``python tools/plan_audit.py --write`` and committed.
    """
    if path is None:
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "PLAN_AUDIT.md",
        )
    rows: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            m = re.match(
                r"\| ([\w-]+) \| (\d+) \| (.*?) \| (\d+) \| (\d+) \| (\d+) \|",
                line,
            )
            if not m:
                continue
            name, exch, _py, scans, pushed, bcast = m.groups()
            rows[name] = {
                "exchanges": int(exch),
                "scans": int(scans),
                "pushed": int(pushed),
                "broadcasts": int(bcast),
            }
    return rows


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--write", action="store_true", help="write PLAN_AUDIT.md")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args(argv)

    from museum_image_etl_gridfs_spark.session import get_spark

    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=4)
    results = audit(spark, args.sf_dir, args.names or None)

    lines = [
        "# PLAN AUDIT — per-query physical-plan features",
        "",
        "Generated by `python tools/plan_audit.py --write`. Columns:",
        "shuffle count, Python eval nodes (✓ = whitelisted in",
        "`EXPECTED_PYTHON`), file scans and how many push filters,",
        "broadcast joins.",
        "",
        "| query | exchanges | python | scans | pushed | broadcasts |",
        "|---|---|---|---|---|---|",
    ]
    unexpected = []
    for name, row in results.items():
        if "error" in row:
            lines.append(f"| {name} | — | error: {row['error']} | | | |")
            continue
        py = ", ".join(row["python"]) or "—"
        if row["python"]:
            py += " ✓" if name in EXPECTED_PYTHON else " ✗UNEXPECTED"
            if name not in EXPECTED_PYTHON:
                unexpected.append(name)
        lines.append(
            f"| {name} | {row['exchanges']} | {py} | {row['scans']} "
            f"| {row['pushed']} | {row['broadcasts']} |"
        )
    report = "\n".join(lines) + "\n"
    if args.write:
        if args.names:
            # a subset report would silently TRUNCATE the committed
            # audit to those rows — print instead
            print(report)
            print("refusing --write with a name subset (full sweep only)")
            return 1
        out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md")
        with open(out, "w") as f:
            f.write(report)
        print(f"wrote {out} ({len(results)} queries)")
    else:
        print(report)
    if unexpected:
        print(f"UNEXPECTED PYTHON NODES: {unexpected}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
