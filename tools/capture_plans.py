"""Capture .explain("formatted") for named queries into plans/r12/.

Usage:
    python tools/capture_plans.py --suffix before [--sf-dir DIR] name...

Plans are captured at sf0.1 by default so PushedFilters / join
strategies reflect a realistic scale. Queries whose builders run
construction-time Spark jobs (eager vocab rank etc.) execute those
jobs here too — capture is plan-only otherwise (no noop sink).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints
from museum_image_etl_gridfs_spark.plans import all_queries
from museum_image_etl_gridfs_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--suffix", required=True, help="before|after")
    ap.add_argument("--out-dir", default="plans/r12")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    os.makedirs(args.out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    qs = all_queries()
    for name in args.names:
        try:
            df = qs[name].build(spark, args.sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            txt = f"EXPLAIN FAILED: {exc!r}\n"
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"[plans] wrote {path} ({len(txt)} bytes)")
        release_checkpoints(spark)


if __name__ == "__main__":
    main()
