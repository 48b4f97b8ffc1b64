"""The repo's oracle correctness gate.

Runs every registered query on Spark and its DuckDB oracle on the
same parquet tables, then compares row count, normalized schema, and
an order-insensitive value hash. Queries without an oracle are run
and row-counted only. ``--count-only`` compares exact row counts
instead of values, for the pair-quadratic oracles at large scale
factors. Exits non-zero when any query fails.

Usage:
    python tools/check_correctness.py [--sf-dir /root/testdata/sf0.01] \
        [--count-only a,b] [--out results.json] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from museum_image_etl_gridfs_spark.catalog import TABLES
from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints
from museum_image_etl_gridfs_spark.plans import all_queries
from museum_image_etl_gridfs_spark.session import get_spark


def duck_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize dtypes/values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        for v in df[c].tolist():
            if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA:
                h.update(b"\x00null")
            elif isinstance(v, float):
                h.update(f"{v:.10g}".encode())
            else:
                h.update(str(v).encode())
        h.update(b"\x01")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("names", nargs="*", help="subset of query names")
    ap.add_argument("--out", default=None, help="write full per-query results JSON here")
    ap.add_argument(
        "--count-only",
        default="",
        help="comma-separated names verified by exact COUNT compare only "
        "(values hash-checked at sf0.01 as always; used at big SF where "
        "the pair-quadratic oracle output is tens of millions of rows)",
    )
    args = ap.parse_args()
    count_only = {n for n in args.count_only.split(",") if n}

    spark = get_spark("correctness-check")
    con = duck_connection(args.sf_dir)
    qs = all_queries()
    names = args.names or sorted(qs)
    failures, results = [], {}

    def fail(name: str, status: str, tag: str, e: Exception) -> None:
        failures.append(name)
        results[name] = {"status": status, "error": str(e)[:500]}
        print(f"[{tag}] {name}: {str(e)[:300]}")

    for name in names:
        q = qs[name]
        if name in count_only:
            try:
                rows = q.build(spark, args.sf_dir).count()
            except Exception as e:  # noqa: BLE001
                fail(name, "SPARK_ERROR", "FAIL-spark", e)
                continue
            finally:
                release_checkpoints(spark)
            try:
                o_rows = con.execute(
                    f"SELECT COUNT(*) FROM ({q.oracle})"
                ).fetchone()[0]
            except Exception as e:  # noqa: BLE001
                fail(name, "ORACLE_ERROR", "FAIL-oracle", e)
                continue
            status = (
                "COUNT_OK"
                if rows == o_rows
                else f"COUNT_MISMATCH spark={rows} oracle={o_rows}"
            )
            results[name] = {"status": status, "rows": rows}
            if status != "COUNT_OK":
                failures.append(name)
                print(f"[FAIL] {name}: {status}")
            else:
                print(f"[count-ok] {name}: {rows} rows")
            continue
        try:
            sdf = q.build(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            fail(name, "SPARK_ERROR", "FAIL-spark", e)
            continue
        finally:
            release_checkpoints(spark)
        if q.oracle is None:
            results[name] = {"status": "ROWS_ONLY", "rows": len(sdf)}
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(q.oracle).df()
        except Exception as e:  # noqa: BLE001
            fail(name, "ORACLE_ERROR", "FAIL-oracle", e)
            continue
        try:
            s_n, o_n = normalize(sdf), normalize(odf)
        except Exception as e:  # noqa: BLE001
            fail(name, "NORMALIZE_ERROR", "FAIL-norm", e)
            continue
        status = "OK"
        if list(s_n.columns) != list(o_n.columns):
            status = f"SCHEMA_MISMATCH spark={list(s_n.columns)} oracle={list(o_n.columns)}"
        elif len(s_n) != len(o_n):
            status = f"ROWCOUNT_MISMATCH spark={len(s_n)} oracle={len(o_n)}"
        elif value_hash(s_n) != value_hash(o_n):
            status = "HASH_MISMATCH"
            diff = s_n.compare(o_n) if s_n.shape == o_n.shape else None
            if diff is not None and not diff.empty:
                print(diff.head(10))
        results[name] = {"status": status, "rows": len(s_n)}
        if status != "OK":
            failures.append(name)
            print(f"[FAIL] {name}: {status}")
        else:
            print(f"[ok] {name}: {len(s_n)} rows")

    print(json.dumps({"total": len(names), "failed": failures}))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {
                    "sf_dir": args.sf_dir,
                    "total": len(names),
                    "failed": failures,
                    "results": results,
                },
                f,
                indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
