"""Regenerate golden outputs (SURVEY.md S10).

The reference's correctness story is golden-artifact inspection: a
10-row JSON sample (data_outputs/metadata_sample.json). We mirror
that style with deterministic 10-row samples of key pipeline stages
at sf0.001, committed under data_outputs/ and diffed exactly by
tests/test_goldens.py.

Usage: python tools/make_goldens.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from museum_image_etl_gridfs_spark.plans import all_queries
from museum_image_etl_gridfs_spark.session import get_spark

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "data_outputs")
SF_DIR = "/root/testdata/sf0.001"

#: (query, sort keys) — all value-deterministic at a fixed sf
GOLDENS = {
    "museum_pipeline": ["doc_id"],
    "pricing_summary": ["l_returnflag", "l_linestatus"],
    "split_distribution": ["split"],
    "gridfs_chunk_plan": ["files_id"],
    "text_stats": ["doc_id"],
}

#: FULL-result goldens at sf0.01 for the queries that have neither a
#: DuckDB oracle (seeded hashing / iterative algorithms the SQL engine
#: can't mirror) nor a prior driver hash-check: the driver only does a
#: rows-only check on these, so the committed full result IS their
#: correctness gate. All are seeded/deterministic; sort keys are unique
#: per row so the serialized order is total.
FULL_SF_DIR = "/root/testdata/sf0.01"
FULL_GOLDENS = {
    "minhash_near_dups": ["id_a", "id_b"],
}


def sample(df, sort_cols, n=10):
    rows = df.orderBy(*sort_cols).limit(n).collect()
    return [
        {k: (str(v) if not isinstance(v, (int, float, bool, type(None))) else v)
         for k, v in r.asDict().items()}
        for r in rows
    ]


def full(df, sort_cols):
    """Entire result, totally ordered — floats rounded to 6 places so
    the committed artifact is stable against summation-order noise."""
    rows = df.orderBy(*sort_cols).collect()
    out = []
    for r in rows:
        d = {}
        for k, v in r.asDict().items():
            if isinstance(v, float):
                d[k] = round(v, 6)
            elif isinstance(v, (int, bool, type(None))):
                d[k] = v
            else:
                d[k] = str(v)
        out.append(d)
    return out


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("goldens")
    qs = all_queries()
    for name, sort_cols in GOLDENS.items():
        data = sample(qs[name].build(spark, SF_DIR), sort_cols)
        path = os.path.join(OUT_DIR, f"{name}_sample.json")
        with open(path, "w") as f:
            json.dump(data, f, indent=2, sort_keys=True)
            f.write("\n")
        print(f"wrote {path} ({len(data)} rows)")
    for name, sort_cols in FULL_GOLDENS.items():
        data = full(qs[name].build(spark, FULL_SF_DIR), sort_cols)
        path = os.path.join(OUT_DIR, f"{name}_full.json")
        with open(path, "w") as f:
            json.dump(data, f, indent=2, sort_keys=True)
            f.write("\n")
        print(f"wrote {path} ({len(data)} rows)")


if __name__ == "__main__":
    main()
