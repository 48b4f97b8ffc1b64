"""Synthesize a larger scale factor from an existing fixture dir.

The driver ships sf0.001/0.01/0.1 only; validating shuffle sizing and
`spread()` gating at 10x (VERDICT r2 item 7) needs an sf1-shaped
input. This replicates every table N times with disjoint key offsets,
preserving referential integrity (each copy's orders point at the
same copy's customers, etc.). region/nation are fixed dimensions and
are not replicated; nationkey/regionkey references stay in range.

Deterministic by construction (pure key arithmetic on seeded source
data). Scratch output only — never written into /root/testdata.

Usage: python tools/make_sf_scale.py [--src /root/testdata/sf0.1]
           [--out /tmp/sf1] [--copies 10]
"""

from __future__ import annotations

import argparse
import os

import duckdb

#: key columns shifted per copy, per table. Offsets are each source
#: key's own domain size so copies tile disjointly.
SHIFTS: dict[str, list[str]] = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

#: FK columns shifted with the PK of the table they reference.
#: events.user_id references customer.c_custkey, so it must shift by
#: the CUSTOMER key domain — shifting it by its own (smaller) max would
#: land every copy's events inside copy 0's customer range, skewing and
#: mis-associating any events-customer join run on the synthesized SF.
_DOMAIN_OF = {
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "user_id": ("customer", "c_custkey"),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sf1")
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()

    os.makedirs(args.out, exist_ok=True)
    con = duckdb.connect()

    # domain size per (table, key): max+1 so shifted copies are disjoint
    dom: dict[str, int] = {}
    for table, keys in SHIFTS.items():
        for k in keys:
            t, kk = _DOMAIN_OF.get(k, (table, k))
            if kk not in dom:
                dom[kk] = con.execute(
                    f"SELECT max({kk}) + 1 FROM read_parquet('{args.src}/{t}.parquet')"
                ).fetchone()[0]

    for table, keys in SHIFTS.items():
        src = f"read_parquet('{args.src}/{table}.parquet')"
        dst = os.path.join(args.out, f"{table}.parquet")
        if not keys:
            con.execute(f"COPY (SELECT * FROM {src}) TO '{dst}' (FORMAT PARQUET)")
        else:
            parts = []
            for i in range(args.copies):
                shifted = ", ".join(
                    f"{k} + {i * dom[_DOMAIN_OF.get(k, (table, k))[1]]} AS {k}"
                    for k in keys
                )
                parts.append(f"SELECT * REPLACE ({shifted}) FROM {src}")
            con.execute(
                f"COPY ({' UNION ALL '.join(parts)}) TO '{dst}' "
                "(FORMAT PARQUET, ROW_GROUP_SIZE 122880)"
            )
        n = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
        print(f"{table}: {n} rows -> {dst}")


if __name__ == "__main__":
    main()
