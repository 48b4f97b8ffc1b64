"""Queries whose oracle states an identity or a null-safe comparison
still hash-match it when one input value is NULL: a copy of the
sf0.001 tables with one value set to NULL."""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from museum_image_etl_gridfs_spark.plans import all_queries

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_correctness import duck_connection, normalize, value_hash  # noqa: E402

#: query -> (table, column set to NULL, key column, key residue mod 10
#: of the one row that gets the NULL)
CASES = {
    # a NULL blob chunks to one NULL piece and rebuilds to NULL
    "gridfs_roundtrip": ("documents", "text", "doc_id", 1),
    # a %10 == 5 key is rewritten to 'X-RECHECK': NULL -> 'X-RECHECK'
    # is a change
    "snapshot_diff": ("orders", "o_orderpriority", "o_orderkey", 5),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_one_null_value_matches_oracle(spark, sf_dir, tmp_path, name):
    table, column, key, residue = CASES[name]
    for f in os.listdir(sf_dir):
        os.symlink(os.path.join(sf_dir, f), tmp_path / f)
    path = tmp_path / f"{table}.parquet"
    t = pq.read_table(os.path.realpath(path))
    first = next(i for i, k in enumerate(t[key].to_pylist()) if k % 10 == residue)
    values = t[column].to_pylist()
    values[first] = None
    i = t.schema.get_field_index(column)
    t = t.set_column(i, column, pa.array(values, t.schema.field(i).type))
    path.unlink()
    pq.write_table(t, path)
    q = all_queries()[name]
    sf = str(tmp_path)
    got = normalize(q.build(spark, sf).toPandas())
    want = normalize(duck_connection(sf).execute(q.oracle).df())
    assert len(got) == len(want), (len(got), len(want))
    assert value_hash(got) == value_hash(want)
