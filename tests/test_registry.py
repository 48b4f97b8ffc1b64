"""Registry + driver-contract smoke: every registered query builds a
DataFrame at sf0.001 with a stable, well-formed schema; oracle SQL
parses in DuckDB. (Full value comparison runs in
tools/check_correctness.py at sf0.01 — this is the fast gate.)
"""

from __future__ import annotations

import ast
import os

import duckdb
import pytest

from museum_image_etl_gridfs_spark.catalog import TABLES
from museum_image_etl_gridfs_spark.plans import all_queries

QUERIES = all_queries()


def test_registry_nonempty_and_named():
    assert len(QUERIES) >= 40
    for name, q in QUERIES.items():
        assert q.name == name and q.doc, name


def test_registry_in_registration_order():
    """Module order in ``_QUERY_MODULES``, then decorator order."""
    import inspect

    from museum_image_etl_gridfs_spark.plans.registry import _QUERY_MODULES

    def key(q):
        return (
            _QUERY_MODULES.index(q.build.__module__),
            inspect.getsourcelines(q.build)[1],
        )

    keys = [key(q) for q in QUERIES.values()]
    assert keys == sorted(keys)


def test_benchmark_queries_are_registered():
    """Every query a perfbench workload builds by name is registered,
    so a registry cut that breaks the benchmark fails here rather than
    as failed operations in a benchmark run. The name lists are read
    from the workloads module's source, not imported."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench",
        "workloads.py",
    )
    lists = {}
    for node in ast.parse(open(path).read()).body:
        target = getattr(node, "targets", [None])[0]
        if getattr(target, "id", None) in ("QUERY_MIX", "NEAR_DUP"):
            # NAME = ("a b " "c d").split()
            lists[target.id] = node.value.func.value.value.split()
    assert set(lists) == {"QUERY_MIX", "NEAR_DUP"}
    for names in lists.values():
        assert names and set(names) <= set(QUERIES), set(names) - set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_builds_and_runs(spark, sf_dir, name):
    q = QUERIES[name]
    df = q.build(spark, sf_dir)
    assert df.columns, name
    assert not any(c.startswith("__") for c in df.columns), name
    assert df.count() >= 0  # executes the plan


def test_oracles_parse_in_duckdb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    for name, q in QUERIES.items():
        if q.oracle is None:
            continue
        cols = [d[0] for d in con.execute(q.oracle).description]
        assert cols, name


def test_driver_entry_contract(spark):
    import __spark_entry__ as E

    qs = E.queries()
    osql = E.oracle_sql()
    assert set(osql) <= set(qs)
    df = E.entry(spark)
    assert df.count() > 0
