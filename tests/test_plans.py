"""Physical-plan assertions — the scale contract, not just results.

A query can be value-correct and still wrong at 100 TB: a scan that
reads every column, a dimension join that shuffles the fact table, a
top-k that global-sorts. These tests pin the plan shapes that make
the engine scale; they fail loudly if a refactor regresses pushdown,
pruning, broadcast choice, or early-termination.
"""

from __future__ import annotations

from museum_image_etl_gridfs_spark.catalog import load
from museum_image_etl_gridfs_spark.plans import all_queries

QUERIES = all_queries()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark, sf_dir):
    """pricing_summary's shipdate predicate must reach the scan."""
    plan = _plan(QUERIES["pricing_summary"].build(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or (
        "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    )


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not read all 16 lineitem columns."""
    df = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    """revenue_by_nation: all dimension joins must be broadcast; the
    only sort-merge/shuffle join allowed is fact-to-fact."""
    plan = _plan(QUERIES["revenue_by_nation"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # customer/nation/region must not arrive via a shuffle join
    for dim_key in ("n_nationkey", "r_regionkey"):
        for line in plan.splitlines():
            if "SortMergeJoin" in line:
                assert dim_key not in line


def test_topk_avoids_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
    heaps), not a full Sort + CollectLimit."""
    plan = _plan(QUERIES["top_orders"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_no_python_udf_in_relational_queries(spark, sf_dir):
    """Core relational + text queries must stay JVM-side (UDFs are
    reserved for sketches/codecs/HTTP where Spark has no primitive)."""
    for name in (
        "pricing_summary", "revenue_by_nation", "museum_pipeline",
        "text_stats", "text_quality", "lang_id", "running_customer_spend",
        "user_sessions", "gridfs_roundtrip",
    ):
        plan = _plan(QUERIES[name].build(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


def test_whole_stage_codegen_active(spark, sf_dir):
    """The hot relational path must run inside whole-stage codegen.
    (The formatted mode hides codegen under AdaptiveSparkPlan, so ask
    for codegen mode explicitly.)"""
    df = QUERIES["pricing_summary"].build(spark, sf_dir)
    df.collect()  # AQE finalizes THIS plan only when it executes
    # (count() would wrap it in a new Dataset and finalize that one)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # codegen stages render as "*(n) Operator" in the final plan
    assert "*(" in plan, plan


def test_single_shuffle_for_flagship_pipeline(spark, sf_dir):
    """museum_pipeline (clean -> window dedup -> split) must contain
    exactly ONE exchange: the dedup window's hash partitioning. The
    cleaning and split stages are projections and must not shuffle."""
    import re

    plan = _plan(QUERIES["museum_pipeline"].build(spark, sf_dir))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))
    assert n_exchanges == 1, plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """Grouped aggregates must do map-side partials (partial hash
    aggregate below the exchange) so the shuffle carries group rows,
    not raw rows."""
    plan = _plan(QUERIES["flagship_dup_groups"].build(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_curation_queries_stay_jvm_side(spark, sf_dir):
    """The curation suite must plan zero row-at-a-time Python
    evaluation. eval_contamination deliberately uses Arrow-batched
    mapInPandas for its vectorized bigram shingling stage (the r2
    rewrite: broadcast eval set, %97 split pushed below the Python
    stage); quality_flags must plan zero Python nodes of any kind."""
    for name in ("quality_flags", "eval_contamination"):
        plan = _plan(QUERIES[name].build(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        if name != "eval_contamination":
            assert "MapInPandas" not in plan, name


def test_contamination_broadcasts_eval_shingles(spark, sf_dir):
    """eval_contamination must broadcast the (small) eval shingle set;
    the corpus side must not shuffle for the join."""
    plan = _plan(QUERIES["eval_contamination"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            raise AssertionError(f"corpus shuffled for join: {line}")


def test_no_hof_lambda_leaks_into_filters(spark, sf_dir):
    """Regression: InferFiltersFromGenerate + pushdown once inlined the
    whole interpreted shingle HOF chain into scan-side filters
    (re-evaluated per row, ~20x). Pin that no Filter in the optimized
    plan contains a lambda expression."""
    for name in ("quality_flags", "eval_contamination"):
        df = QUERIES[name].build(spark, sf_dir)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        for line in logical.splitlines():
            if "Filter" in line:
                assert "lambdafunction" not in line, (name, line[:200])


def test_inverted_index_broadcasts_df_band(spark, sf_dir):
    """The surviving-term set (bounded by the df band) must arrive
    broadcast — the token stream never shuffles to meet it."""
    plan = _plan(QUERIES["inverted_index"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


