"""Data-profiling queries: the ANALYZE/data-quality surface a
training-data pipeline runs before trusting a new drop of data.

``table_profile`` is a single-pass aggregate — at 100 TB a profile that
scans the table once per column is 6 scans too many; it computes every
per-column statistic in ONE aggregate (multi-distinct goes through
Spark's Expand, still one scan) and reshape to rows afterwards with
``stack`` (a narrow Generate, no extra shuffle). ``corpus_power_laws``
fits per-source Zipf and Heaps laws over the document corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.quality import fold_case_sql, words_sql
from .registry import query

# (column, expression that renders min/max as a cross-engine-stable
# string: timestamps/ints cast directly, doubles through DECIMAL)
_PROFILE_COLS = ("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "table_profile",
    oracle="""
    WITH s AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(*) - COUNT(o_orderkey) AS null_o_orderkey,
               COUNT(DISTINCT o_orderkey) AS dist_o_orderkey,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min_o_orderkey,
               CAST(MAX(o_orderkey) AS VARCHAR) AS max_o_orderkey,
               COUNT(*) - COUNT(o_orderstatus) AS null_o_orderstatus,
               COUNT(DISTINCT o_orderstatus) AS dist_o_orderstatus,
               CAST(MIN(o_orderstatus) AS VARCHAR) AS min_o_orderstatus,
               CAST(MAX(o_orderstatus) AS VARCHAR) AS max_o_orderstatus,
               COUNT(*) - COUNT(o_totalprice) AS null_o_totalprice,
               COUNT(DISTINCT o_totalprice) AS dist_o_totalprice,
               CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
                   AS min_o_totalprice,
               CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
                   AS max_o_totalprice,
               COUNT(*) - COUNT(o_orderpriority) AS null_o_orderpriority,
               COUNT(DISTINCT o_orderpriority) AS dist_o_orderpriority,
               CAST(MIN(o_orderpriority) AS VARCHAR) AS min_o_orderpriority,
               CAST(MAX(o_orderpriority) AS VARCHAR) AS max_o_orderpriority
        FROM orders
    )
    SELECT col,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_null AS BIGINT) AS n_null,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           min_value, max_value
    FROM (
        SELECT n_rows, 'o_orderkey' AS col, null_o_orderkey AS n_null,
               dist_o_orderkey AS n_distinct, min_o_orderkey AS min_value,
               max_o_orderkey AS max_value FROM s
        UNION ALL
        SELECT n_rows, 'o_orderstatus', null_o_orderstatus,
               dist_o_orderstatus, min_o_orderstatus, max_o_orderstatus FROM s
        UNION ALL
        SELECT n_rows, 'o_totalprice', null_o_totalprice,
               dist_o_totalprice, min_o_totalprice, max_o_totalprice FROM s
        UNION ALL
        SELECT n_rows, 'o_orderpriority', null_o_orderpriority,
               dist_o_orderpriority, min_o_orderpriority,
               max_o_orderpriority FROM s
    )
    """,
    tags=("profile", "agg"),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of ``orders`` in ONE scan: rows, nulls,
    exact distincts, min/max (stringified for a uniform report
    schema; doubles through DECIMAL so both engines print the same
    text). The multi-column COUNT(DISTINCT) batch plans as a single
    Expand-based aggregate — one shuffle, not one per column — and
    the wide→long reshape is ``stack``, a narrow Generate."""
    o = load(spark, "orders", sf_dir)

    def _stats(c: str) -> list:
        mn, mx = F.min(c), F.max(c)
        if c == "o_totalprice":
            mn = mn.cast("decimal(18,2)")
            mx = mx.cast("decimal(18,2)")
        return [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"null_{c}"),
            F.count_distinct(F.col(c)).alias(f"dist_{c}"),
            mn.cast("string").alias(f"min_{c}"),
            mx.cast("string").alias(f"max_{c}"),
        ]

    wide = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[s for c in _PROFILE_COLS for s in _stats(c)],
    )
    stack_args = ", ".join(
        f"'{c}', null_{c}, dist_{c}, min_{c}, max_{c}" for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (col, n_null, n_distinct, min_value, max_value)"
        ),
        "n_rows",
    ).select("col", "n_rows", "n_null", "n_distinct", "min_value", "max_value")


#: ranks entering the Zipf log-log fit — top-K terms per source
_ZIPF_K = 100


@query(
    "corpus_power_laws",
    oracle=f"""
    WITH w AS (
        SELECT source, {words_sql(fold_case_sql('text'))} AS ws FROM documents),
    t AS (
        SELECT source, term FROM w, UNNEST(ws) AS u(term)),
    c AS (
        SELECT source, term, count(*) AS c FROM t GROUP BY 1, 2),
    stats AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types
        FROM c GROUP BY 1),
    r AS (
        SELECT source, c,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, term) AS rank
        FROM c),
    pts AS (
        SELECT source,
               CAST(round(ln(rank), 8) AS DECIMAL(10,8)) AS x,
               CAST(round(ln(c), 8) AS DECIMAL(12,8)) AS y
        FROM r WHERE rank <= {_ZIPF_K}),
    s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DECIMAL(38,8)) AS sx,
               CAST(sum(y) AS DECIMAL(38,8)) AS sy,
               CAST(sum(x * x) AS DECIMAL(38,16)) AS sxx,
               CAST(sum(x * y) AS DECIMAL(38,16)) AS sxy,
               CAST(sum(y * y) AS DECIMAL(38,16)) AS syy
        FROM pts GROUP BY 1)
    SELECT source, n_tokens, n_types,
           round(n_types / CAST(n_tokens AS DOUBLE), 6) AS ttr,
           round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
                      THEN NULL
                      ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  END, 6) AS zipf_slope,
           round(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) = 0
                      THEN NULL
                      ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  END, 6) AS zipf_r2
    FROM s JOIN stats USING (source)
    """,
    tags=("profile", "zipf", "heaps", "extension"),
)
def corpus_power_laws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus power-law diagnostics — the distributional
    health check a data drop gets before training (the WIMBD-style
    term-distribution audit; Zipf 1949 / Heaps 1978, public methods):
    token/type totals, type-token ratio, and an OLS fit of
    ``ln(freq) ~ ln(rank)`` over each source's top-100 terms — a
    natural corpus sits near slope −1; a flat or cliffed slope flags
    templated/synthetic text.

    Top-100-per-source via :func:`~..operators.topk.grouped_topk`
    (two-phase partial merge — no per-source sort task), then an OLS
    fit over exact sufficient statistics: ln's rounded to
    8 dp into DECIMAL, products/sums exact, one identical IEEE op
    sequence per source for slope/R² (degenerate variance → NULL on
    both engines).

    Scale shape (100 TB): one (source, term) map-side-combined count
    shuffle; everything after runs on O(types) then O(sources × 100)
    relations. No window over data, no driver state.
    """
    from ..functions import quality as Q
    from ..operators.topk import grouped_topk
    from ..partitioning import spread

    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    terms = docs.select(
        "source", F.explode(Q.words(Q.fold_case("text"))).alias("term")
    )
    cnts = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    stats = cnts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    topk = grouped_topk(
        cnts, ["source"], [("c", False), ("term", True)], _ZIPF_K,
        rn_col="rank",
    )
    pts = topk.select(
        "source",
        F.round(F.log(F.col("rank").cast("double")), 8)
        .cast("decimal(10,8)")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")), 8)
        .cast("decimal(12,8)")
        .alias("y"),
    )
    s = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,8)").alias("sx"),
        F.sum("y").cast("decimal(38,8)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,16)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,16)").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,16)").alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    return s.join(stats, "source").select(
        "source",
        "n_tokens",
        "n_types",
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("ttr"),
        F.round(
            F.when(vx == 0, F.lit(None).cast("double")).otherwise(cov / vx), 6
        ).alias("zipf_slope"),
        F.round(
            F.when(vx * vy == 0, F.lit(None).cast("double")).otherwise(
                cov * cov / (vx * vy)
            ),
            6,
        ).alias("zipf_r2"),
    )
