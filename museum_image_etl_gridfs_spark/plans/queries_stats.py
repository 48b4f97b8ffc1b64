"""Distributional-statistics & data-audit wave (round 3, session 4).

Statistics, graph, sampling, and engine-surface queries a
training-data or analytics team runs over a corpus/fact table, each
with an exact DuckDB oracle:

- inequality / divergence / robust stats: ``gini_customer_spend``
  (distributed global rank), ``ks_returned_price`` (distributed
  prefix-sum CDFs), ``mad_outlier_quantities``;
- text: ``pmi_collocations``;
- graph / dedup: ``near_dup_components_exact`` (exact-dedup-first
  components, recursive-CTE oracle), ``prefix_join_near_dups``
  (exact Jaccard pairs, block-matrix matmul), ``brand_triangle_stats``
  (exact triangle census + transitivity);
- training-data sampling: ``negative_sampling_pairs`` (deterministic
  hash draws), ``order_cluster_sample`` (hierarchical sampling);
- engine surfaces: ``recursive_brand_reach`` (Spark 4 WITH RECURSIVE),
  ``schema_evolution_merge`` (mergeSchema read).

The reference (a 501-LoC row-at-a-time pymongo ETL,
/root/reference/src/transform_load.py) has no aggregate surface at
all; these extend the large-scale curation/audit surface scoped in
SURVEY.md §2.12 / COVERAGE.md.

Cross-engine determinism: every money/stat sum is routed through
DECIMAL (exact, order-independent); per-row doubles are produced by
IDENTICAL IEEE op sequences on both engines (same literal order,
same casts) and only then rounded/compared; division never happens
before the final scalar step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import quality as Q
from ..operators.ann import jaccard_pairs_blocked
from ..operators.quantiles import global_row_number, running_totals
from ..partitioning import spread
from .registry import query

#: lowercased whitespace word array (canonical tokenizer mirror)
_SQL_WORDS_LOWER = Q.WORDS_SQL_LOWER


@query(
    "gini_customer_spend",
    oracle="""
    WITH spend AS (
        SELECT c.c_custkey,
               COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))),
                        CAST(0 AS DECIMAL(18,2))) AS spend
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey),
    ranked AS (
        SELECT spend,
               row_number() OVER (ORDER BY CAST(spend AS DOUBLE), c_custkey)
                   AS rnk
        FROM spend),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(spend) AS DECIMAL(30,2)) AS s1,
               CAST(SUM(rnk * spend) AS DECIMAL(30,2)) AS s2
        FROM ranked)
    SELECT n AS n_customers,
           CAST(s1 AS DOUBLE) AS total_spend,
           round(CAST(2 * s2 - (n + 1) * s1 AS DOUBLE)
                 / CAST(n * s1 AS DOUBLE), 8) AS gini
    FROM s
    """,
    tags=("stats", "inequality", "global-rank"),
)
def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration (zero-order
    customers included at spend 0).

    G = (2·Σᵢ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with x sorted ascending —
    numerator and denominator are EXACT DECIMAL scalars, so the one
    double division is bit-identical across engines and partitionings
    (equal spends permute ranks but leave Σ i·xᵢ invariant).

    Scale shape: the per-customer aggregate shuffles orders once
    (map-side partials); the global rank uses
    ``operators/quantiles.global_row_number`` — width_bucket range
    ids + broadcast offsets + within-bucket window — so no stage ever
    holds the full customer set in one task (the bare
    ``Window.orderBy`` scale-killer documented in NOTES.md).
    """
    cust = load(spark, "customer", sf_dir).select("c_custkey")
    orders = load(spark, "orders", sf_dir).select("o_custkey", "o_totalprice")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                F.lit(0).cast("decimal(18,2)"),
            ).alias("spend")
        )
        .withColumn("spend_d", F.col("spend").cast("double"))
    )
    ranked = global_row_number(
        spend, ["spend_d", "c_custkey"], out_col="rnk"
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("spend").cast("decimal(30,2)").alias("s1"),
        F.sum(F.col("rnk") * F.col("spend")).cast("decimal(30,2)").alias("s2"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("s1").cast("double").alias("total_spend"),
        F.round(
            (2 * F.col("s2") - (F.col("n") + 1) * F.col("s1")).cast("double")
            / (F.col("n") * F.col("s1")).cast("double"),
            8,
        ).alias("gini"),
    )


@query(
    "ks_returned_price",
    oracle="""
    WITH vals AS (
        SELECT l_extendedprice AS price,
               CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS r,
               CAST(count(*) FILTER (WHERE l_returnflag <> 'R') AS BIGINT) AS o
        FROM lineitem GROUP BY l_extendedprice),
    tot AS (SELECT SUM(r) AS nr, SUM(o) AS no FROM vals),
    cdf AS (
        SELECT price,
               SUM(r) OVER (ORDER BY price
                            ROWS UNBOUNDED PRECEDING) AS cum_r,
               SUM(o) OVER (ORDER BY price
                            ROWS UNBOUNDED PRECEDING) AS cum_o
        FROM vals),
    d AS (
        SELECT price,
               abs(CAST(cum_r AS DOUBLE) / CAST((SELECT nr FROM tot) AS DOUBLE)
                   - CAST(cum_o AS DOUBLE)
                     / CAST((SELECT no FROM tot) AS DOUBLE)) AS dist
        FROM cdf),
    mx AS (SELECT max(dist) AS ks FROM d)
    SELECT round((SELECT ks FROM mx), 8) AS ks_stat,
           min(price) AS ks_price,
           CAST((SELECT nr FROM tot) AS BIGINT) AS n_returned,
           CAST((SELECT no FROM tot) AS BIGINT) AS n_other
    FROM d WHERE dist = (SELECT ks FROM mx)
    """,
    tags=("stats", "ks-test", "prefix-sum"),
)
def ks_returned_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the price
    distributions of returned (``l_returnflag = 'R'``) and
    non-returned line items, with the price where the supremum is
    attained (smallest such price under ties).

    Determinism: the empirical CDFs are exact integer prefix sums;
    each distance is the SAME double expression on both engines, so
    the max and the equality filter select identical rows.

    Scale shape: one groupBy compresses the fact to its distinct
    value set; the global running sums come from
    ``operators/quantiles.running_totals`` (bucketed two-pass prefix
    sum — per-bucket totals, broadcast offsets, within-bucket window)
    — no single-task global window anywhere; the 1-row totals/max
    are broadcast nested-loop joined.
    """
    li = load(spark, "lineitem", sf_dir).select("l_extendedprice", "l_returnflag")
    vals = (
        li.groupBy(F.col("l_extendedprice").alias("price"))
        .agg(
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("r"),
            F.count(F.when(F.col("l_returnflag") != "R", 1)).alias("o"),
        )
    )
    cdf = running_totals(vals, ["price"], ["r", "o"])
    # totals = the running sums at the max price (monotone prefix), so
    # this agg reads the checkpointed CDF instead of re-executing the
    # distinct-value groupBy a fourth time
    tot = cdf.agg(F.max("cum_r").alias("nr"), F.max("cum_o").alias("no"))
    d = cdf.crossJoin(F.broadcast(tot)).select(
        "price",
        "nr",
        "no",
        F.abs(
            F.col("cum_r").cast("double") / F.col("nr").cast("double")
            - F.col("cum_o").cast("double") / F.col("no").cast("double")
        ).alias("dist"),
    )
    mx = d.agg(F.max("dist").alias("ks"))
    return (
        d.crossJoin(F.broadcast(mx))
        .filter(F.col("dist") == F.col("ks"))
        .groupBy()
        .agg(
            F.round(F.first("ks"), 8).alias("ks_stat"),
            F.min("price").alias("ks_price"),
            F.first("nr").alias("n_returned"),
            F.first("no").alias("n_other"),
        )
    )


@query(
    "mad_outlier_quantities",
    oracle="""
    WITH q AS (
        SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS qty
        FROM lineitem),
    med AS (
        SELECT l_returnflag, quantile_cont(qty, 0.5) AS med_qty
        FROM q GROUP BY l_returnflag),
    dev AS (
        SELECT q.l_returnflag, q.qty, med.med_qty,
               abs(q.qty - med.med_qty) AS d
        FROM q JOIN med USING (l_returnflag)),
    mad AS (
        SELECT l_returnflag, quantile_cont(d, 0.5) AS mad_qty
        FROM dev GROUP BY l_returnflag)
    SELECT dev.l_returnflag,
           round(ANY_VALUE(dev.med_qty), 4) AS med_qty,
           round(ANY_VALUE(mad.mad_qty), 4) AS mad_qty,
           CAST(count(*) FILTER (
               WHERE dev.d > 3.0 * 1.4826 * mad.mad_qty) AS BIGINT)
               AS n_outliers,
           CAST(count(*) AS BIGINT) AS n_items
    FROM dev JOIN mad USING (l_returnflag)
    GROUP BY dev.l_returnflag
    """,
    tags=("stats", "robust", "median-mad"),
)
def mad_outlier_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit per return flag: exact median and MAD of
    ``l_quantity``, and the count of items beyond the standard
    ``3·1.4826·MAD`` robust-z fence.

    Spark's exact ``percentile(x, 0.5)`` and DuckDB's
    ``quantile_cont`` share the linear-interpolation definition, and
    the fence expression multiplies in the same literal order on both
    engines, so the comparison is bit-identical.

    Scale shape (r13, guide §5/§1.2): both medians run through
    ``grouped_percentiles_auto`` — below the input-size gate this is
    Spark's own exact ``Percentile`` aggregate (single pass; its
    buffer is a value→count map, O(distinct values) per group — tiny
    for the 50-value quantity domain — and the MEASURED-fastest exact
    form: the pure rank-machinery variant ran 17 s + 71 s at sf1
    where this shape runs ~6 s); above the gate it switches to
    ``grouped_exact_percentiles``, the bounded-state distributed
    order-statistics path for continuous value domains at corpus
    scale. The two paths are bit-identical (interpolation arithmetic
    pinned against ``F.percentile`` in tests/test_quantiles.py), so
    the gate cannot move this query's oracle hash. The medians/MAD
    table itself is tiny and broadcast back onto the fact for the
    fence count.
    """
    from ..operators.quantiles import grouped_percentiles_auto

    q = load(spark, "lineitem", sf_dir).select(
        "l_returnflag", F.col("l_quantity").cast("double").alias("qty")
    )
    med = grouped_percentiles_auto(
        q, ["l_returnflag"], "qty", [0.5], out_cols=["med_qty"]
    )
    dev = q.join(F.broadcast(med), "l_returnflag").withColumn(
        "d", F.abs(F.col("qty") - F.col("med_qty"))
    )
    mad = grouped_percentiles_auto(
        dev.select("l_returnflag", "d"), ["l_returnflag"], "d", [0.5],
        out_cols=["mad_qty"],
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.first("med_qty"), 4).alias("med_qty"),
            F.round(F.first("mad_qty"), 4).alias("mad_qty"),
            F.count(
                F.when(
                    F.col("d") > F.lit(3.0) * F.lit(1.4826) * F.col("mad_qty"),
                    1,
                )
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


#: collocations below this corpus frequency are statistically noisy
_PMI_MIN_PAIR = 5
#: result size of the ranked collocation list
_PMI_TOP_K = 100


@query(
    "pmi_collocations",
    oracle=f"""
    WITH w AS (
        SELECT {_SQL_WORDS_LOWER} AS w
        FROM documents),
    uni AS (
        SELECT unnest(w) AS term FROM w),
    ucnt AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    un AS (SELECT SUM(c) AS n FROM ucnt),
    big AS (
        SELECT unnest(CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
                           ELSE list_transform(range(1, len(w)),
                                               i -> w[i] || ' ' || w[i+1])
                      END) AS bigram
        FROM w),
    bcnt AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy
        FROM big GROUP BY 1
        HAVING count(*) >= {_PMI_MIN_PAIR}),
    bn AS (
        SELECT SUM(CAST(c AS BIGINT)) AS b FROM (
            SELECT count(*) AS c FROM big GROUP BY bigram)),
    scored AS (
        SELECT b.bigram, b.c_xy,
               round(ln((CAST(b.c_xy AS DOUBLE) / CAST(bn.b AS DOUBLE))
                        / ((CAST(x.c AS DOUBLE) / CAST(un.n AS DOUBLE))
                           * (CAST(y.c AS DOUBLE) / CAST(un.n AS DOUBLE)))),
                     6) AS pmi
        FROM bcnt b
        JOIN ucnt x ON x.term = split_part(b.bigram, ' ', 1)
        JOIN ucnt y ON y.term = split_part(b.bigram, ' ', 2)
        CROSS JOIN un CROSS JOIN bn)
    SELECT bigram, c_xy, pmi
    FROM scored
    ORDER BY pmi DESC, bigram
    LIMIT {_PMI_TOP_K}
    """,
    tags=("text", "collocations", "pmi"),
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation mining: the top bigrams by pointwise mutual
    information, PMI = ln(p(xy) / (p(x)·p(y))), restricted to pairs
    seen at least ``_PMI_MIN_PAIR`` times.

    PMI is computed as one double expression over exact integer
    counts in the SAME operation order on both engines (divide
    first, never multiply counts — no bigint overflow at any scale),
    then rounded; the LIMIT pins a (pmi DESC, bigram) total order.

    Scale shape: unigram and bigram counts are map-side-combined
    groupBys; the surviving (count-thresholded) bigram table is far
    smaller than the corpus and joins the unigram vocabulary on the
    split word — broadcast at this SF, shuffle-joinable at corpus
    scale; the two 1-row totals are broadcast.
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    w = docs.select(Q.words(F.lower(F.col("text"))).alias("w"))
    # ONE tokenize pass for BOTH count tables (r13, guide §2.4/§5).
    # The r12 attempt fed a tagged explode (kind 1 = unigram, kind 2 =
    # bigram) into one groupBy(kind, term) and hoped every consumer
    # would share that exchange via ReusedExchange — it never fired:
    # the k==1/k==2 consumer filters push BELOW the aggregate, so each
    # of the five consumers built a structurally different subtree and
    # re-ran scan + tokenize + struct-wrap from source (committed
    # after-plan: 5 scans / 12 exchanges / 0 ReusedExchange; driver
    # measured 1.42 → 2.10 s). The sharing is now REAL: the tagged
    # counts relation — one narrow (k, term, c) row per DISTINCT
    # term/bigram, far smaller than the corpus at any SF (Heaps' law;
    # distributed MEMORY_AND_DISK blocks, never the driver) — is
    # materialized behind a tracked localCheckpoint, so the corpus is
    # scanned and tokenized exactly once and all five consumers (ucnt
    # ×2, bcnt, both totals) are cheap scans of the checkpointed
    # blocks. Released by the caller via lifecycle.release_checkpoints
    # after results materialize, as with every tracked checkpoint.
    # explode_outer + IS NOT NULL: plain explode would let
    # InferFiltersFromGenerate inline the whole tokenizer chain into a
    # scan-side size() filter, re-evaluated per row (NOTES.md trap).
    tagged = (
        w.select(
            F.explode_outer(
                F.concat(
                    F.transform(
                        F.col("w"),
                        lambda t: F.struct(
                            F.lit(1).alias("k"), t.alias("t")
                        ),
                    ),
                    F.transform(
                        Q.word_ngrams(F.col("w"), 2),
                        lambda g: F.struct(
                            F.lit(2).alias("k"), g.alias("t")
                        ),
                    ),
                )
            ).alias("e")
        )
        .filter(F.col("e").isNotNull())
        .select("e.k", "e.t")
    )
    from ..operators.lifecycle import tracked_local_checkpoint

    counts = tracked_local_checkpoint(
        tagged.groupBy("k", "t").agg(F.count(F.lit(1)).alias("c"))
    )
    ucnt = counts.filter(F.col("k") == 1).select(
        F.col("t").alias("term"), "c"
    )
    un = ucnt.agg(F.sum("c").alias("n"))
    allb = counts.filter(F.col("k") == 2).select(
        F.col("t").alias("bigram"), F.col("c").alias("c_xy")
    )
    bn = allb.agg(F.sum("c_xy").alias("b"))
    bcnt = allb.filter(F.col("c_xy") >= _PMI_MIN_PAIR)
    x = ucnt.select(F.col("term").alias("tx"), F.col("c").alias("cx"))
    y = ucnt.select(F.col("term").alias("ty"), F.col("c").alias("cy"))
    scored = (
        bcnt.withColumn("tx", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("ty", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(x), "tx")
        .join(F.broadcast(y), "ty")
        .crossJoin(F.broadcast(un))
        .crossJoin(F.broadcast(bn))
        .select(
            "bigram",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") / F.col("b").cast("double"))
                    / (
                        (F.col("cx").cast("double") / F.col("n").cast("double"))
                        * (F.col("cy").cast("double") / F.col("n").cast("double"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "bigram").limit(_PMI_TOP_K)


@query(
    "near_dup_components_exact",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, source,
               list_distinct(regexp_split_to_array(
                   trim(lower(coalesce(text,''))), '\\s+')) AS ts
        FROM documents),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM toks a JOIN toks b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.ts, b.ts))
              / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.5),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs),
    verts AS (SELECT DISTINCT u AS vertex FROM edges),
    reach(vertex, lbl) AS (
        SELECT vertex, vertex FROM verts
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.vertex),
    comp AS (SELECT vertex, min(lbl) AS component FROM reach GROUP BY vertex)
    SELECT component,
           min(vertex) AS canonical_vertex,
           CAST(count(*) AS BIGINT) AS cluster_size
    FROM comp GROUP BY component
    """,
    tags=("dedup", "graph", "iterative"),
)
def near_dup_components_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EXACT near-duplicate graph
    (token-set Jaccard ≥ 0.5, blocked by source) — the oracle-checked
    twin of ``near_dup_clusters``: the same union-find closure
    (operators/components.py), but on a deterministic
    SQL-expressible edge set so DuckDB's recursive CTE can hash-match
    the full cluster decision (component id ≡ min reachable doc_id,
    keep-first canonical, cluster size).

    Scale shape — exact-dedup BEFORE near-dedup, the production
    ordering: docs with an identical (source, token-set) collapse to
    one representative (min doc_id) FIRST, so the quadratic pair
    stage runs on distinct texts only — on a duplicate-heavy corpus
    the pair space shrinks with the square of duplicate multiplicity
    (measured 230 s → ~13 s at 10× with 10-copy replication). The
    collapse is lossless: exact duplicates have Jaccard 1.0, so they
    always share a component; multi-member groups enter the graph as
    self-edges, membership re-expands by fingerprint at the end, and
    the min-doc_id labels are preserved because each representative
    IS its group's min. Pair edges then come from the blocked-matmul
    Jaccard stage and close in ONE lazy grouped stage: a numpy
    union-find over the whole representative edge list in a single
    Python worker, no per-round jobs or checkpoints whatever the
    graph's diameter. The quadratic recursive CTE is oracle-only.
    """
    from ..operators.components import connected_components
    from ..operators.lifecycle import tracked_local_checkpoint

    docs = load(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        "source",
        F.sort_array(
            F.array_distinct(
                F.split(
                    F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))),
                    r"\s+",
                )
            )
        ).alias("ts"),
    ).withColumn(
        # to_json is an INJECTIVE encoding of the token array (escapes
        # any separator-like bytes inside tokens); a concat_ws join
        # would conflate ["a\x1fb"] with ["a","b"]. The fingerprint is
        # Spark-internal only — the oracle computes true pairwise
        # Jaccard — so no DuckDB mirror is needed.
        "fp",
        F.md5(F.to_json(F.col("ts"))),
    )
    # One corpus scan total (r12 optimization, guide §2.4/§5): the
    # collapse carries its MEMBER LIST in the same aggregate, and the
    # result is pinned behind a tracked localCheckpoint. Before, the
    # un-checkpointed ``groups`` was consumed four times (the jaccard
    # sub-block derivation aggregate, the packed-block stage, the
    # self-edges filter, and a members re-join that ALSO re-scanned
    # ``toks``) — every consumer re-ran the parquet scan + tokenize +
    # fingerprint groupBy from source (measured 4-5 scans of
    # documents.parquet per run in the stage ledger). Membership now
    # re-expands from the carried list — no corpus-sized re-join at
    # the end. Storage contract: callers release via
    # lifecycle.release_checkpoints after materializing.
    # Memory ceiling (ADVICE r12): the member list rides ONE
    # aggregation buffer per (source, fp) group, so a degenerate
    # corpus where millions of docs share one exact token-set puts
    # that whole group's ids in a single row — bounded by the largest
    # exact-duplicate cluster, not the corpus. A corpus beyond that
    # ceiling should pre-collapse exact dups (the production ordering
    # this query itself documents) or re-join membership by
    # fingerprint instead of carrying it.
    groups = tracked_local_checkpoint(
        toks.groupBy("source", "fp").agg(
            F.min("doc_id").alias("rep_id"),
            F.min_by("ts", "doc_id").alias("ts"),
            F.count(F.lit(1)).alias("grp_n"),
            F.collect_list("doc_id").alias("member_ids"),
        )
    )
    rep_pairs = jaccard_pairs_blocked(
        groups.select(F.col("rep_id").alias("doc_id"), "source", "ts"),
        id_col="doc_id",
        tokens_col="ts",
        block_col="source",
        threshold=0.5,
    )
    # an exact-duplicate group is a clique even with no other
    # neighbor: a self-edge keeps its representative in the graph
    self_edges = groups.filter(F.col("grp_n") >= 2).select(
        F.col("rep_id").alias("id_a"), F.col("rep_id").alias("id_b")
    )
    comps = connected_components(
        rep_pairs.select("id_a", "id_b").unionByName(self_edges)
    )
    members = groups.select(
        "rep_id", F.explode("member_ids").alias("doc_id")
    )
    doc_comp = members.join(
        comps, members.rep_id == comps.vertex
    ).select("doc_id", "component")
    return (
        doc_comp.groupBy("component")
        .agg(
            F.min("doc_id").alias("canonical_vertex"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .select(
            "component",
            "canonical_vertex",
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


#: the recursive clause — shared verbatim between engines; only the
#: edge/seed derivation differs (Spark materializes edges first)
_REACH_RECURSION = """
    WITH RECURSIVE reach(brand, hops) AS (
        SELECT b, 0 FROM {seed}
        UNION ALL
        SELECT e.b2, r.hops + 1
        FROM reach r JOIN {edges} e ON e.b1 = r.brand
        WHERE r.hops < 3
    )
    SELECT brand, CAST(min(hops) AS BIGINT) AS min_hops
    FROM reach GROUP BY brand
"""

_REACH_ORACLE = """
    WITH RECURSIVE bp AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    edges AS (
        SELECT DISTINCT a.p_brand AS b1, b.p_brand AS b2
        FROM bp a JOIN bp b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand),
    seed AS (SELECT min(p_brand) AS b FROM part),
    reach(brand, hops) AS (
        SELECT b, 0 FROM seed
        UNION ALL
        SELECT e.b2, r.hops + 1
        FROM reach r JOIN edges e ON e.b1 = r.brand
        WHERE r.hops < 3
    )
    SELECT brand, CAST(min(hops) AS BIGINT) AS min_hops
    FROM reach GROUP BY brand
"""


@query(
    "recursive_brand_reach",
    oracle=_REACH_ORACLE,
    tags=("sql-surface", "recursive-cte", "graph"),
)
def recursive_brand_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` SQL surface (Spark 4's recursive CTE): BFS
    hop distance from the lexicographically-first brand over the
    brand co-purchase graph; min(hops) collapses the bounded path
    enumeration into shortest-path distances.

    Scale shape: the co-occurrence edge list (order-key self-join,
    basket-bounded fan-out) is derived ONCE and checkpoint-
    materialized before the recursion — a recursive CTE re-evaluates
    its step subplan every iteration, so an inlined edge derivation
    re-ran the fact self-join 4× (measured 60 s → ~3 s at 10×). The
    recursion itself touches only the 25-node brand graph. (cf.
    operators/components.py for the unbounded-vertex-count variant —
    recursion depth there is graph diameter, not a literal hop cap.)
    """
    from .queries_olap import brand_edges

    brand_edges(spark, sf_dir, directed=True).createOrReplaceTempView(
        "stats_reach_edges"
    )
    load(spark, "part", sf_dir).agg(
        F.min("p_brand").alias("b")
    ).createOrReplaceTempView("stats_reach_seed")
    return spark.sql(
        _REACH_RECURSION.format(seed="stats_reach_seed", edges="stats_reach_edges")
    )


#: negatives kept per customer
_NEG_K = 3
#: hash draws per customer (headroom over K for invalid/seen/dup hits)
_NEG_DRAWS = 8
#: odd multiplier decorrelating the customer key from the draw index
_NEG_PAIR_MULT = 1000003
#: per-draw salt (prime) so draws of one customer decorrelate
_NEG_DRAW_SALT = 7919


def _neg_oracle() -> str:
    from ..functions.keys import KNUTH

    # same portable arithmetic as the Spark side: pre-fold the salted
    # key below 2^31 so key*KNUTH stays within int64 at ANY key scale
    # (DuckDB raises on bigint overflow where Spark silently wraps),
    # then Knuth-hash and map into the live part-key domain
    guess = (
        f"1 + ((((c.c_custkey * {_NEG_PAIR_MULT}"
        f" + i.draw * {_NEG_DRAW_SALT}) % 2147483647) * {KNUTH})"
        f" % 4294967296) % (SELECT max(p_partkey) FROM part)"
    )
    return f"""
    WITH draws AS (
        SELECT c.c_custkey, i.draw, {guess} AS guess
        FROM customer c
        CROSS JOIN (SELECT unnest(range(0, {_NEG_DRAWS})) AS draw) i),
    valid AS (
        SELECT d.c_custkey, d.draw, p.p_partkey
        FROM draws d JOIN part p ON p.p_partkey = d.guess),
    seen AS (
        SELECT DISTINCT o.o_custkey, l.l_partkey
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    fresh AS (
        SELECT v.c_custkey, v.draw, v.p_partkey
        FROM valid v
        WHERE NOT EXISTS (
            SELECT 1 FROM seen s
            WHERE s.o_custkey = v.c_custkey AND s.l_partkey = v.p_partkey)),
    dedup AS (
        SELECT c_custkey, draw, p_partkey,
               row_number() OVER (PARTITION BY c_custkey, p_partkey
                                  ORDER BY draw) AS dup_rn
        FROM fresh),
    ranked AS (
        SELECT c_custkey, p_partkey,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY draw) AS neg_rank
        FROM dedup WHERE dup_rn = 1)
    SELECT c_custkey, p_partkey, CAST(neg_rank AS INTEGER) AS neg_rank
    FROM ranked WHERE neg_rank <= {_NEG_K}
    """


@query(
    "negative_sampling_pairs",
    oracle=_neg_oracle(),
    tags=("traindata", "negative-sampling", "extension"),
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive / recommender
    training: for every customer, up to K pseudo-random parts they
    have NEVER ordered, produced by a FIXED number of portable hash
    draws per customer — rerun-stable on both engines, no RNG.

    Each of the 8 salted Knuth-hash draws maps into the part-key
    domain, is validated against the part dimension, anti-joined
    against the customer's observed parts, deduplicated, and the
    first K surviving draws (in draw order) are kept. All arithmetic
    pre-folds below 2^31 so the hash never overflows int64 on either
    engine.

    Scale shape: O(customers × 8) candidate rows — LINEAR in the
    customer dimension (a pool×customers cross join would be
    quadratic-ish and was measured unusable at 10×); the part-
    validation and seen anti-join are both key-partitioned shuffle
    joins; the final windows partition by customer. The max-partkey
    probe is one driver scalar (the quantiles-machinery pattern).
    """
    from ..functions.keys import KNUTH

    part = load(spark, "part", sf_dir).select("p_partkey")
    cust = load(spark, "customer", sf_dir).select("c_custkey")
    orders = load(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    maxp = part.agg(F.max("p_partkey")).first()[0]
    draws = cust.select(
        "c_custkey",
        F.explode(F.sequence(F.lit(0), F.lit(_NEG_DRAWS - 1))).alias("draw"),
    ).withColumn(
        "guess",
        1
        + F.pmod(
            F.pmod(
                F.col("c_custkey").cast("long") * _NEG_PAIR_MULT
                + F.col("draw") * _NEG_DRAW_SALT,
                F.lit(2147483647),
            )
            * F.lit(KNUTH),
            F.lit(2**32),
        )
        % F.lit(int(maxp)),
    )
    valid = draws.join(part, draws.guess == part.p_partkey).select(
        "c_custkey", "draw", "p_partkey"
    )
    seen = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    fresh = valid.join(
        seen,
        (valid.c_custkey == seen.o_custkey) & (valid.p_partkey == seen.l_partkey),
        "left_anti",
    )
    dup_w = Window.partitionBy("c_custkey", "p_partkey").orderBy("draw")
    rank_w = Window.partitionBy("c_custkey").orderBy("draw")
    return (
        fresh.withColumn("dup_rn", F.row_number().over(dup_w))
        .filter(F.col("dup_rn") == 1)
        .withColumn("neg_rank", F.row_number().over(rank_w))
        .filter(F.col("neg_rank") <= _NEG_K)
        .select(
            "c_custkey",
            "p_partkey",
            F.col("neg_rank").cast("int").alias("neg_rank"),
        )
    )


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, source, ts): the lowercased whitespace token array the
    pair oracles build with ``regexp_split_to_array``."""
    return docs.select(
        "doc_id",
        "source",
        F.split(
            F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"
        ).alias("ts"),
    )


@query(
    "prefix_join_near_dups",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_distinct(regexp_split_to_array(
                   trim(lower(coalesce(text,''))), '\\s+')) AS ts
        FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN len(list_distinct(list_concat(a.ts, b.ts))) = 0
                THEN CAST(0.0 AS DOUBLE)
                ELSE len(list_intersect(a.ts, b.ts))
                     / len(list_distinct(list_concat(a.ts, b.ts))) END
               AS jaccard
    FROM toks a JOIN toks b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ts, b.ts))
          / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.5
    """,
    tags=("dedup", "similarity", "blocked-matmul"),
)
def prefix_join_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.5 near-duplicate pairs within a ``source``,
    computed by the block-matrix join
    (operators/ann.py::jaccard_pairs_blocked): each (source,
    sub-block) packs into one row and one matmul per cell pair gives
    every intersection count — same output as the quadratic oracle
    join.

    The name is historical: the query used to run a prefix-filtered
    set-similarity join. It keeps the name because benchmark workloads
    and recorded results refer to it.
    """
    docs = load(spark, "documents", sf_dir)
    return jaccard_pairs_blocked(
        _doc_tokens(docs),
        id_col="doc_id",
        tokens_col="ts",
        block_col="source",
        threshold=0.5,
    )


@query(
    "incremental_near_dups",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, (doc_id % 10 = 0) AS is_new,
               list_distinct(regexp_split_to_array(
                   trim(lower(coalesce(text,''))), '\\s+')) AS ts
        FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN len(list_distinct(list_concat(a.ts, b.ts))) = 0
                THEN CAST(0.0 AS DOUBLE)
                ELSE len(list_intersect(a.ts, b.ts))
                     / len(list_distinct(list_concat(a.ts, b.ts))) END
               AS jaccard
    FROM toks a JOIN toks b
      ON a.source = b.source AND a.doc_id < b.doc_id
         AND (a.is_new OR b.is_new)
    WHERE len(list_intersect(a.ts, b.ts))
          / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.5
    """,
    tags=("dedup", "similarity", "blocked-matmul", "incremental"),
)
def incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup join: exact Jaccard >= 0.5 pairs with at
    least one member in the NEW batch (here the deterministic
    doc_id % 10 == 0 slice standing in for "today's crawl") — the
    standing corpus is never re-paired with itself. Same block-matrix
    join as ``prefix_join_near_dups`` in its ``new_col`` mode: new and
    old documents pack into separate cells and old x old cells are
    dropped at the cell-pair join, before any matmul."""
    docs = load(spark, "documents", sf_dir)
    toks = _doc_tokens(docs).withColumn("is_new", F.col("doc_id") % 10 == 0)
    return jaccard_pairs_blocked(
        toks,
        id_col="doc_id",
        tokens_col="ts",
        block_col="source",
        threshold=0.5,
        new_col="is_new",
    )


@query(
    "brand_triangle_stats",
    oracle="""
    WITH bp AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    edges AS (
        SELECT DISTINCT a.p_brand AS b1, b.p_brand AS b2
        FROM bp a JOIN bp b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand),
    deg AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT b1 AS brand FROM edges
              UNION ALL SELECT b2 FROM edges) u
        GROUP BY brand),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS t
        FROM edges e1
        JOIN edges e2 ON e2.b1 = e1.b1 AND e2.b2 > e1.b2
        JOIN edges e3 ON e3.b1 = e1.b2 AND e3.b2 = e2.b2)
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           (SELECT t FROM tri) AS n_triangles,
           CASE WHEN (SELECT SUM(d * (d - 1) / 2) FROM deg) = 0 THEN NULL
                ELSE round(CAST(3 * (SELECT t FROM tri) AS DOUBLE)
                           / CAST((SELECT SUM(d * (d - 1) / 2) FROM deg)
                                  AS DOUBLE), 8)
           END AS transitivity
    """,
    tags=("graph", "triangles", "stats"),
)
def brand_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the brand co-purchase graph: node/edge
    counts, exact triangle count (ordered 3-cycle join), and global
    transitivity 3·T / Σ d(d−1)/2 — the standard graph-density audit
    over a co-occurrence graph.

    All counts are exact integers; transitivity is one shared double
    division.

    Scale shape: the fact compresses to a distinct (order, brand)
    projection, then to a distinct bounded edge list (≤ brands²); the
    ordered triangle join b1<b2<b3 runs on that tiny edge table
    (broadcast). The orientation here is VALUE order (each edge joins
    only higher-valued neighbors — halves the pair space and makes
    the count deterministic); at web-graph scale the production
    refinement is to orient by DEGREE instead, which bounds every
    node's out-fan and gives the classic m^(3/2) work bound — same
    join shape, different ordering key.
    """
    from ..operators.components import triangle_census
    from .queries_olap import brand_edges

    return triangle_census(brand_edges(spark, sf_dir, directed=False))


#: 1-in-20 order clusters (~5%) kept whole in the sample
_CLUSTER_SAMPLE_BUCKETS = 20


def _cluster_sample_oracle() -> str:
    from ..functions.keys import portable_bucket_sql

    bucket = portable_bucket_sql("o_orderkey", _CLUSTER_SAMPLE_BUCKETS)
    return f"""
    WITH s AS (
        SELECT o_orderkey FROM orders WHERE {bucket} = 0)
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN s ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
    """


@query(
    "order_cluster_sample",
    oracle=_cluster_sample_oracle(),
    tags=("sampling", "cluster-sample", "traindata"),
)
def order_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster (hierarchical) sampling: a deterministic ~5% of ORDERS
    is drawn by portable key hash and every line item of a sampled
    order is kept WHOLE — the correct way to sample parent/child data
    (row-level sampling would shred order baskets and bias any
    per-order statistic).

    Scale shape: cluster membership is a PURE FUNCTION of the
    parent key, so the fact side needs NO join at all — the same
    hash evaluated on ``l_orderkey`` selects exactly the sampled
    orders' line items (the oracle keeps the join form, proving the
    equivalence). One codegen'd filter + map-side-combined aggregate;
    the sample fraction costs nothing to decide at any scale. (A
    join-based form would broadcast a key set that GROWS with the
    table — the anti-pattern this query exists to avoid.)
    """
    from ..functions.keys import portable_bucket

    li = load(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    return (
        li.filter(portable_bucket("l_orderkey", _CLUSTER_SAMPLE_BUCKETS) == 0)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "schema_evolution_merge",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE l_linenumber = 1) AS BIGINT)
               AS n_missing_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    FILTER (WHERE l_linenumber = 2) AS DOUBLE) AS sum_price
    FROM lineitem WHERE l_linenumber IN (1, 2)
    """,
    tags=("sql-surface", "schema-evolution", "sink"),
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (§2.1): two parquet generations are
    written with DIFFERENT schemas — the old one lacks the price
    column — and read back as ONE table via ``mergeSchema``, the
    lakehouse append-only evolution path; rows from the old
    generation surface NULL for the added column.

    The oracle recomputes the same union from the source fact, so the
    hash check proves the merged read is lossless (row counts, the
    NULL accounting for the missing column, and both DECIMAL sums).

    Scale shape: each generation is a plain columnar write; the
    merged scan unions footers and prunes columns per file — schema
    reconciliation is metadata-only, no data rewrite.
    """
    from .queries_analytics import _scratch_dir

    out = _scratch_dir("spark_graft_schema_evo", sf_dir)
    li = load(spark, "lineitem", sf_dir)
    old_gen = li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    new_gen = li.filter(F.col("l_linenumber") == 2).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    old_gen.write.mode("overwrite").parquet(f"{out}/gen=0")
    new_gen.write.mode("overwrite").parquet(f"{out}/gen=1")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/gen=0", f"{out}/gen=1"
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_extendedprice").isNull(), 1)).alias(
            "n_missing_price"
        ),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )
