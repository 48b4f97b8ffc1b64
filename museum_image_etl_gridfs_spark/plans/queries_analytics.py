"""Advanced analytics wave (round 3): operators and surfaces beyond
the earlier families, each with an exact DuckDB oracle.

- sketch/geometry: count-min heavy hitters, distributed SFS skyline
- graph: iterative PageRank
- temporal: argmin/argmax OHLC (batch + streaming)
- engine surfaces, driver-verified: percent_rank/cume_dist/nth_value,
  foreachBatch MERGE sink round-trip, the format("museum_api") Python
  DataSource and the batch-HTTP/binary fetch pipelines on their
  hermetic transports, stream-stream LEFT OUTER interval join

The reference (a 501-LoC pymongo ETL) has none of these; they
complete the large-scale training-data/analytics surface the task
brief scopes for the Spark engine (SURVEY.md §2.12 / COVERAGE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.lifecycle import tracked_local_checkpoint
from ..operators.sketches import cms_heavy_hitters, tokens_of
from ..operators.skyline import skyline
from ..partitioning import spread
from .registry import query

#: heavy-hitter share-of-corpus threshold (3% of all tokens)
_HH_FRAC = 0.03


@query(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS item
        FROM documents
        WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    f AS (SELECT item, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY 1)
    SELECT item, freq
    FROM f
    WHERE freq >= CAST(ceil({_HH_FRAC} * (SELECT sum(freq) FROM f)) AS BIGINT)
    """,
    tags=("sketch", "heavy-hitters", "mapInPandas", "documents"),
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters via count-min sketch + exact verify
    (operators/sketches.py): tokens holding ≥ 3% of all token
    occurrences.

    The corpus is never shuffled — each partition emits a tiny CMS
    partial and its pigeonhole-safe local candidates; only surviving
    candidates are recounted exactly (broadcast semi-join), so the
    output is exact and the oracle can hash-match it.
    """
    docs = spread(load(spark, "documents", sf_dir), "doc_id")
    toks = docs.select(
        F.explode_outer(tokens_of(F.col("text"))).alias("item")
    ).filter(F.col("item").isNotNull())
    return cms_heavy_hitters(toks, "item", _HH_FRAC)


@query(
    "pareto_frontier_parts",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice, p_size
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    """,
    tags=("skyline", "pareto", "mapInPandas"),
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts: cheapest-for-their-size (minimize
    p_retailprice, maximize p_size), via the two-phase distributed
    skyline (operators/skyline.py).

    The oracle is the quadratic NOT EXISTS; the Spark plan is linear
    per partition (local SFS skyline) plus one tiny global pass —
    at 100 TB the fact never shuffles, only per-partition frontiers
    move.
    """
    part = spread(
        load(spark, "part", sf_dir).select(
            "p_partkey", "p_name", "p_retailprice", "p_size"
        ),
        "p_partkey",
    )
    return skyline(part, minimize=["p_retailprice"], maximize=["p_size"])


@query(
    "hourly_ohlc",
    oracle="""
    WITH e AS (
        SELECT date_trunc('hour', ts) AS hour, value, ts, event_id,
               row_number() OVER (
                   PARTITION BY date_trunc('hour', ts)
                   ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (
                   PARTITION BY date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT hour,
           max(CASE WHEN rn_a = 1 THEN value END) AS open_v,
           max(value) AS high_v,
           min(value) AS low_v,
           max(CASE WHEN rn_d = 1 THEN value END) AS close_v,
           CAST(count(*) AS BIGINT) AS n_events
    FROM e
    GROUP BY hour
    """,
    tags=("argmin", "min_by", "timeseries", "events"),
)
def hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars over the event value stream — the argmin/argmax
    aggregation surface (min_by/max_by family).

    Open/close are computed as single-pass struct-min/struct-max
    aggregates (lexicographic on (ts, event_id, value); event_id
    breaks ts ties deterministically) — one shuffle on the hour key
    with map-side partials, no window sort. The oracle takes the
    window-function route to the same rows, cross-checking Spark's
    struct-ordering semantics against row_number ordering.
    """
    ev = load(spark, "events", sf_dir)
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    pick = F.struct("ts", "event_id", "value")
    return ev.groupBy(hour).agg(
        F.min(pick)["value"].alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max(pick)["value"].alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
    )


_PR_ITERS = 3
_PR_DAMP = 0.85


def _pr_oracle() -> str:
    """Unrolled fixed-iteration PageRank as DuckDB CTEs (the SQL
    rendering of the exact dataflow the Spark builder runs)."""
    iters = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
        SELECT ne.dst AS node,
               0.15 / (SELECT nn FROM n) + {_PR_DAMP} * sum(p.pr * ne.nw) AS pr
        FROM ne JOIN {prev} p ON p.node = ne.src
        GROUP BY ne.dst
    )"""
        )
        prev = f"r{i}"
    return f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    e AS (
        SELECT a.b AS src, c.b AS dst, CAST(count(*) AS DOUBLE) AS w
        FROM ob a JOIN ob c ON a.ok = c.ok AND a.b <> c.b
        GROUP BY 1, 2
    ),
    outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
    ne AS (SELECT e.src, e.dst, e.w / outw.ow AS nw
           FROM e JOIN outw USING (src)),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM outw),
    r0 AS (SELECT src AS node, 1.0 / (SELECT nn FROM n) AS pr FROM outw),
    {", ".join(iters)}
    SELECT node AS brand, round(pr, 9) AS pr FROM {prev}
    """


@query(
    "brand_pagerank",
    oracle=_pr_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def brand_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph dataflow: 3 power-iteration steps of weighted
    PageRank over the brand co-occurrence graph (brands linked when
    they appear in the same order, edge weight = co-order count).

    The Spark shape per iteration is join(ranks, edges on src) →
    groupBy(dst) → weighted sum: the rank table is tiny (one row per
    brand) so AQE broadcasts it and each iteration costs one
    shuffle-free pass over edges plus a small aggregate. The one-time
    edge extraction collects each order's distinct brand set and
    DOUBLE-EXPLODES it — pairs are generated map-side off one
    groupBy(order) exchange; the basket SELF-JOIN this replaces
    shuffled the (order, brand) stream twice and re-ran the whole
    extraction a second time for the node count (solo sf1: 50.8 s →
    this shape ~7 s). Per-order arrays are bounded by the brand
    universe, so the explode fan-out is |brands|² per order worst
    case — the same pairs the join built, without the shuffle. The
    graph is symmetric so there are no dangling nodes. Scores are
    rounded to 9 decimals for cross-engine float-sum-order
    independence (same route as unigram_lm_scores).
    """
    li = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    brands = load(spark, "part", sf_dir).select("p_partkey", "p_brand")
    per_order = (
        li.join(F.broadcast(brands), li["l_partkey"] == brands["p_partkey"])
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    pairs = (
        per_order.select(F.explode("bs").alias("src"), "bs")
        .select("src", F.explode("bs").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    e = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("w")
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    ne = e.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("ow")).alias("nw")
    )
    # truncate lineage before iterating: without this each iteration
    # replans (and AQE re-optimizes) the whole edge-extraction DAG,
    # and the plan depth grows linearly with iterations. Edges
    # materialize once on the executors; each subsequent iteration
    # plans only join→agg over the checkpointed relation. LAZY
    # checkpoints (eager=False) keep build()/plan-audit free of job
    # launches — materialization happens at the first real action.
    # (Audit caveat: the executed plan beyond the checkpoint shows as
    # an ExistingRDD stub.) Tracked: lifecycle.release_checkpoints
    # reclaims the per-iteration blocks after the caller materializes.
    ne = tracked_local_checkpoint(ne)
    # node count READS THE CHECKPOINT (src side of every edge exists —
    # symmetric graph): counting from the pre-checkpoint `outw` would
    # execute the whole extraction DAG a second time just for this
    # scalar.
    n_nodes = float(ne.select("src").distinct().count())
    # the initial ranks table must ALSO read the checkpoint: seeding
    # from pre-checkpoint `outw` replays the full extraction DAG once
    # when ranks first materializes (measured ~7 s of the 14.2 s solo
    # sf1 cost in r8).
    ranks = ne.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0 / n_nodes).alias("pr")
    )
    for _ in range(_PR_ITERS):
        ranks = (
            ne.join(ranks, ne["src"] == ranks["node"])
            .groupBy("dst")
            .agg(
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(_PR_DAMP) * F.sum(F.col("pr") * F.col("nw"))
                ).alias("pr")
            )
            .select(F.col("dst").alias("node"), "pr")
        )
        ranks = tracked_local_checkpoint(ranks)
    return ranks.select(
        F.col("node").alias("brand"), F.round("pr", 9).alias("pr")
    )


@query(
    "http_ingest_pipeline",
    oracle="""
    SELECT doc_id AS object_id,
           CAST((doc_id * 7) % 97 AS INTEGER) AS k,
           'obj-' || CAST(doc_id AS VARCHAR) AS title
    FROM documents
    WHERE doc_id % 10 <> 0
    """,
    tags=("rest-ingest", "S2", "F1", "U1", "mapInPandas"),
)
def http_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ingestion loop (src/ingestion.py:38-57) as a
    driver-verified Spark pipeline: id list from a table (S1) →
    partition-batched per-id fetch (S2/U1, sources/http.py) → HTTP
    status filter (F1) → JSON body projection (C2).

    The injected transport is a pure function of the URL (404 for
    every 10th id, else a JSON document derived arithmetically from
    the id), so the whole pipeline — including the dropped-row path —
    is deterministic and the oracle reproduces it relationally. Same
    fetch/filter/parse code as the live-network path, minus sockets.
    """
    import json as _json

    from ..sources.http import fetch_json

    ids = load(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("object_id")
    )

    def url_for(i: int) -> str:
        return f"https://museum.invalid/objects/{i}"

    def transport(url: str):
        i = int(url.rsplit("/", 1)[1])
        if i % 10 == 0:
            return 404, b""
        doc = {"k": (i * 7) % 97, "title": f"obj-{i}"}
        return 200, _json.dumps(doc).encode()

    fetched = fetch_json(ids, url_for, transport)
    parsed = F.from_json(F.col("body"), "k int, title string").alias("doc")
    return (
        fetched.filter(F.col("status") == 200)
        .select("object_id", parsed)
        .select(
            "object_id",
            F.col("doc.k").alias("k"),
            F.col("doc.title").alias("title"),
        )
    )


def _scratch_dir(family: str, sf_dir: str) -> str:
    """Per-run unique scratch dir for sink round-trips, removed at
    process exit (unique so concurrent runs never race on each
    other's files; atexit-bounded so sweeps don't accumulate /tmp
    litter)."""
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    out = os.path.join(
        tempfile.gettempdir(),
        family,
        f"{os.path.basename(sf_dir)}_{uuid.uuid4().hex[:8]}",
    )
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out


@query(
    "acctbal_distribution_ranks",
    oracle="""
    WITH ranked AS (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               nth_value(c_name, 3) OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS third_richest
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey)
    )
    SELECT c_custkey, c_mktsegment, c_acctbal, pr, cd, third_richest
    FROM ranked
    WHERE c_custkey % 50 = 0
    """,
    tags=("window", "percent_rank", "cume_dist", "nth_value"),
)
def acctbal_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 window-function completion: percent_rank, cume_dist, and
    nth_value over a deterministic (balance DESC, key) ordering.
    Both are exact rationals of integer rank/count — one IEEE
    division each, bit-identical across engines. The full-frame
    nth_value pins frame semantics beyond the default
    running frame. Output restricted to every 50th customer to keep
    the hashed result bounded while ranks still come from the FULL
    segment windows.

    Scale shape (VERDICT r9 #1): NO per-segment window — 5
    mktsegments would put 20% of all customers through one sort task
    at any scale. :func:`~..operators.quantiles.grouped_rank_stats`
    over the ascending total order ``(-c_acctbal, c_custkey)`` yields
    the exact per-segment row number (== ANSI rank here — the order
    is a strict total order), so ``pr = (rn−1)/(n−1)`` and
    ``cd = rn/n`` exactly as the window oracle computes them;
    ``nth_value(c_name, 3)`` over the unbounded frame is just the
    row with rn = 3, an O(segments) relation broadcast back.
    """
    from ..operators.quantiles import grouped_rank_stats

    c = load(spark, "customer", sf_dir).withColumn(
        "__negbal", -F.col("c_acctbal")
    )
    ranked = grouped_rank_stats(
        c,
        ["c_mktsegment"],
        ["__negbal", "c_custkey"],
        row_number_col="__rn",
        n_col="__n",
    )
    third = F.broadcast(
        ranked.filter(F.col("__rn") == 3).select(
            "c_mktsegment", F.col("c_name").alias("third_richest")
        )
    )
    rn, n = F.col("__rn"), F.col("__n")
    return (
        ranked.filter(F.col("c_custkey") % 50 == 0)
        .join(third, "c_mktsegment", "left")
        .select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.when(n == 1, F.lit(0.0))
            .otherwise((rn - 1).cast("double") / (n - 1).cast("double"))
            .alias("pr"),
            (rn.cast("double") / n.cast("double")).alias("cd"),
            "third_richest",
        )
    )


@query(
    "stream_merge_sink_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
    tags=("streaming", "foreachBatch", "merge-sink", "cdc"),
)
def stream_merge_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE sink, driver-verified: a keyed table is
    seeded with a STALE snapshot (even event_ids, values corrupted by
    +1000), the full event stream is applied through
    ``run_foreach_batch_upsert`` (availableNow CDC-apply), and the
    table is read back.

    A correct MERGE must overwrite every stale row and insert every
    missing one, so the final state equals the clean events table —
    anything less (missed matches, dropped inserts, duplicate keys)
    hash-mismatches the oracle. The sink surface was previously
    pytest-only.
    """
    import os

    from ..streaming.events import events_stream, run_foreach_batch_upsert

    root = _scratch_dir("museum_etl_merge_demo", sf_dir)
    target = os.path.join(root, "target")
    ckpt = os.path.join(root, "ckpt")

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    stale = (
        load(spark, "events", sf_dir)
        .select(*cols)
        .filter(F.col("event_id") % 2 == 0)
        .withColumn("value", F.col("value") + F.lit(1000.0))
    )
    stale.write.parquet(target)

    run_foreach_batch_upsert(
        events_stream(spark, sf_dir).select(*cols),
        target,
        ["event_id"],
        ckpt,
    )
    return spark.read.parquet(target).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "binary_fetch_pipeline",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 200 END AS INTEGER)
               AS data_status,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(32 AS INTEGER) END AS n_bytes,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE md5(CAST(doc_id AS VARCHAR)) END AS body_str
    FROM documents
    """,
    tags=("binary-fetch", "S3", "F2", "mapInPandas"),
)
def binary_fetch_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S3/F2 driver-verified: per-row binary blob fetch
    (sources/http.py::fetch_binary) with the empty-URL quarantine
    path — empty URLs short-circuit to status 0 with a NULL blob and
    SURVIVE as quarantine rows (F2 leaves the drop to the caller).

    The transport returns the md5 hex digest of the id as the blob,
    so blob bytes, lengths, and the quarantine pattern are all
    SQL-reproducible. Same fetch code as the live path minus sockets.
    """
    from ..sources.http import fetch_binary

    docs = load(spark, "documents", sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("https://museum.invalid/images/"),
                F.col("doc_id").cast("string"),
            )
        ).alias("url"),
    )

    def transport(url: str):
        import hashlib as _hl

        i = url.rsplit("/", 1)[1]
        return 200, _hl.md5(i.encode()).hexdigest().encode()

    fetched = fetch_binary(docs, "url", transport)
    return fetched.select(
        "doc_id",
        "data_status",
        F.length(F.col("data")).alias("n_bytes"),
        F.col("data").cast("string").alias("body_str"),
    )


@query(
    "python_datasource_scan",
    oracle="""
    SELECT doc_id, 200 AS status, lang, n_chars
    FROM documents
    WHERE doc_id < 100
    """,
    tags=("datasource", "rest-scan", "S1", "S2"),
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S1/S2 driver-verified: the ``format("museum_api")``
    Python DataSource (id-partitioned REST document scan,
    sources/museum_api.py) run end-to-end — id splits fan out across
    partitions, each split fetches its documents, JSON bodies parse
    relationally — and hash-checked against the same rows read
    straight from parquet.

    The hermetic ``canned_json`` transport serves the per-id payloads
    (built here from the documents table, first 100 ids — bounded at
    every SF); it is the SAME reader code path as the live-HTTP
    transport minus the socket, so this pins the connector's
    partitioning, fetch loop, and Arrow return path, which were
    previously covered by pytest only.
    """
    import json as _json
    import os

    import pyarrow.parquet as pq

    from ..sources.museum_api import MuseumApiDataSource

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "lang", "n_chars"],
    ).to_pylist()
    canned = {
        str(r["doc_id"]): {"lang": r["lang"], "n_chars": int(r["n_chars"])}
        for r in tbl
        if r["doc_id"] < 100
    }
    ids = sorted(int(k) for k in canned)
    spark.dataSource.register(MuseumApiDataSource)
    raw = (
        spark.read.format("museum_api")
        .option("ids", ",".join(str(i) for i in ids))
        .option("canned_json", _json.dumps(canned))
        .option("partitions", "8")
        .load()
    )
    parsed = F.from_json(
        F.col("body"), "lang string, n_chars int"
    ).alias("doc")
    return raw.select(
        F.col("object_id").alias("doc_id"), "status", parsed
    ).select(
        "doc_id",
        "status",
        F.col("doc.lang").alias("lang"),
        F.col("doc.n_chars").cast("long").alias("n_chars"),
    )


@query(
    "stream_unconverted_clicks",
    oracle="""
    WITH clicks AS (
        SELECT user_id AS cu, event_id AS click_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id AS pu, event_id AS purchase_id, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ),
    -- Spark's GLOBAL watermark under the default min policy is the
    -- minimum of the per-side watermarks, and each side's watermark
    -- is computed over its own (post-filter) max event time — NOT
    -- max(ts) over all events (the sides see only their filtered
    -- streams).
    wm AS (
        -- if either side is EMPTY its Spark watermark never advances,
        -- the min-policy global watermark stays at epoch 0 and no
        -- null-extension ever emits; a bare least() would silently
        -- ignore the NULL side (DuckDB least skips NULLs)
        SELECT CASE WHEN (SELECT max(cts) FROM clicks) IS NULL
                      OR (SELECT max(pts) FROM purch) IS NULL THEN NULL
                    ELSE least((SELECT max(cts) FROM clicks),
                               (SELECT max(pts) FROM purch))
                         - INTERVAL 1 HOUR END AS w
    )
    SELECT cu AS user_id, click_id, purchase_id
    FROM clicks JOIN purch
      ON pu = cu AND pts >= cts AND pts <= cts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT cu AS user_id, click_id, CAST(NULL AS BIGINT) AS purchase_id
    FROM clicks
    WHERE NOT EXISTS (
        SELECT 1 FROM purch
        WHERE pu = cu AND pts >= cts AND pts <= cts + INTERVAL 30 MINUTE
    )
      AND cts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
    """,
    tags=("streaming", "stream-stream-join", "outer-join", "extension"),
)
def stream_unconverted_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join
    (streaming/events.py::stream_click_purchase_left_outer): clicks
    paired with in-window purchases, null-extended once the watermark
    proves no purchase can still arrive.

    Evidence-of-absence is the semantics only a watermark can
    certify on a stream; the oracle replays the emission rule exactly
    — unmatched clicks emit iff click_ts + 30 min < the final GLOBAL
    watermark, which under Spark's default min multiple-watermark
    policy is least(max click_ts, max purchase_ts) - 1 h (each side's
    watermark tracks its own post-filter stream). Younger clicks stay
    buffered at stream end. State for both sides evicts continuously
    at watermark + lag, the only viable shape on an unbounded stream.
    """
    import uuid

    from ..streaming.events import (
        events_stream,
        run_to_memory,
        stream_click_purchase_left_outer,
    )

    return run_to_memory(
        stream_click_purchase_left_outer(events_stream(spark, sf_dir)),
        f"q_louter_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )


@query(
    "stream_hourly_ohlc",
    oracle="""
    WITH e AS (
        SELECT date_trunc('hour', ts) AS window_start, value, ts, event_id,
               row_number() OVER (
                   PARTITION BY date_trunc('hour', ts)
                   ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (
                   PARTITION BY date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT window_start,
           max(CASE WHEN rn_a = 1 THEN value END) AS open_v,
           max(value) AS high_v,
           min(value) AS low_v,
           max(CASE WHEN rn_d = 1 THEN value END) AS close_v,
           CAST(count(*) AS BIGINT) AS n_events
    FROM e
    GROUP BY window_start
    """,
    tags=("streaming", "argmin", "timeseries", "extension"),
)
def stream_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``hourly_ohlc``: watermarked tumbling-window
    OHLC bars drained with availableNow (batch-equivalent), so the
    batch window-function oracle hash-checks the streaming argmin/
    argmax state machinery."""
    import uuid

    from ..streaming import events_stream, run_to_memory, stream_hourly_ohlc_bars

    return run_to_memory(
        stream_hourly_ohlc_bars(events_stream(spark, sf_dir)),
        f"q_ohlc_{uuid.uuid4().hex[:8]}",
    )
