"""Distributed exact global order statistics — ntile / row_number /
running totals — without a global window.

A bare ``Window.orderBy`` (no partitionBy) moves every row into ONE
task: the classic scale-killer (measured 12x superlinear at sf1 on
the deciles query before this rewrite). ``repartitionByRange`` can't
fix it either — its split-point sampling reseeds per job, so
partition ids observed in one action don't match the next.

All operators here share one machinery:

1. range ids from driver-collected approx-quantile split points of
   the leading sort column (count-balanced, unlike equal-width
   ``width_bucket``) — the collected points are embedded as literals,
   so the id is codegen'd, value-monotone, and a pure function of the
   row (stable across jobs);
2. per-bucket partials (counts / sums) → the only ``collect()``,
   O(buckets) rows → broadcast
   cumulative offsets;
3. a WITHIN-bucket window for local positions / running sums;
4. global value = bucket offset + local value.

Every stage is n/p per task. Heavy-tailed lead keys are handled
explicitly: a lead VALUE whose mass exceeds one bucket (a dominant
price point, a customer with most of the orders) is detected from
repeated split points and SUB-BUCKETED by a monotone numeric
encoding of the SECOND sort key, so no single value can pin the
within-bucket sort to one task. Bucket membership stays exact; ties
that survive sub-bucketing (no second key, a second key without a
monotone encoding such as a string, or identical encodings) share a
bucket and are ordered by the window's full key list.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import plan_size_bytes
from .lifecycle import tracked_local_checkpoint


def _monotone_double(df: DataFrame, key: str) -> Column | None:
    """A double-valued expression weakly monotone in ``key``'s order.

    Used ONLY to sub-bucket rows that tie on the lead key — ties
    within the encoding stay in one bucket and are ordered by the
    window's full key list, so the encoding never has to be
    injective, only (weakly) order-preserving. Returns ``None`` for
    types without a cheap monotone encoding (strings among them).
    """
    dt = df.schema[key].dataType
    c = F.col(key)
    if isinstance(dt, T.NumericType) or isinstance(
        dt, (T.TimestampType, T.TimestampNTZType)
    ):
        return c.cast("double")
    if isinstance(dt, T.BooleanType):
        return c.cast("int").cast("double")
    if isinstance(dt, T.DateType):
        return c.cast("timestamp").cast("double")
    return None


def _with_range_pid(
    df: DataFrame, order_keys: Sequence[str], buckets_per_core: int
) -> DataFrame | None:
    """Append a job-stable, count-balanced range id ``__pid``.

    ``__pid`` is weakly monotone w.r.t. the ``order_keys`` total order
    (never splits two ordered rows across out-of-order buckets) and a
    pure function of the row given the embedded literals, so ids from
    one Spark job match the next — the property ``repartitionByRange``
    (which resamples split points per job) cannot give.

    Balance comes from two mechanisms layered over the probe:

    - split points are approx QUANTILES of the lead key (equal-count),
      not equal-width ranges — a lognormal/Zipf tail no longer crowds
      one bucket;
    - a lead value whose own mass exceeds a bucket (it repeats among
      the split points) becomes its own bucket *stratum*, sub-split by
      a monotone double encoding of the second sort key into
      ``ceil(count * nb / n)`` sub-buckets. Sub-splitting is skipped
      (one bucket, exact but unbalanced) when there is no second key,
      the second key has no monotone encoding (strings), NULL/NaN or
      a constant encoding, or two distinct lead values collide in
      double space — each a documented degenerate tie.

    Returns ``None`` for an empty input. Raises on NULL/NaN lead keys
    — engines disagree on their ordering (Spark NULLS FIRST vs DuckDB
    NULLS LAST) and a NULL id would be SILENTLY dropped by the offsets
    inner join.
    """
    lead = order_keys[0]
    spark = df.sparkSession
    nb = max(spark.sparkContext.defaultParallelism, 2) * buckets_per_core
    # The machinery reads its input 3-4x (probe, split points,
    # per-bucket partials, final join). A lazy checkpoint materializes
    # the upstream ONCE at the probe and pins its partitioning; without
    # it an expensive upstream (join + groupBy) re-executes per pass
    # (measured 17.7 s -> 4 s on the Gini query at sf0.1). Tracked so
    # lifecycle.release_checkpoints can reclaim the blocks once the
    # caller has materialized its result.
    df = tracked_local_checkpoint(df)
    # ONE probe job: guards + count-balanced split points together
    # (percentile_approx rides in the same aggregate — a separate
    # approxQuantile pass measurably showed up as per-call job-launch
    # overhead on multi-call queries at bench scale)
    mn, mx, n_null, n_nan, n, qs_raw = df.agg(
        F.min(lead),
        F.max(lead),
        F.count(F.when(F.col(lead).isNull(), 1)),
        F.count(F.when(F.isnan(F.col(lead).cast("double")), 1)),
        F.count(F.lit(1)),
        F.percentile_approx(
            F.col(lead).cast("double"),
            [i / nb for i in range(1, nb)],
            10000,
        ),
    ).first()
    if n_null:  # a NULL id would silently drop rows at the offsets join
        raise ValueError(f"global order op: NULL values in lead key {lead!r}")
    if n_nan:
        raise ValueError(f"global order op: NaN values in lead key {lead!r}")
    if mn is None:
        return None
    leadd = F.col(lead).cast("double")

    # count-balanced split points (collected once, embedded as
    # literals). A value repeated among the grid points carries
    # ~(c-1)/nb of the mass; it is HOT — worth the extra stats/
    # sub-split jobs — only when that mass exceeds a couple of target
    # buckets AND a small absolute floor (a tiny input where every
    # row spans several grid points must not trigger per-value
    # machinery: its buckets are already single-digit rows).
    seen: dict[float, int] = {}
    for v in qs_raw or []:
        seen[float(v)] = seen.get(float(v), 0) + 1
    hot_floor = max(2 * n / nb, 4)
    hots = sorted(
        v for v, c in seen.items() if c >= 2 and (c - 1) * n / nb > hot_floor
    )
    splits = sorted(set(seen) - set(hots))

    # per-hot-value stats decide whether a hot value can be sub-split
    # by the second key (0 extra jobs for smooth keys — `hots` is
    # empty whenever no single value fills a bucket — and for second
    # keys without a monotone encoding)
    sub: dict[float, tuple[int, Column]] = {h: (1, F.lit(1)) for h in hots}
    second = order_keys[1] if len(order_keys) > 1 else None
    enc2 = _monotone_double(df, second) if second is not None else None
    if hots and enc2 is not None:
        enc_k: dict[float, int] = {}  # hot -> target sub-bucket count
        for r in (
            df.filter(leadd.isin(hots))
            .groupBy(leadd.alias("__h"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min(lead).alias("vmin"),
                F.max(lead).alias("vmax"),
                (F.count(F.lit(1)) - F.count(second)).alias("enull"),
                F.min(enc2).alias("emin"),
                F.max(enc2).alias("emax"),
                F.count(F.when(F.isnan(enc2), 1)).alias("enan"),
            )
        ).collect():
            k = min(math.ceil(r["cnt"] * nb / max(n, 1)), nb)
            # two distinct lead values collapsing to one double may NOT
            # be interleaved by the second key (lead order wins) — keep
            # a collapsed group in a single bucket; likewise NULL/NaN
            # second keys (engines disagree on their order)
            if (
                k > 1
                and r["vmin"] == r["vmax"]
                and not r["enull"]
                and not r["enan"]
                and r["emin"] is not None
                and r["emin"] != r["emax"]
            ):
                enc_k[float(r["__h"])] = k
        if enc_k:
            # COUNT-BALANCED sub-split points: per-group approx
            # quantiles of the encoding (equal-width bucketing fails on
            # clustered encodings). One job for ALL groups.
            kmax = max(enc_k.values())
            probs = [i / kmax for i in range(1, kmax)]
            qrows = (
                df.filter(leadd.isin(list(enc_k)))
                .groupBy(leadd.alias("__h"))
                .agg(F.percentile_approx(enc2, probs, 10000).alias("qs"))
            ).collect()
            for r in qrows:
                h = float(r["__h"])
                k = enc_k[h]
                # keep ~k of the kmax-grid points (dedup handles
                # encoding ties); membership below is `point < enc`,
                # a pure function of the row once embedded
                step = max(len(r["qs"]) // k, 1) if r["qs"] else 1
                pts = sorted(set(r["qs"][::step] if r["qs"] else []))
                if not pts:
                    continue
                arr = F.array(*[F.lit(p) for p in pts])
                sub[h] = (
                    len(pts) + 1,
                    F.size(F.filter(arr, lambda p: p < enc2)) + 1,
                )

    # stratum: 2*(# hot values below) + 1 if ON a hot value — strictly
    # interleaves hot-value strata with the open intervals between them
    if hots:
        hot_arr = F.array(*[F.lit(h) for h in hots])
        key1 = F.size(F.filter(hot_arr, lambda h: h < leadd)) * 2 + F.when(
            F.array_contains(hot_arr, leadd), 1
        ).otherwise(0)
    else:
        key1 = F.lit(0)

    # within-stratum bucket: quantile searchsorted for interval strata,
    # second-key width_bucket for hot strata
    if splits:
        split_arr = F.array(*[F.lit(s) for s in splits])
        key2 = F.size(F.filter(split_arr, lambda s: s < leadd))
    else:
        key2 = F.lit(0)
    width = max([len(splits)] + [k for k, _ in sub.values()] + [1]) + 1
    for h, (_, branch_expr) in sub.items():
        key2 = F.when(leadd == F.lit(h), branch_expr).otherwise(key2)

    # long, not int: pid is O(2*nb^2) with nb = defaultParallelism *
    # buckets_per_core — int32 would silently wrap around nb ~ 33k
    # (plausible at extreme cluster parallelism) and corrupt bucket
    # ordering in non-ANSI mode
    return df.withColumn(
        "__pid", (key1.cast("long") * F.lit(width) + key2).cast("long")
    )


#: offsets up to this size are embedded as a literal map lookup —
#: no broadcast exchange, no join node (and no surface for Catalyst's
#: cross-side constraint pushdown, which miscompiles a join whose key
#: is an alias of a higher-order-function expression when the
#: checkpointed source carries ordering metadata, e.g. spark.range).
#: Larger offset tables (extreme parallelism) fall back to a
#: broadcast join: a multi-MB literal in the plan would break codegen.
_MAP_MAX = 4096


def _offset_lookup(offsets: dict[int, object], dt) -> Column | None:
    """``element_at(<literal map>, __pid)`` when the offset table is
    small enough to embed; None → caller uses the broadcast join."""
    if len(offsets) > _MAP_MAX:
        return None
    entries = []
    for p in sorted(offsets):
        v = offsets[p]
        entries.append(F.lit(int(p)).cast("long"))
        entries.append(
            F.lit(None).cast(dt) if v is None else F.lit(v).cast(dt)
        )
    return F.element_at(F.create_map(*entries), F.col("__pid"))


def _global_positions(
    df: DataFrame, order_keys: Sequence[str], buckets_per_core: int
) -> tuple[DataFrame, int] | None:
    """(df + ``__gpos`` global 1-based row number, total row count)."""
    t = _with_range_pid(df, order_keys, buckets_per_core)
    if t is None:
        return None
    spark = df.sparkSession
    cnt = {
        r["__pid"]: r["cnt"]
        for r in t.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = sum(cnt.values())
    offsets, acc = {}, 0
    for pid in sorted(cnt):
        offsets[pid] = acc
        acc += cnt[pid]
    look = _offset_lookup(offsets, T.LongType())
    if look is not None:
        t = t.withColumn("__off", look)
    else:
        off = F.broadcast(
            spark.createDataFrame(
                [(int(p), int(o)) for p, o in offsets.items()],
                "__pid long, __off long",
            )
        )
        t = t.join(off, "__pid")
    local = Window.partitionBy("__pid").orderBy(*order_keys)
    pos = t.withColumn(
        "__gpos", F.col("__off") + F.row_number().over(local)
    )
    return pos, n


def global_row_number(
    df: DataFrame,
    order_keys: Sequence[str],
    *,
    out_col: str = "row_num",
    buckets_per_core: int = 4,
) -> DataFrame:
    """Append ``out_col`` = ``row_number() OVER (ORDER BY order_keys)``
    with no single-task stage.

    The first key must be numeric and NON-NULL/NaN-free; the full key
    list must be a strict total order for deterministic numbering.
    """
    got = _global_positions(df, order_keys, buckets_per_core)
    if got is None:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    pos, _ = got
    return pos.withColumnRenamed("__gpos", out_col).drop("__pid", "__off")


def running_totals(
    df: DataFrame,
    order_keys: Sequence[str],
    value_cols: Sequence[str],
    *,
    prefix: str = "cum_",
    buckets_per_core: int = 4,
) -> DataFrame:
    """Append ``prefix + c`` = running ``SUM(c) OVER (ORDER BY
    order_keys ROWS UNBOUNDED PRECEDING)`` for each value column,
    distributively (the two-pass prefix-sum: per-bucket totals →
    broadcast exclusive offsets → within-bucket running window).

    Value columns should be exact types (integral / DECIMAL) so the
    result is independent of bucket boundaries; NULL values are not
    supported (the offset arithmetic would silently treat them as 0).
    """
    # the SUM-widened result type per value column (long for ints,
    # widened decimal) — used by BOTH the empty and non-empty paths so
    # the output schema never depends on whether the input had rows
    sum_types = {
        f.name: f.dataType
        for f in df.groupBy()
        .agg(*[F.sum(c).alias(f"__off_{c}") for c in value_cols])
        .schema.fields
    }
    t = _with_range_pid(df, order_keys, buckets_per_core)
    if t is None:
        out = df
        for c in value_cols:
            out = out.withColumn(
                prefix + c, F.col(c).cast(sum_types[f"__off_{c}"])
            )
        return out
    spark = df.sparkSession
    # per-bucket NULL counts ride along in the same aggregate pass:
    # SUM ignores NULLs, so a bucket with SOME NULLs would pass a
    # sum-is-NULL check yet yield NULL running totals for rows before
    # the bucket's first non-NULL (NULL + offset = NULL), where real
    # SQL running sums would carry the prior-bucket offset — refuse
    # loudly instead of diverging silently (mirrors the lead-key
    # NULL/NaN guard in _with_range_pid).
    agg_df = t.groupBy("__pid").agg(
        *[F.sum(c).alias(f"__off_{c}") for c in value_cols],
        *[
            (F.count(F.lit(1)) - F.count(c)).alias(f"__nulls_{c}")
            for c in value_cols
        ],
    )
    by_pid = {r["__pid"]: r for r in agg_df.collect()}
    rows, acc = [], {c: None for c in value_cols}
    for pid in sorted(by_pid):
        rows.append((int(pid), *[acc[c] for c in value_cols]))
        for c in value_cols:
            if by_pid[pid][f"__nulls_{c}"]:
                raise ValueError(
                    f"running_totals: NULL values in {c!r} are not "
                    "supported (running-sum carry would diverge from "
                    "SQL semantics)"
                )
            v = by_pid[pid][f"__off_{c}"]
            if v is None:
                raise ValueError(f"running_totals: NULL sum in {c!r}")
            acc[c] = v if acc[c] is None else acc[c] + v
    # offsets carry the SUM's type (e.g. long for ints, widened
    # decimal) — never the narrower input type
    look_ok = len(rows) <= _MAP_MAX
    if look_ok:
        out = t
        for ci, c in enumerate(value_cols):
            out = out.withColumn(
                f"__off_{c}",
                _offset_lookup(
                    {r[0]: r[1 + ci] for r in rows}, sum_types[f"__off_{c}"]
                ),
            )
    else:
        from pyspark.sql.types import StructType

        off_schema = StructType(
            [
                f
                for f in agg_df.schema.fields
                if not f.name.startswith("__nulls_")
            ]
        )
        out = t.join(F.broadcast(spark.createDataFrame(rows, off_schema)), "__pid")
    local = (
        Window.partitionBy("__pid")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in value_cols:
        dt = sum_types[f"__off_{c}"]
        out = out.withColumn(
            prefix + c,
            # the + may widen decimals one more digit; cast back to the
            # sum type (lossless — a prefix sum is bounded by the total)
            (
                F.sum(c).over(local)
                + F.coalesce(F.col(f"__off_{c}"), F.lit(0).cast(dt))
            ).cast(dt),
        )
    return out.drop("__pid", *[f"__off_{c}" for c in value_cols])


def running_totals_grouped(
    df: DataFrame,
    group_keys: Sequence[str],
    order_keys: Sequence[str],
    value_cols: Sequence[str],
    *,
    prefix: str = "cum_",
    buckets_per_core: int = 4,
) -> DataFrame:
    """Append ``prefix + c`` = running ``SUM(c) OVER (PARTITION BY
    group_keys ORDER BY order_keys ROWS UNBOUNDED PRECEDING)`` for
    each value column — the grouped sibling of :func:`running_totals`,
    with the same pathology warning as :func:`grouped_rank_stats`: a
    window partitioned by a low-cardinality group (source, shard,
    tenant) pushes every row of the biggest group through ONE task.

    Shape: range buckets over the ORDER keys, per-``(group, bucket)``
    value sums, per-group EXCLUSIVE prefix offsets computed as a
    window over the tiny O(groups × buckets) sums relation (never
    collected — unlike the global variant's driver lookup), broadcast
    back, then a within-``(group, bucket)`` running window.

    Contracts shared with :func:`running_totals`: exact value types
    (integral / DECIMAL) so bucket boundaries can't change the result;
    NULL values refused loudly; ``order_keys`` must totally order rows
    within each group for a deterministic running sum (ANSI's own
    rule). The offsets relation must be broadcastable: group
    cardinalities up to ~10⁵.
    """
    sum_types = {
        f.name: f.dataType
        for f in df.groupBy()
        .agg(*[F.sum(c).alias(f"__off_{c}") for c in value_cols])
        .schema.fields
    }
    t = _with_range_pid(df, order_keys, buckets_per_core)
    if t is None:
        out = df
        for c in value_cols:
            out = out.withColumn(
                prefix + c, F.col(c).cast(sum_types[f"__off_{c}"])
            )
        return out
    gks = list(group_keys)
    # NULL guard: one tiny job over the (checkpointed) input — a NULL
    # value would silently become a NULL running sum for every row of
    # its bucket before the first non-NULL
    nulls = t.groupBy().agg(
        *[(F.count(F.lit(1)) - F.count(c)).alias(c) for c in value_cols]
    ).first()
    for c in value_cols:
        if nulls[c]:
            raise ValueError(
                f"running_totals_grouped: NULL values in {c!r} are not "
                "supported (running-sum carry would diverge from SQL "
                "semantics)"
            )
    agg = t.groupBy(*gks, "__pid").agg(
        *[F.sum(c).alias(f"__s_{c}") for c in value_cols]
    )
    wo = (
        Window.partitionBy(*gks)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = agg.select(
        *gks,
        "__pid",
        *[
            F.coalesce(
                F.sum(f"__s_{c}").over(wo),
                F.lit(0).cast(sum_types[f"__off_{c}"]),
            ).alias(f"__off_{c}")
            for c in value_cols
        ],
    )
    # eager checkpoint before the self-join — same constraint-
    # inference lambda-capture hazard as _join_grouped_offsets
    offs = tracked_local_checkpoint(offs, eager=True)
    out = _nullsafe_offsets_join(t, offs, gks)
    local = (
        Window.partitionBy(*gks, "__pid")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in value_cols:
        dt = sum_types[f"__off_{c}"]
        out = out.withColumn(
            prefix + c,
            (F.sum(c).over(local) + F.col(f"__off_{c}")).cast(dt),
        )
    return out.drop("__pid", *[f"__off_{c}" for c in value_cols])


def _nullsafe_offsets_join(
    t: DataFrame, offs: DataFrame, gks: list[str]
) -> DataFrame:
    """Inner-join ``t`` onto the broadcast offsets relation on
    ``(group keys, __pid)`` with NULL-SAFE equality on the group keys.

    ANSI windows keep a NULL partition key as its own partition (and
    the DuckDB oracles do too); a plain equality join here would
    silently DROP every row whose group key is NULL — the one place
    in the grouped machinery where NULL groups could vanish without a
    trace (``_with_range_pid`` already raises loudly on NULL ORDER
    keys). ``__pid`` itself is never NULL.

    Mechanism: each group key is wrapped in a one-field struct on
    both sides and the join stays a name-list USING join — struct
    ``EqualTo`` compares fields null-safely (the classic null-safe
    join idiom), and the name-list form keeps the plan in the shape
    the eager offsets checkpoint already protects. An explicit
    ``eqNullSafe`` join CONDITION was tried and rejected: under a
    self-referencing compare (subtract against a same-lineage window)
    Catalyst's attribute dedup re-binds the condition against the
    deduplicated branch and dies with INTERNAL_ERROR_ATTRIBUTE_NOT_
    FOUND — the same inference hazard documented at the checkpoint
    site below.
    """
    jks = []
    for i, g in enumerate(gks):
        jk = f"__gjk_{i}"
        wrapped = F.struct(F.col(g).alias("v")).alias(jk)
        t = t.withColumn(jk, wrapped)
        offs = offs.withColumn(jk, wrapped).drop(g)
        jks.append(jk)
    return t.join(F.broadcast(offs), [*jks, "__pid"]).drop(*jks)


def _join_grouped_offsets(t: DataFrame, gks: list[str]) -> DataFrame:
    """Join per-``(group, __pid)`` exclusive prefix counts back onto
    ``t`` as ``__goff`` (rows of the group in earlier buckets) and
    ``__gn`` (group total).

    The counts relation has O(groups × buckets) rows; its prefix sums
    are a WINDOW over the counts relation itself (each window
    partition holds ≤ ``buckets`` rows — never a single-task stage
    over data) and the result is broadcast to the join.
    """
    cnts = t.groupBy(*gks, "__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    wo = (
        Window.partitionBy(*gks)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wg = Window.partitionBy(*gks)
    offs = cnts.select(
        *gks,
        "__pid",
        F.coalesce(F.sum("__cnt").over(wo), F.lit(0)).alias("__goff"),
        F.sum("__cnt").over(wg).alias("__gn"),
    )
    # EAGER checkpoint of the O(groups × buckets) offsets before the
    # self-join: with both join branches sharing the __pid alias
    # lineage, Catalyst's constraint inference pushes a filter into
    # the deduplicated right branch whose HOF lambda still captures
    # the LEFT side's attribute (unrewritten lambda body), and
    # execution dies with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on some
    # single-order-key inputs. An opaque (materialized) right side
    # leaves the inference nothing to substitute into — and the tiny
    # relation is computed once instead of per consumer.
    offs = tracked_local_checkpoint(offs, eager=True)
    return _nullsafe_offsets_join(t, offs, gks)


def grouped_rank_stats(
    df: DataFrame,
    group_keys: Sequence[str],
    order_keys: Sequence[str],
    *,
    row_number_col: str | None = None,
    rank_col: str | None = None,
    percent_rank_col: str | None = None,
    cume_dist_col: str | None = None,
    n_col: str | None = None,
    ntile_k: int | None = None,
    ntile_col: str = "bucket",
    buckets_per_core: int = 4,
) -> DataFrame:
    """Append exact per-group rank statistics — any of ``row_number``
    / ``rank`` / ``percent_rank`` / ``cume_dist`` / ``ntile(k)``
    (``ntile_k`` buckets into ``ntile_col``) / group size —
    equivalent to the ANSI windows

        <fn>() OVER (PARTITION BY group_keys ORDER BY order_keys)

    with NO per-group global sort. Same pathology and same cure as
    :func:`ntile_exact_grouped`: a window partitioned by a
    low-cardinality group (language, market segment, tenant) funnels
    every row of the biggest group through ONE task; here the rows
    keep their count-balanced range bucket (``__pid`` from
    :func:`_with_range_pid`) and only per-``(group, bucket)`` offsets
    travel (O(groups × buckets), broadcast — see
    :func:`_join_grouped_offsets`).

    Exact ANSI tie semantics: ``__pid`` is a pure weakly-monotone
    function of the order-key VALUES (hot-value sub-bucketing splits
    only by the SECOND key, and only when the lead value is unique in
    double space — ``_with_range_pid``), so rows tied on the full
    ``order_keys`` list always share one ``__pid`` and tie handling
    is local to the within-bucket window:

    - ``rank``       = ``__goff + rank() OVER (group, pid ORDER BY keys)``
      (1 + rows strictly below — ANSI RANK);
    - ``percent_rank`` = ``(rank − 1) / (n − 1)`` (0.0 for n = 1) —
      exact integers into one IEEE division, bit-identical across
      engines;
    - ``cume_dist``  = ``(rank − 1 + ties) / n`` where ``ties`` is the
      tie-group size (a count over the unordered window partitioned by
      ``(group, pid, *order_keys)`` — rows ≤ current value);
    - ``row_number`` = ``__goff + row_number()`` — deterministic only
      when ``order_keys`` is a strict total order (caller's contract,
      as in ANSI).

    Contract: offsets relation O(groups × buckets) and broadcast —
    group cardinalities up to ~10⁵, not per-user grouping. Order-key
    rules are :func:`ntile_exact`'s: numeric non-NULL lead key.
    """
    outs = {
        c: None
        for c in (
            row_number_col, rank_col, percent_rank_col, cume_dist_col, n_col
        )
        if c is not None
    }
    if ntile_k is not None:
        outs[ntile_col] = None
    if not outs:
        raise ValueError("grouped_rank_stats: no output column requested")
    t = _with_range_pid(df, order_keys, buckets_per_core)
    if t is None:
        out = df
        for c in outs:
            if c in (percent_rank_col, cume_dist_col):
                dt = "double"
            elif ntile_k is not None and c == ntile_col:
                dt = "int"
            else:
                dt = "bigint"
            out = out.withColumn(c, F.lit(None).cast(dt))
        return out
    gks = list(group_keys)
    t = _join_grouped_offsets(t, gks)
    local = Window.partitionBy(*gks, "__pid").orderBy(*order_keys)
    gn = F.col("__gn")
    rk = (F.col("__goff") + F.rank().over(local)).cast("bigint")
    if row_number_col:
        t = t.withColumn(
            row_number_col,
            (F.col("__goff") + F.row_number().over(local)).cast("bigint"),
        )
    if rank_col:
        t = t.withColumn(rank_col, rk)
    if percent_rank_col:
        t = t.withColumn(
            percent_rank_col,
            F.when(gn == 1, F.lit(0.0)).otherwise(
                (rk - F.lit(1)).cast("double") / (gn - F.lit(1)).cast("double")
            ),
        )
    if cume_dist_col:
        ties = F.count(F.lit(1)).over(
            Window.partitionBy(*gks, "__pid", *order_keys)
        )
        t = t.withColumn(
            cume_dist_col,
            (rk - F.lit(1) + ties).cast("double") / gn.cast("double"),
        )
    if n_col:
        t = t.withColumn(n_col, gn.cast("bigint"))
    if ntile_k is not None:
        # ANSI ntile arithmetic over the exact per-group row number
        # (first n % k buckets get ceil(n/k) rows) — same expression
        # as ntile_exact_grouped, reusing this call's gpos
        gpos = F.col("__goff") + F.row_number().over(local)
        base = F.floor(gn / ntile_k)
        rem = gn % ntile_k
        cut = rem * (base + 1)
        bucket = F.when(gpos <= cut, (gpos - 1) / (base + 1)).otherwise(
            rem + (gpos - cut - 1) / F.greatest(base, F.lit(1))
        )
        t = t.withColumn(ntile_col, (F.floor(bucket) + 1).cast("int"))
    return t.drop("__pid", "__goff", "__gn")


#: input-size ceiling (bytes, Catalyst optimized-plan estimate) under
#: which :func:`grouped_percentiles_auto` uses Spark's own Percentile
#: aggregate. Measured at sf1 (60M lineitem rows): the buffer path
#: runs the whole MAD query in ~6 s where the rank machinery takes
#: 17 s (median) + 71 s (MAD) — the machinery pays an input
#: checkpoint + probe + counts + full within-bucket sort, while
#: Percentile's buffer is an OpenHashMap of value→count (O(distinct
#: values) per group, NOT O(rows) — tiny for integral domains like
#: quantities). The machinery is the escape hatch for CONTINUOUS
#: value domains at corpus scale, where that map degenerates to
#: O(rows)/group.
PCTL_BUFFER_MAX_BYTES = 4 << 30


def grouped_percentiles_auto(
    df: DataFrame,
    group_keys: Sequence[str],
    value_col: str,
    ps: Sequence[float],
    *,
    out_cols: Sequence[str],
    buckets_per_core: int = 4,
) -> DataFrame:
    """Exact grouped percentiles with a SCALE-ADAPTIVE plan: below the
    input-size gate, one ``F.percentile`` aggregate (single pass,
    per-group value-count map — the measured-fastest exact form at
    every SF the driver benches, see ``PCTL_BUFFER_MAX_BYTES``); above
    it, :func:`grouped_exact_percentiles` (bounded per-task state, no
    value buffers). Both paths are bit-identical —
    ``grouped_exact_percentiles`` reproduces Percentile's
    interpolation arithmetic term for term, pinned against
    ``F.percentile`` itself in tests/test_quantiles.py — so the gate
    can never move a query's oracle hash.

    NULL values are skipped on both sides (a group with no non-NULL
    value gets NULL percentiles); a NaN value fails the query on both
    sides with the same message — NaN has no order the engines agree
    on.
    """
    if len(ps) != len(out_cols) or not ps:
        raise ValueError(
            "grouped_percentiles_auto: |ps| must equal |out_cols| >= 1"
        )
    est = plan_size_bytes(df)
    if isinstance(df.schema[value_col].dataType, (T.FloatType, T.DoubleType)):
        v = F.col(value_col)
        nan_msg = f"NaN in value column {value_col!r}: it has no agreed order"
        df = df.withColumn(
            value_col,
            F.when(F.isnan(v), F.raise_error(F.lit(nan_msg))).otherwise(v),
        )
    if est is not None and est <= PCTL_BUFFER_MAX_BYTES:
        return df.groupBy(*group_keys).agg(
            *[
                F.percentile(value_col, F.lit(float(p))).alias(o)
                for p, o in zip(ps, out_cols)
            ]
        )
    out = grouped_exact_percentiles(
        df.filter(F.col(value_col).isNotNull()),
        group_keys,
        value_col,
        ps,
        out_cols=out_cols,
        buckets_per_core=buckets_per_core,
    )
    if not group_keys:
        return out
    all_null = (
        df.groupBy(*group_keys)
        .agg(F.count(value_col).alias("__nv"))
        .filter(F.col("__nv") == 0)
        .select(
            *group_keys, *[F.lit(None).cast("double").alias(o) for o in out_cols]
        )
    )
    return out.unionByName(all_null)


def grouped_exact_percentiles(
    df: DataFrame,
    group_keys: Sequence[str],
    value_col: str,
    ps: Sequence[float],
    *,
    out_cols: Sequence[str],
    buckets_per_core: int = 4,
) -> DataFrame:
    """One row per group: ``out_cols[i]`` = exact
    ``percentile(value_col, ps[i])`` — WITHOUT per-group value
    buffers.

    Spark's exact ``Percentile`` aggregate buffers EVERY value of a
    group in one ObjectHashAggregate buffer; partitioned by a
    low-cardinality key (return flag, language) that is an unbounded
    single-buffer sort at corpus scale — the same pathology
    :func:`ntile_exact_grouped` removes for window ntile. Here the
    percentile is reproduced from exact order statistics instead:

    1. per-group global row numbers + group sizes from
       :func:`grouped_rank_stats` (count-balanced range buckets over
       the VALUE, per-(group, bucket) offsets — every stage n/p per
       task, state bounded by bucket size);
    2. for each requested ``p``, only the one or two rows at the
       interpolation ranks ``floor/ceil(p·(n−1))`` survive a filter;
    3. a final tiny per-group aggregate (O(groups × |ps|) rows) picks
       the boundary values and interpolates.

    The interpolation reproduces ``Percentile.getPercentile``'s
    arithmetic term for term — ``(higher − pos)·v_lo + (pos −
    lower)·v_hi`` on doubles (NOT the algebraically equal ``v_lo +
    (v_hi − v_lo)·frac``, which differs in the last ulp) — pinned by
    ``tests/test_quantiles.py`` against ``F.percentile`` itself, so
    swapping a query onto this operator cannot move its oracle hash.

    Contracts: ``value_col`` numeric and NULL/NaN-free (Percentile
    skips NULLs; this operator refuses them loudly via the range-id
    probe, same as every operator in this module), group keys
    NULL-safe (rank machinery handles NULL groups), ties in the value
    are interchangeable at equal rank (equal values — interpolation
    result identical regardless of which tied row takes which rank).
    """
    if len(ps) != len(out_cols) or not ps:
        raise ValueError("grouped_exact_percentiles: |ps| must equal |out_cols| >= 1")
    for p in ps:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile {p} outside [0, 1]")
    gks = list(group_keys)
    t = grouped_rank_stats(
        df.select(*gks, value_col),
        gks,
        [value_col],
        row_number_col="__rn",
        n_col="__n",
        buckets_per_core=buckets_per_core,
    )
    # 0-based rank + the interpolation positions for every p; a row
    # survives iff it sits AT some p's floor or ceil rank. All pure
    # row-local arithmetic on (__rn, __n) — no extra shuffle before
    # the final tiny aggregate.
    i0 = (F.col("__rn") - 1).cast("double")
    keep = F.lit(False)
    for p in ps:
        pos = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        keep = keep | (i0 == F.floor(pos)) | (i0 == F.ceil(pos))
    picked = t.filter(keep).select(
        *gks,
        i0.alias("__i"),
        F.col("__n").alias("__gn2"),
        F.col(value_col).cast("double").alias("__v"),
    )
    aggs = []
    for p, out in zip(ps, out_cols):
        pos = F.lit(float(p)) * (F.col("__gn2") - 1).cast("double")
        v_lo = F.max(F.when(F.col("__i") == F.floor(pos), F.col("__v")))
        v_hi = F.max(F.when(F.col("__i") == F.ceil(pos), F.col("__v")))
        pos0 = F.lit(float(p)) * (F.max("__gn2") - 1).cast("double")
        aggs.append(
            F.when(F.ceil(pos0) == F.floor(pos0), v_lo)
            .otherwise(
                (F.ceil(pos0) - pos0) * v_lo + (pos0 - F.floor(pos0)) * v_hi
            )
            .alias(out)
        )
    return picked.groupBy(*gks).agg(*aggs)


def ntile_exact_grouped(
    df: DataFrame,
    group_keys: Sequence[str],
    order_keys: Sequence[str],
    k: int,
    *,
    out_col: str = "bucket",
    buckets_per_core: int = 4,
) -> DataFrame:
    """Append ``out_col`` = exact ``ntile(k) OVER (PARTITION BY
    group_keys ORDER BY order_keys)`` with no per-group global sort.

    ``ntile`` partitioned by a low-cardinality group (language,
    source, tenant) is the classic hidden scale-killer: every row of
    a group flows through ONE window task, so the biggest language of
    a 100 TB corpus becomes a single-task sort. This operator reuses
    the global range-id machinery — count-balanced ``__pid`` buckets
    over the ORDER keys — and layers the grouping on top:

    1. ``__pid`` from :func:`_with_range_pid` (group-agnostic — the
       buckets balance the overall order-key distribution; any one
       group's rows within a bucket are bounded by the bucket size);
    2. per ``(group, __pid)`` counts → per-group exclusive prefix
       sums + totals, computed as a WINDOW over the counts relation
       itself (O(groups × buckets) rows — never collected, never a
       single-task stage over data);
    3. broadcast-join the offsets back, within-``(group, __pid)``
       ``row_number`` → exact per-group rank → ANSI ntile arithmetic
       (first ``n % k`` buckets get ``⌈n/k⌉`` rows) as columns.

    Contract: the offsets relation has ``groups × buckets`` rows and
    is broadcast — intended for group cardinalities up to ~10⁵
    (languages, sources), not per-user grouping. Order-key rules are
    :func:`ntile_exact`'s: numeric non-NULL lead key, strict total
    order over the full key list.
    """
    t = _with_range_pid(df, order_keys, buckets_per_core)
    if t is None:
        return df.withColumn(out_col, F.lit(None).cast("int"))
    gks = list(group_keys)
    t = _join_grouped_offsets(t, gks)
    local = Window.partitionBy(*gks, "__pid").orderBy(*order_keys)
    gpos = F.col("__goff") + F.row_number().over(local)
    base = F.floor(F.col("__gn") / k)
    rem = F.col("__gn") % k
    cut = rem * (base + 1)
    bucket = F.when(gpos <= cut, (gpos - 1) / (base + 1)).otherwise(
        rem + (gpos - cut - 1) / F.greatest(base, F.lit(1))
    )
    return t.withColumn(out_col, (F.floor(bucket) + 1).cast("int")).drop(
        "__pid", "__goff", "__gn"
    )


def ntile_exact(
    df: DataFrame,
    order_keys: Sequence[str],
    k: int,
    *,
    out_col: str = "bucket",
    buckets_per_core: int = 4,
) -> DataFrame:
    """Append ``out_col`` = exact ``ntile(k)`` over the total order
    ``order_keys`` (the first key must be numeric and NON-NULL —
    engines disagree on NULL ordering (Spark NULLS FIRST vs DuckDB
    NULLS LAST), so a NULL lead key has no portable bucket; the full
    key list must be a strict total order for deterministic
    membership).

    Equivalent to ``ntile(k) OVER (ORDER BY order_keys)`` — verified
    against DuckDB in the decile queries — but with no single-task
    stage.
    """
    got = _global_positions(df, order_keys, buckets_per_core)
    if got is None:
        return df.withColumn(out_col, F.lit(None).cast("int"))
    pos, n = got
    base, rem = n // k, n % k
    cut = rem * (base + 1)
    bucket = (
        F.when(F.col("__gpos") <= cut, (F.col("__gpos") - 1) / (base + 1))
        .otherwise(rem + (F.col("__gpos") - cut - 1) / max(base, 1))
    )
    return (
        pos.withColumn(out_col, (F.floor(bucket) + 1).cast("int"))
        .drop("__pid", "__off", "__gpos")
    )
