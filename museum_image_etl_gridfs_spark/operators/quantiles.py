"""Distributed exact global order statistics — ``ntile_exact``,
``global_row_number`` and ``running_totals`` — without a global window.
There is no per-group variant: a ``PARTITION BY`` window is left to
Spark's own window operator.

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

from .lifecycle import tracked_local_checkpoint

#: range buckets per core: ``_with_range_pid`` cuts the lead key into
#: ``max(defaultParallelism, 2) * _BUCKETS_PER_CORE`` count-balanced
#: buckets.
_BUCKETS_PER_CORE = 4


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


def _with_range_pid(df: DataFrame, order_keys: Sequence[str]) -> DataFrame | None:
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
    nb = max(spark.sparkContext.defaultParallelism, 2) * _BUCKETS_PER_CORE
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
    # _BUCKETS_PER_CORE — int32 would silently wrap around nb ~ 33k
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
    df: DataFrame, order_keys: Sequence[str]
) -> tuple[DataFrame, int] | None:
    """(df + ``__gpos`` global 1-based row number, total row count)."""
    t = _with_range_pid(df, order_keys)
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
) -> DataFrame:
    """Append ``out_col`` = ``row_number() OVER (ORDER BY order_keys)``
    with no single-task stage.

    The first key must be numeric and NON-NULL/NaN-free; the full key
    list must be a strict total order for deterministic numbering.
    """
    got = _global_positions(df, order_keys)
    if got is None:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    pos, _ = got
    return pos.withColumnRenamed("__gpos", out_col).drop("__pid", "__off")


def running_totals(
    df: DataFrame,
    order_keys: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """Append ``"cum_" + c`` = running ``SUM(c) OVER (ORDER BY
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
    t = _with_range_pid(df, order_keys)
    if t is None:
        out = df
        for c in value_cols:
            out = out.withColumn(
                "cum_" + c, F.col(c).cast(sum_types[f"__off_{c}"])
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
            "cum_" + c,
            # the + may widen decimals one more digit; cast back to the
            # sum type (lossless — a prefix sum is bounded by the total)
            (
                F.sum(c).over(local)
                + F.coalesce(F.col(f"__off_{c}"), F.lit(0).cast(dt))
            ).cast(dt),
        )
    return out.drop("__pid", *[f"__off_{c}" for c in value_cols])


def ntile_exact(
    df: DataFrame,
    order_keys: Sequence[str],
    k: int,
    *,
    out_col: str = "bucket",
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
    got = _global_positions(df, order_keys)
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
