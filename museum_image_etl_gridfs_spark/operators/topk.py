"""Distributed top-k per group without a per-group sort task.

The idiomatic ``row_number() OVER (PARTITION BY g ORDER BY …) <= k``
funnels EVERY row of a group through one window task — for a handful
of groups (brands, nations, anchor queries) that is a straggler at
any scale, and for a broadcast-fan-out input (ANN scoring: corpus ×
anchors) the straggler carries the whole fan-out (ADVICE r9).

:func:`grouped_topk` replaces it with the classic two-phase merge:

1. per ``(group, input-partition)`` partial top-k — ``collect_list``
   of ``(order-key…, row)`` structs, ``sort_array``, ``slice(…, k)``,
   all JVM-side; each group's partial is computed where its rows
   already sit and is CAPPED at k rows, so no reducer ever sees more
   than one input partition of any group;
2. per-group merge of the partials — ``flatten`` + ``sort_array`` +
   ``slice`` again over ≤ ``partitions × k`` structs per group.

Same single exchange as the window form (the fan-out crosses the wire
once either way), but reducer load is balanced by ``(group,
partition)`` instead of piling a group on one task, and the final
merge touches only the partial winners. Struct comparison is
lexicographic by field order, so DESC keys enter as their numeric
negation — the caller-facing contract below.

Contract:
- ``order_by`` must be a strict total order (include a tiebreak key)
  for a deterministic result — exactly ANSI ``row_number``'s own
  determinism rule;
- DESC keys must be numeric / timestamp (encoded order-reversed; a
  float/double DESC key gets a leading NaN-flag field so NaN sorts
  FIRST, matching ``desc()``'s NaN-is-largest rule, and integral keys
  negate through DECIMAL so Long.MIN_VALUE cannot overflow); ASC keys
  may be any orderable type;
- order keys must be non-NULL (engines disagree on NULL order, and a
  NULL field would poison the struct comparison);
- the input may not contain MapType columns anywhere in its schema —
  the full row rides inside the sort struct and maps are unorderable
  (a clear error is raised; serialize maps to json or drop them
  first).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def grouped_topk(
    df: DataFrame,
    group_keys: Sequence[str],
    order_by: Sequence[tuple[str, bool]],
    k: int,
    *,
    rn_col: str | None = None,
) -> DataFrame:
    """Keep the top-``k`` rows per ``group_keys`` under ``order_by``
    (list of ``(column, ascending)``), equivalent to

        row_number() OVER (PARTITION BY group_keys
                           ORDER BY order_by) <= k

    but with bounded per-task state (see module docstring). Output
    columns are ``df``'s, plus ``rn_col`` (1-based rank) if given.
    """
    gks = list(group_keys)
    maps = [
        f.name
        for f in df.schema.fields
        if "map<" in f.dataType.simpleString()
    ]
    if maps:
        raise ValueError(
            f"grouped_topk: input columns {maps!r} contain MapType — the "
            "full row is embedded in the sort struct and maps are "
            "unorderable; serialize them (to_json) or drop them first"
        )
    keys = []
    for i, (name, asc) in enumerate(order_by):
        c = F.col(name)
        if not asc:
            dt = df.schema[name].dataType
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
                c = -c.cast("double")
            elif isinstance(dt, (T.DoubleType, T.FloatType)):
                # desc() treats NaN as the LARGEST value; negation
                # leaves NaN as NaN, which sorts LAST ascending — so a
                # leading flag puts NaN rows first (flag 0) and the
                # negated finite value orders the rest
                keys.append(
                    F.when(F.isnan(c), F.lit(0)).otherwise(F.lit(1))
                    .alias(f"__k{i}n")
                )
                c = F.when(F.isnan(c), F.lit(0.0)).otherwise(-c)
            elif isinstance(dt, T.IntegralType):
                # negate through DECIMAL: -Long.MIN_VALUE overflows
                # bigint (wraps, or throws under ANSI)
                c = -c.cast("decimal(20,0)")
            elif isinstance(dt, T.NumericType):
                c = -c
            else:
                raise ValueError(
                    f"grouped_topk: DESC key {name!r} must be numeric or "
                    f"timestamp (struct sort is ascending; non-numeric "
                    f"types have no cheap order-reversing encoding)"
                )
        keys.append(c.alias(f"__k{i}"))
    item = F.struct(
        *keys, F.struct(*[F.col(c) for c in df.columns]).alias("__row")
    )
    partial = df.groupBy(*gks, F.spark_partition_id().alias("__p")).agg(
        F.slice(F.sort_array(F.collect_list(item)), 1, k).alias("__t")
    )
    merged = partial.groupBy(*gks).agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("__t"))), 1, k
        ).alias("__t")
    )
    exploded = merged.select(
        F.posexplode("__t").alias("__pos", "__it")
    ).select(
        F.col("__it.__row.*"),
        (F.col("__pos") + 1).cast("int").alias(rn_col or "__rn"),
    )
    return exploded if rn_col else exploded.drop("__rn")
