"""Connected components — the clustering step of near-dup
deduplication (pairs -> clusters -> one canonical doc per cluster).

LSH/MinHash emits PAIRS; a training pipeline needs CLUSTERS (a dup
chain a-b, b-c must collapse to one survivor). That closure is a
fixpoint no single non-recursive SQL query expresses, so its queries
are checked by rows, goldens or a recursive-CTE oracle.

Algorithm: one numpy union-find over the whole edge list, run in a
single grouped-map Python stage (``groupBy(<constant>).applyInArrow``).
``np.unique`` maps ids to dense indices in id order; each round hooks
the larger ROOT of every edge whose endpoints' roots still differ
under the smaller (``np.minimum.at``), then pointer-jumps
``parent = parent[parent]`` to a fixpoint. Every hook points a root at
a smaller index, so each component ends rooted at its least index —
its min id, as ``np.unique`` sorts: the result is the min reachable
id, whatever the graph's diameter. Rounds shrink the
unresolved edge set geometrically in practice (a randomly relabelled
10^6-vertex chain resolves in 13); hooking LABELS instead of roots is
quadratic in chain length.

The stage is lazy: building it runs no Spark job and creates no
checkpoint; the edge producer executes once, when the caller's action
runs.

Scale ceiling: the whole edge list, plus a few int64 arrays over its
2·E endpoints, must fit in ONE Python worker; 10^7 random edges
resolve in ~7 s on one x86 core. A graph beyond that needs a
distributed closure (per-block union-find with a cross-block merge).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _min_root(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """``parent`` over dense vertex indices ``0..n-1`` such that
    ``parent[i]`` is the least index connected to ``i`` by the edges
    ``(u[k], v[k])``."""
    parent = np.arange(n)
    while True:
        ru, rv = parent[u], parent[v]
        open_ = ru != rv
        if not open_.any():
            return parent
        # roots only merge, so an edge whose ends share a root is done
        u, v, ru, rv = u[open_], v[open_], ru[open_], rv[open_]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _components_kernel(src: str, dst: str):
    def kernel(edges: pa.Table) -> pa.Table:
        u, v = edges.column("u"), edges.column("v")
        for name, col, other in ((src, u, v), (dst, v, u)):
            if col.null_count:
                at = col.is_null().index(True).as_py()
                raise ValueError(
                    f"connected_components: NULL {name} endpoint on the edge "
                    f"with other end {other[at].as_py()!r}"
                )
        ids = pa.chunked_array(u.chunks + v.chunks, type=u.type)
        uniq, dense = np.unique(
            ids.to_numpy(zero_copy_only=False), return_inverse=True
        )
        parent = _min_root(dense[: len(u)], dense[len(u):], len(uniq))
        vertex = pa.array(uniq, type=u.type)
        return pa.table({"vertex": vertex, "component": vertex.take(parent)})

    return kernel


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component =
    min vertex id reachable. Ids keep ``src``'s type (``dst`` is cast
    to it). Edge direction, duplicates and self-loops do not matter; a
    NULL endpoint raises ``ValueError`` when the result is computed.
    The whole edge list is resolved in one Python worker (module
    docstring: scale ceiling)."""
    id_type = edges.schema[src].dataType
    pairs = edges.select(
        F.lit(0).alias("g"),
        F.col(src).alias("u"),
        F.col(dst).cast(id_type).alias("v"),
    )
    return pairs.groupBy("g").applyInArrow(
        _components_kernel(src, dst),
        StructType(
            [StructField("vertex", id_type), StructField("component", id_type)]
        ),
    )


def triangle_census(
    edges: DataFrame, src: str = "b1", dst: str = "b2"
) -> DataFrame:
    """One-row graph census over an UNDIRECTED edge list given in
    canonical ``src < dst`` orientation: node count, edge count,
    exact triangle count (value-ordered 3-cycle join — each edge
    joins only higher-valued neighbors, halving the pair space and
    making the count deterministic; orienting by DEGREE instead is
    the web-scale refinement that bounds per-node fan-out), and
    global transitivity 3·T / Σ d(d−1)/2, NULL when the graph has no
    open or closed triads (matching SQL NULL division, not NaN).

    The input is normalized defensively (least/greatest orientation,
    self-loop rejection, distinct): a duplicate or reversed edge would
    otherwise double-count degrees and mis-count triangles silently.
    The normalization is a single narrow projection + the dedup
    aggregate — negligible next to the census joins — and is a no-op
    pass-through for already-canonical input.

    Callers should pass a checkpointed/cached edge list — the census
    reads it from four branches (degrees, triangles, counts).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("b1"),
            F.greatest(F.col(src), F.col(dst)).alias("b2"),
        )
        .filter(F.col("b1") != F.col("b2"))
        .distinct()
    )
    deg = (
        e.select(F.col("b1").alias("vx"))
        .unionByName(e.select(F.col("b2").alias("vx")))
        .groupBy("vx")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = e.select(F.col("b1").alias("x"), F.col("b2").alias("y"))
    e2 = e.select(F.col("b1").alias("x2"), F.col("b2").alias("z"))
    e3 = e.select(F.col("b1").alias("y3"), F.col("b2").alias("z3"))
    tri = (
        e1.join(e2, (F.col("x2") == F.col("x")) & (F.col("z") > F.col("y")))
        .join(e3, (F.col("y3") == F.col("y")) & (F.col("z3") == F.col("z")))
        .agg(F.count(F.lit(1)).alias("t"))
    )
    # ONE aggregate over deg for nodes, edges, and open triads (r12,
    # guide §2.4): these were three separate one-row aggregation
    # branches (deg twice, e once), each its own job wave. n_edges
    # derives exactly from the degree sum — every canonical distinct
    # edge contributes 2 to Σd, so |E| = Σd >> 1 (shiftright keeps the
    # halving in integer arithmetic; Σd is even by construction).
    counts = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.shiftright(F.sum("d"), 1).alias("n_edges"),
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("tr"),
    )
    return (
        counts.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            # NULL (not NaN) on a zero triad count: Spark 0.0/0.0 is
            # NaN where SQL division yields NULL
            F.when(
                F.col("tr") > 0,
                F.round(
                    (3 * F.col("t")).cast("double")
                    / F.col("tr").cast("double"),
                    8,
                ),
            ).alias("transitivity"),
        )
    )
