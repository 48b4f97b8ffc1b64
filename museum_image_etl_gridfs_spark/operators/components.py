"""Connected components — the iterative clustering step of near-dup
deduplication (pairs -> clusters -> one canonical doc per cluster).

LSH/MinHash emits PAIRS; a training pipeline needs CLUSTERS (a dup
chain a-b, b-c must collapse to one survivor). That closure is an
iterative fixpoint no single SQL query expresses — the canonical
"iterative algorithm" case of the driver's rows-only category.

Algorithm: label propagation ("hash-min"). Every vertex starts
labeled with its own id; each round every vertex takes the min label
in its neighborhood (incl. itself); converged when no label changes.
Rounds = graph diameter, and near-dup graphs are shallow (dup
clusters are cliques or short chains), so 3-6 rounds cover real
corpora.

Scale posture per round: one groupBy(vertex) over the edge list —
shuffle on vertex id; labels are persisted and lineage is truncated
with localCheckpoint so the plan does not grow exponentially with
iterations (the classic iterative-Spark trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lifecycle import release_df, tracked_local_checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iterations: int = 20,
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component =
    min vertex id reachable. Raises if not converged within
    ``max_iterations`` (shallow graphs converge in a handful)."""
    # reset first: a call that raises must not leave the previous
    # call's round count behind for a reader
    connected_components.last_rounds = 0
    sym = tracked_local_checkpoint(
        # every propagation round joins sym; without a checkpoint the
        # edge producer (e.g. a blocked-matmul similarity stage)
        # re-executes per round (measured 20 s -> ~6 s at sf0.1).
        # The dedup aggregate runs OVER a repartition("v") (r13, guide
        # §2.4): hashpartitioning(v) satisfies the (u, v) dedup's
        # clustering (v ⊆ keys) AND is exactly the per-round join's
        # requirement — localCheckpoint preserves the physical
        # partitioning in its LogicalRDD, so every propagation round
        # shuffles only the LABEL table while the edge list (the big
        # side at corpus scale) stays put. One exchange at build,
        # diameter-many edge-list shuffles gone.
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .repartition("v")
        .dropDuplicates(["u", "v"])
    )
    labels = tracked_local_checkpoint(
        sym.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex")),
        eager=True,
    )

    labels_cp = labels  # raw checkpoint handle for early release
    for _round in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["v"] == labels["vertex"])
            .groupBy(F.col("u").alias("vertex"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # The convergence flag rides INSIDE the propagation select: the
        # old label is already present in this join, so a label change
        # (nbr_label < label; NULL when no neighbor improved → false)
        # is known per row with zero extra work. The previous shape —
        # a separate new⋈old join + count per round — paid one full
        # shuffle join of the label table every iteration just to ask
        # "did anything move?" (guide §2.4: remove shuffles outright);
        # now the check is a narrow scan of the just-materialized
        # checkpoint blocks.
        # LAZY checkpoint + the changed-count as its materializing
        # action (r13): eager=True ran one job to persist the blocks
        # and a second to count changes; a full count() computes EVERY
        # partition (no limit short-circuit), so the persist happens as
        # a side effect and each round is ONE job. Lineage is still
        # truncated at the localCheckpoint boundary once materialized.
        new_cp = tracked_local_checkpoint(
            labels.join(neighbor_min, "vertex", "left")
            .select(
                "vertex",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("__changed"),
            ),
        )
        changed = new_cp.filter(F.col("__changed")).count()
        # round i's labels are dead once round i+1 is materialized —
        # releasing here caps in-flight checkpoint storage at O(1)
        # rounds instead of O(diameter)
        release_df(labels_cp)
        labels_cp = new_cp
        labels = new_cp.select("vertex", "label")
        if changed == 0:
            # measurement hook (r13): rounds-to-convergence, readable
            # by benchmarks/tests without changing the return type
            connected_components.last_rounds = _round + 1
            release_df(sym)  # the returned labels no longer need sym
            return labels.select("vertex", F.col("label").alias("component"))
    raise RuntimeError(f"did not converge in {max_iterations} iterations")


def canonical_per_cluster(components: DataFrame) -> DataFrame:
    """(component, canonical_vertex): keep-first applied to clusters —
    the min id is the deterministic survivor (the scalable form of the
    reference's docs_list[0] keep, src/transform_load.py:59-60)."""
    return components.groupBy("component").agg(
        F.min("vertex").alias("canonical_vertex"),
        F.count(F.lit(1)).alias("cluster_size"),
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
