"""Blocked exact Jaccard pair kernel: every token-set pair of a
corpus whose Jaccard similarity reaches a threshold, without a
quadratic Spark join.

Documents pack into (block, sub-block) cells, one row each, and the
block-local cell pairs cross-join. Per cell pair, numpy builds
the two token-incidence matrices over the pair's vocabulary and gets
every intersection count from one float matmul
(|A∩B| = Ia @ Ib.T; |A∪B| = |a| + |b| - |A∩B|). The sub-block count
is derived from one measured aggregate, a Spark job run when the plan
is built, so cells stay memory-bounded at any scale factor while
still filling every core.

The exact near-dup pair queries (``near_dup_components_exact`` and
``prefix_join_near_dups``) run through :func:`jaccard_pairs_blocked`.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rows per sub-block: the inter/union/jac matrices grow quadratically
#: with it (~20 B per pair entry across the three, ~84 MB at 2048)
_TARGET_SUB_ROWS = 2048


def _np_id_dtype(spark_type: str) -> str:
    """numpy dtype for an EMPTY id column matching a Spark type.

    The per-batch empty sentinel frames must carry the dataset's
    actual id dtype — hardcoding int64 against a string id schema is
    a silent Arrow type mismatch waiting on a serializer change.
    """
    return {
        "bigint": "int64",
        "int": "int32",
        "smallint": "int16",
        "tinyint": "int8",
        "double": "float64",
        "float": "float32",
    }.get(spark_type, "object")


def _blocks_for(n_rows: int, target_rows: int, *, floor: int) -> int:
    """Block count so blocks stay ≈ ``target_rows`` rows — the
    derive-from-measured-input rule of the blocked pair kernel (a
    count tuned at one SF is a memory cliff at the next: the quadratic
    per-cell matrices scale with (rows/blocks)²)."""
    return max(floor, -(-n_rows // max(target_rows, 1)))


def _sub_blocks_for(
    max_rows: int, n_keys: int, parallelism: int, target_rows: int
) -> int:
    """Sub-block count for :func:`jaccard_pairs_blocked`: the memory
    ceiling (≈ ``target_rows`` rows per sub-block) joined with a
    parallelism floor (≈ 4 cells per core across all blocking keys:
    n_keys·subs²/2 ≥ 4·parallelism ⇒ subs ≥ √(8·para/n_keys))."""
    mem = _blocks_for(max_rows, target_rows, floor=2)
    par = math.ceil(math.sqrt(8 * max(parallelism, 1) / max(n_keys, 1)))
    return max(mem, min(par, max(max_rows, 1)))


def jaccard_pairs_blocked(
    docs: DataFrame,
    *,
    id_col: str,
    tokens_col: str,
    block_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs exact token-set Jaccard ≥ threshold, block-matrix
    style. The engine's one exact Jaccard-threshold join: every exact
    near-dup pair query runs through it.

    Each (block, sub-block) packs into one row; block-local sub-block
    pairs cross-join; per pair numpy builds incidence matrices over
    the pair's token vocabulary and gets ALL intersection counts from
    one integer matmul (|A∩B| = Ia @ Ib.T; |A∪B| = |a|+|b|-∩).
    ``block_col`` is the blocking key (e.g. source) — pairs across
    blocks are never considered, exactly like the blocked SQL join.
    ``threshold`` must be > 0: diagonal cells zero their id_a ≥ id_b
    entries, so a non-positive threshold would re-admit them.

    The sub-block count is derived from ONE measured aggregate (max
    blocking-group size + group count), run at build time, under two
    constraints (a fixed block count once turned into a
    2.8 GB-per-task / 417 s cliff at sf3):

    - memory ceiling: sub-blocks stay ≈ ``_TARGET_SUB_ROWS`` rows,
      so no count tuned at one SF becomes a memory cliff at the next;
    - parallelism floor: enough (block, sub-pair) cells to give every
      core ~4, i.e. n_keys·subs²/2 ≳ 4·defaultParallelism — a
      memory-only derivation picked subs=2 at sf1 (60 cells / 32
      cores) and ran 35 s where subs=4 ran 4.5 s; packed-row
      replication grows linearly with subs, so the floor targets
      cells-per-core, not a fixed count.
    """
    if threshold <= 0:
        raise ValueError("jaccard_pairs_blocked: threshold must be > 0")
    blk = F.col(block_col) if block_col else F.lit(0)
    mx, nk = (
        docs.select(blk.alias("__blk"))
        .groupBy("__blk")
        .count()
        .agg(F.max("count"), F.count(F.lit(1)))
        .first()
    )
    para = docs.sparkSession.sparkContext.defaultParallelism
    n_sub_blocks = _sub_blocks_for(mx or 0, nk or 1, para, _TARGET_SUB_ROWS)
    packed = (
        docs.select(
            F.col(id_col).alias("id"),
            F.array_distinct(F.col(tokens_col)).alias("ts"),
            blk.alias("blk"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_sub_blocks)).alias("sub"),
        )
        .groupBy("blk", "sub")
        .agg(F.collect_list(F.struct("id", "ts")).alias("ms"))
    )
    # Each unordered cell pair joins once (a.sub <= b.sub), and a
    # cell pairs with itself on the diagonal.
    cond = (F.col("a.blk") == F.col("b.blk")) & (
        F.col("a.sub") <= F.col("b.sub")
    )
    # Round-robin the O(blocks × sub²) pair rows across cores: the
    # join's output inherits hash-partitioning on blk (a handful of
    # sources), so without this the CPU-bound matmul stage runs
    # |blocks|-wide on any machine (measured 8/32 cores busy, 40 s →
    # 17 s solo at sf1). The extra exchange moves the packed rows
    # once more — cheap next to the numpy stage it parallelizes.
    pairs = (
        packed.alias("a")
        .join(packed.alias("b"), cond)
        .select(
            (F.col("a.sub") == F.col("b.sub")).alias("diag"),
            F.col("a.ms").alias("ms_a"),
            F.col("b.ms").alias("ms_b"),
        )
        .repartition(max(para, n_sub_blocks))
    )

    id_type = docs.schema[id_col].dataType.simpleString()
    score = _jaccard_score_fn(threshold, _np_id_dtype(id_type))
    return pairs.mapInPandas(
        score, f"id_a {id_type}, id_b {id_type}, jaccard double"
    )


def _jaccard_score_fn(threshold: float, id_np: str):
    """Batch kernel for :func:`jaccard_pairs_blocked` (module-level so
    the diagonal id-mask is directly testable against PERMUTED packed
    lists — local-mode end-to-end runs can't exercise permutation)."""

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for diag, ms_a, ms_b in zip(pdf["diag"], pdf["ms_a"], pdf["ms_b"]):
                # Vectorized incidence build (r12, guide §4.2): the
                # token sets arrive ALREADY distinct (array_distinct
                # runs JVM-side in the packing projection), so the
                # per-doc Python set()s and the per-token vocab-dict
                # loop the first draft used were pure interpreter
                # overhead — one pd.factorize over the cell's
                # concatenated token stream plus one fancy-index
                # scatter replaces every Python-level token touch
                # (measured: the scoring stage's Python time dominated
                # the near_dup_components_exact run at sf0.1).
                toks_a = [np.asarray(m["ts"], dtype=object) for m in ms_a]
                toks_b = [np.asarray(m["ts"], dtype=object) for m in ms_b]
                na, nb = len(toks_a), len(toks_b)
                len_a = np.fromiter(
                    (t.size for t in toks_a), dtype=np.int64, count=na
                )
                len_b = np.fromiter(
                    (t.size for t in toks_b), dtype=np.int64, count=nb
                )
                total_a = int(len_a.sum())
                flat = (
                    np.concatenate(toks_a + toks_b)
                    if total_a + int(len_b.sum())
                    else np.empty(0, dtype=object)
                )
                codes, uniques = pd.factorize(flat)
                vsize = len(uniques)
                # a None/NaN token factorizes to code -1, and the
                # scatter below would silently write vocab column -1
                # (the LAST column), corrupting intersection counts —
                # fail loudly instead (ADVICE r12; array_distinct
                # upstream preserves a null element, so this is
                # reachable if a caller ever feeds null tokens)
                if codes.size and codes.min() < 0:
                    raise ValueError(
                        "jaccard kernel: null token in a packed token "
                        "set — filter nulls in the packing projection"
                    )
                # float32 incidence, NOT int32: numpy integer matmul
                # has no BLAS path (a naive triple loop — measured
                # 99.8 s vs 1.3 s on a 1500×1500×30k-vocab cell), while
                # the float product runs through BLAS. Exact by
                # construction: every partial sum is an integer ≤ the
                # larger set size, and float32 represents integers
                # exactly up to 2^24 (float64 guard above that).
                fdt = (
                    np.float32
                    if max(len_a.max(initial=0), len_b.max(initial=0)) < 2**24
                    else np.float64
                )
                ia = np.zeros((na, vsize), dtype=fdt)
                ib = np.zeros((nb, vsize), dtype=fdt)
                ia[np.repeat(np.arange(na), len_a), codes[:total_a]] = 1
                ib[np.repeat(np.arange(nb), len_b), codes[total_a:]] = 1
                inter = (ia @ ib.T).astype(np.int64)
                size_a = len_a[:, None]
                size_b = len_b[None, :]
                union = size_a + size_b - inter
                with np.errstate(divide="ignore", invalid="ignore"):
                    jac = np.where(union == 0, 0.0, inter / union)
                aid = np.array([m["id"] for m in ms_a])
                bid = np.array([m["id"] for m in ms_b])
                if diag and jac.size:
                    # a diagonal cell pairs a sub-block with ITSELF:
                    # keep each unordered pair exactly once by masking
                    # on the IDS (id_a < id_b), never on array INDEX
                    # (np.triu) — the self-join's two collect_list
                    # branches are recomputed independently and their
                    # element order is not guaranteed to match across
                    # executors/retries/AQE; an index triangle would
                    # silently drop or duplicate pairs under
                    # permutation. Id masking keeps the output
                    # duplicate-free BY CONSTRUCTION (every doc lives
                    # in exactly one (block, sub)) with no
                    # dropDuplicates — a full shuffle of the
                    # output-quadratic pair stream (10 GB at sf3).
                    jac = np.where(aid[:, None] < bid[None, :], jac, 0.0)
                xi, yj = np.nonzero(jac >= threshold)
                if not xi.size:
                    continue
                # vectorized emit (the per-pair python loop was the
                # sf3 wall: 400M list appends dominated the stage)
                xa, yb, jv = aid[xi], bid[yj], jac[xi, yj]
                keep = xa != yb
                xa, yb, jv = xa[keep], yb[keep], jv[keep]
                lo = np.where(xa < yb, xa, yb)
                hi = np.where(xa < yb, yb, xa)
                yield pd.DataFrame(
                    {"id_a": lo, "id_b": hi, "jaccard": jv.astype(np.float64)}
                )
            yield pd.DataFrame(
                {"id_a": [], "id_b": [], "jaccard": []}
            ).astype({"id_a": id_np, "id_b": id_np, "jaccard": "float64"})

    return score

