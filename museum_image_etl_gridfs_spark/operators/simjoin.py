"""Prefix-filtered exact set-similarity join (AllPairs / PPJoin
family — Bayardo et al., WWW'07; Xiao et al., WWW'08, incl. the §4
suffix filter; public algorithms re-expressed as DataFrame ops).

The third strategy in the near-dup toolbox, between the quadratic
blocked matmul (operators/ann.py — exact, bounded by block size) and
MinHash-LSH (operators/dedup.py — subquadratic but approximate):
EXACT Jaccard-threshold pairs at subquadratic cost.

Key fact: order every token set by GLOBAL token frequency
(rarest first). For Jaccard(x, y) ≥ t, x and y must share at least
one token among each one's first ``|s| − ⌈t·|s|⌉ + 1`` ordered tokens
(the prefix) — so candidates are only pairs sharing a PREFIX token,
and prefixes are short and start with rare tokens, which keeps the
token-keyed candidate join sparse. Every candidate is then verified
exactly, so the output is identical to the brute-force join.

Physical shape (the Vernica et al., SIGMOD'10 trade-off, resolved
for the replication-free side): exploded prefix rows stay SLIM — five
scalars, never the token arrays — so the candidate self-join is pure
whole-stage-codegen and its shuffle is bytes-per-occurrence. Pairs
are deduped by a map-side-combinable ``min(struct(p, pos_a, pos_b))``
group-by that also pins each pair's LOWEST-rank shared prefix token
(the anchor where every filter bound is provably loosest), and the
rank arrays are re-attached by two planner-chosen joins for the
suffix filter + exact verification. The carry-arrays-through-the-join
alternative was measured strictly worse here: array predicates inside
a sort-merge join condition fall out of codegen and evaluate per
EXAMINED pair (148 s vs 4 s at sf0.1).

Scale shape: one vocabulary aggregate (map-side combined), a
distributed total-order rank over it (range-bucket prefix-sum — never
a single-task global sort; the vocabulary of a 100 TB corpus is
itself a large table), a planner-chosen rank join (broadcast only
when the vocab is actually small), one explode of short prefixes,
one token-keyed self-join whose fan-out per token is bounded by that
token's document frequency (the frequency ordering puts hot tokens
OUT of prefixes), and exact verification of survivors. No stage is
quadratic in the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lifecycle import tracked_local_checkpoint
from .quantiles import global_row_number

#: target exploded-prefix occurrences per candidate-join task.
#: Calibrated at sf0.1 (61,885 occurrences / 32 partitions ≈ 1.9 k per
#: task, the measured-good shape); the count scales linearly with the
#: corpus, so a 10× corpus gets 10× the tasks instead of 10× the work
#: per task. The join's true cost is examined PAIRS (quadratic in each
#: token's occurrence count), but occurrence volume is the signal the
#: builder already has for free from the eager vocabulary pass, and
#: pairs-per-occurrence is bounded by the frequency ordering keeping
#: hot tokens out of prefixes.
_OCC_PER_PARTITION = 2048


def _suffix_overlap_bound(
    xs_rnk: Column, x_lo: Column, sx: Column, ys_rnk: Column, y_lo: Column
) -> Column:
    """Content-aware upper bound on the overlap of two rank-sorted
    SUFFIXES — the PPJoin suffix filter (Xiao et al., WWW'08 §4) at
    partition depth 1.

    ``xs_rnk``/``ys_rnk`` are full ascending rank arrays; the suffixes
    are positions ``> x_lo`` / ``> y_lo`` (0-based count of leading
    elements excluded, all of which must rank BELOW every suffix
    element of the other side — true at the pair's lowest shared
    prefix token). ``sx`` is x's suffix size; y's is derived here; the
    caller owns the empty-suffix guard.

    Probe w = the MEDIAN rank of y's suffix, splitting it into
    ``y_l`` elements below and ``y_r`` above. x's suffix splits at w
    into ``x_l``/``x_r`` by counting ranks < w over the whole array
    (every excluded leading element is < w by the caller's contract).
    Matches cannot cross the split, so

        overlap(x_suffix, y_suffix) ≤ min(x_l, y_l) + min(x_r, y_r)
                                        + [w ∈ x_suffix]

    — equivalently the Hamming-distance lower bound
    ``H ≥ |x_l−y_l| + |x_r−y_r| + 1 − [w∈x]`` of the paper. Depth 1
    only: recursing into the four halves needs positional slicing per
    branch, doubling the expression tree per level for a second-order
    candidate cut.
    """
    sy = F.size(ys_rnk) - y_lo  # caller guarantees > 0
    w = F.element_at(ys_rnk, y_lo + F.floor(sy / 2).cast("int") + 1)
    y_l = F.floor(sy / 2).cast("int")
    y_r = sy - y_l - 1
    lt_w = F.aggregate(
        xs_rnk,
        F.lit(0),
        lambda acc, e: acc + F.when(e < w, 1).otherwise(0),
    )
    x_l = lt_w - x_lo
    has_w = F.array_contains(xs_rnk, w).cast("int")
    x_r = sx - x_l - has_w
    return F.least(x_l, y_l) + F.least(x_r, y_r) + has_w


def _verify_jaccard_fn(threshold: float):
    """Vectorized exact-verification kernel for
    :func:`prefix_filter_jaccard_join` (module-level for direct
    testability).

    Each Arrow batch carries candidate pairs with their rank arrays
    (ascending, duplicate-free by construction: ranks are a total
    order over distinct tokens). Intersection sizes for the whole
    batch come from one lexsort + adjacent-duplicate scan over the
    flattened (pair, rank) stream — a rank appearing twice under one
    pair id is exactly one shared token. inter/union stay int64; the
    single float64 division and the >= threshold compare are
    bit-identical to the JVM expressions they replace.
    """

    def verify(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            nrow = b.num_rows
            if nrow == 0:
                continue
            na = b.column("na").to_numpy(zero_copy_only=False).astype(np.int64)
            nb = b.column("nb").to_numpy(zero_copy_only=False).astype(np.int64)
            ra, rb = b.column("ra"), b.column("rb")
            va = ra.flatten().to_numpy(zero_copy_only=False)
            vb = rb.flatten().to_numpy(zero_copy_only=False)
            la = np.diff(ra.offsets.to_numpy())
            lb = np.diff(rb.offsets.to_numpy())
            idx = np.arange(nrow)
            vals = np.concatenate([va, vb])
            pids = np.concatenate([np.repeat(idx, la), np.repeat(idx, lb)])
            order = np.lexsort((vals, pids))
            sv, sp = vals[order], pids[order]
            dup = (sv[1:] == sv[:-1]) & (sp[1:] == sp[:-1])
            inter = np.bincount(sp[1:][dup], minlength=nrow)
            union = na + nb - inter
            with np.errstate(divide="ignore", invalid="ignore"):
                jac = np.where(union == 0, 0.0, inter / union)
            keep = pa.array(jac >= threshold)
            yield pa.RecordBatch.from_arrays(
                [
                    pc.filter(b.column("id_a"), keep),
                    pc.filter(b.column("id_b"), keep),
                    pa.array(jac[jac >= threshold], type=pa.float64()),
                ],
                names=["id_a", "id_b", "jaccard"],
            )

    return verify


def prefix_filter_jaccard_join(
    docs: DataFrame,
    *,
    id_col: str,
    tokens_col: str,
    threshold: float,
    block_col: str | None = None,
    new_col: str | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for every pair with exact token-set
    Jaccard ≥ ``threshold`` (``id_a < id_b``); pairs are restricted to
    equal ``block_col`` when given (same contract as
    ``operators/ann.jaccard_pairs_blocked``).

    Exact: prefix, length, positional, and suffix filters only PRUNE
    candidates that provably cannot reach the threshold; survivors
    are verified with exact intersection arithmetic.

    ``new_col`` (boolean column) switches on INCREMENTAL mode — the
    "dedup today's batch against the standing corpus" question: only
    pairs with at least one NEW member are returned (new x new and
    new x old; the old corpus is never re-paired with itself), and
    the result equals the full join filtered to those pairs. Two
    plan-level consequences, not just a post-filter:

    - old x old candidate pairs are rejected INSIDE the equi-join,
      before the pair dedup shuffle;
    - the whole prefix-occurrence stream is pre-pruned by a left-semi
      join against the NEW rows' (block, prefix-token) set — every
      qualifying pair shares a prefix token with a new row, so old
      occurrences outside that set provably join nothing. With a
      small batch against a 100 TB corpus this is the dominant win:
      the semi join broadcasts the batch's token set and the corpus'
      occurrence stream is filtered map-side, never shuffled.

    The vocabulary rank stays corpus-wide (union), so hot corpus
    tokens stay out of prefixes regardless of which side they are
    frequent in; any consistent total order keeps the filter exact.

    NOT a pure lazy plan builder: the vocabulary rank runs through
    :func:`~..quantiles.global_row_number`, whose range-bucket
    machinery executes Spark jobs (a min/max probe, split-point
    sampling, per-bucket counts) at CONSTRUCTION time — same eager
    pattern as ``running_totals``. Plan-inspection/dry-run callers pay
    the vocabulary aggregation even if they never act on the result.

    **Storage contract**: construction pins a tracked localCheckpoint
    of the collapsed groups (strong JVM refs in
    ``operators/lifecycle.py``'s registry). Callers MUST call
    ``lifecycle.release_checkpoints(spark)`` after fully materializing
    the result — perfbench/run.py and tools/check_correctness.py do this
    between queries — or wrap the build+action in
    ``lifecycle.checkpoint_scope``; a long-lived session that never
    releases accumulates unreleasable checkpoint blocks. Do NOT
    release between construction and the final action: the checkpoint
    truncates lineage, so freeing the blocks early fails the job.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    blk = F.col(block_col) if block_col else F.lit(0)
    base_cols = [
        F.col(id_col).alias("id"),
        F.array_distinct(F.col(tokens_col)).alias("ts"),
        blk.alias("blk"),
    ]
    if new_col:
        base_cols.append(F.col(new_col).cast("boolean").alias("is_new"))
    base = docs.select(*base_cols)

    # global document frequency per token -> rarest-first total order
    # (df, token) so ordering is deterministic across runs/engines.
    # At 100 TB of text the vocabulary is itself a large table
    # (hundreds of millions of tokens), so the rank must NOT be a
    # bare row_number() OVER (ORDER BY ...) — that's a single-task
    # global sort — and the rank join must NOT force a broadcast of
    # the full vocab. global_row_number assigns the identical total
    # order distributively (range-bucket + broadcast per-bucket
    # offsets), and the planner/AQE picks the join strategy (it will
    # still broadcast when the vocab is actually small).
    vocab = (
        base.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ranked = global_row_number(vocab, ["df", "tok"], out_col="rnk").select(
        "tok", "rnk"
    )

    # order each set rarest-first
    keys = ["id", "blk", "n"] + (["is_new"] if new_col else [])
    with_rnk = (
        base.select("id", "blk", F.size("ts").alias("n"), "ts", *(
            ["is_new"] if new_col else []
        ))
        .withColumn("tok", F.explode("ts"))
        .join(ranked, "tok")
    )
    per_doc = with_rnk.groupBy(*keys).agg(
        F.sort_array(F.collect_list(F.col("rnk"))).alias("rnks")
    )

    # EXACT-DUPLICATE COLLAPSE (the simjoin's giant-bucket guard, same
    # scale argument as the MinHash star collapse, dedup.py): docs with
    # identical (block, token set) — ubiquitous in web corpora, and the
    # worst case of the candidate join since k identical docs put k
    # occurrences under EVERY shared prefix token, k² examined pairs
    # each — are grouped once here and the whole pair machinery runs on
    # one REPRESENTATIVE per group. Pairs are reconstituted at the end:
    # within-group pairs are jaccard = 1.0 by identity (no join ever
    # sees them), cross-group pairs expand the verified rep pairs
    # through the member lists. On the 10×-replicated sf1 fixture this
    # cuts examined pairs ~100× (measured: the collapsed join stage
    # replaces the 6-minute dominant stage of the uncollapsed plan);
    # on a duplicate-free corpus it degenerates to one extra shuffle of
    # the rank arrays. Grouping by the full rnks array (not a hash) —
    # exact by construction, no collision case to reason about.
    group_aggs = [
        F.min("id").alias("gid"),
        F.collect_list(
            F.struct(F.col("id"), *( [F.col("is_new")] if new_col else [] ))
        ).alias("members"),
    ]
    if new_col:
        group_aggs.append(F.max(F.col("is_new")).alias("has_new"))
    groups = per_doc.groupBy("blk", "n", "rnks").agg(*group_aggs)
    # ``groups`` is consumed repeatedly downstream (rep occurrence
    # explode, both rank-array re-attach joins, two member-expansion
    # joins, the incremental new-token set) and each consumption would
    # otherwise re-run the explode + vocab-rank join + two groupBys
    # from the source scan — cheap at sf0.1, 4× the dominant cost at
    # sf1 (the round-6 regression: 1290 s solo → 503 s checkpointed).
    # Tracked so perfbench/run.py / tools/check_correctness.py release the
    # blocks between queries (operators/lifecycle.py contract).
    groups = tracked_local_checkpoint(groups)

    rep_cols = [
        F.col("gid").alias("id"),
        F.col("blk"),
        F.col("n"),
        F.col("rnks"),
    ]
    if new_col:
        # a group is "new" for join pruning iff ANY member is new; the
        # member-level flags re-apply exactly at expansion time below
        rep_cols.append(F.col("has_new").alias("is_new"))
    ordered = (
        groups.select(*rep_cols)
        .withColumn(
            "plen",
            # ceil over a DOWN-nudged product: binary t·n can land an
            # ulp ABOVE the exact rational (e.g. 0.14*50 →
            # 7.000000000000001, ceil 8), which would SHORTEN the
            # prefix and silently drop qualifying pairs. Undershooting
            # only lengthens the prefix (more candidates, still
            # exact), so the nudge is always safe.
            F.col("n")
            - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)).cast("int")
            + 1,
        )
        .withColumn("prefix", F.expr("slice(rnks, 1, plen)"))
    )

    # candidate join on shared prefix tokens, plus two provable prunes
    # evaluated inside the equi-join, BEFORE the pair dedup and the
    # suffix/verify stages (both use the same ulp down-nudge as plen:
    # undershooting only ADMITS extra candidates — still exact after
    # verification — never drops one):
    # - AllPairs LENGTH filter: Jaccard(x,y) <= min(|x|,|y|) /
    #   max(|x|,|y|), so a qualifying pair needs t*|a| <= |b| and
    #   t*|b| <= |a|.
    # - PPJoin POSITIONAL filter: a pair with Jaccard >= t needs
    #   overlap o >= ceil(t/(1+t) * (|a|+|b|)); a shared prefix token
    #   at 0-based set positions (i, j) bounds the overlap by
    #   1 + min(|a|-i-1, |b|-j-1) (only later-ranked tokens can still
    #   match). A TRUE pair always passes at its first (lowest-rank)
    #   shared token — every bound here and below is loosest there —
    #   so filtering each occurrence and keeping pairs with ANY
    #   survivor is exact, while deep-prefix-only collisions are
    #   dropped (measured -47% occurrence rows into the dedup on the
    #   dense fixture).
    tn = F.lit(threshold)
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n") + F.col("b.n"))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("a.n") - F.col("a.pos") - 1, F.col("b.n") - F.col("b.pos") - 1
    )
    # Pin the join's partition count: the exploded-prefix shuffle is
    # bytes-per-occurrence (MBs even when the join OUTPUT is tens of
    # millions of pairs), so AQE's size-based coalescing would fold
    # the quadratic-output join and its map-side pair dedup into ONE
    # task. User-specified repartition counts are exempt from AQE
    # coalescing (measured 6.5 s -> 3.4 s at sf0.1). The count is
    # derived from the DATA — total prefix occurrences, a one-row
    # aggregate over the just-checkpointed ``ordered`` — not from
    # ``spark.sql.shuffle.partitions``: at cluster scale the right
    # number tracks the exploded-occurrence volume, and a session
    # default tuned for the fact tables says nothing about it.
    spark = docs.sparkSession
    n_occ = ordered.agg(F.sum("plen")).first()[0] or 0
    nparts = max(
        spark.sparkContext.defaultParallelism,
        -(-int(n_occ) // _OCC_PER_PARTITION),
    )
    sides = ordered.select(
        "id",
        "blk",
        "n",
        F.posexplode("prefix").alias("pos", "p"),
        *(["is_new"] if new_col else []),
    )
    if new_col:
        # incremental prune: a qualifying pair has >= 1 new member, so
        # its shared prefix token is in some NEW row's prefix — old
        # occurrences outside the new (blk, p) set join nothing. The
        # semi join is planner-chosen: a small batch's token set
        # broadcasts and the corpus stream is filtered map-side.
        new_toks = sides.filter(F.col("is_new")).select("blk", "p").distinct()
        sides = sides.join(new_toks, ["blk", "p"], "left_semi")
    sides = sides.repartition(nparts, "blk", "p")
    pair_cond = (
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.p") == F.col("b.p"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.col("b.n") >= tn * F.col("a.n") - F.lit(1e-9))
        & (F.col("a.n") >= tn * F.col("b.n") - F.lit(1e-9))
        & (ubound >= alpha)
    )
    if new_col:
        # old x old pairs rejected inside the join, before the dedup
        pair_cond = pair_cond & (F.col("a.is_new") | F.col("b.is_new"))
    occ = (
        sides.alias("a")
        .join(sides.alias("b"), pair_cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
    )
    # Pair dedup: a plain two-column distinct with map-side partial
    # aggregation in the join stage — only combined partials move.
    # (r12: the min(struct(p, pos_a, pos_b)) anchor this used to keep
    # existed solely for the JVM suffix filter; the vectorized verify
    # below intersects every candidate in one fused pass, so the
    # anchor — a 12-bytes-per-occurrence struct built inside the
    # quadratic join emit — is dead weight.)
    cand = (
        occ.distinct()
        # spread the exact-verify stage: the deduped pair stream is
        # small in BYTES (AQE would coalesce it to 1-2 tasks) but
        # each row pays array work downstream
        .repartition(nparts, "id_a")
    )

    # Re-attach the rank arrays (planner-chosen joins; AQE broadcasts
    # when a side is small) and verify exactly in ONE vectorized
    # Arrow pass (guide §4.2). The r11 shape ran the PPJoin suffix
    # filter as an interpreted per-candidate HOF (F.aggregate over the
    # full rank array — no codegen) followed by per-pair
    # array_intersect; on a duplicate-dense corpus ~98% of candidates
    # are TRUE pairs (measured sf0.1: 450,941 candidates → 358,361
    # pairs), so the filter pruned almost nothing and every candidate
    # paid both array walks. The Arrow kernel counts intersections for
    # a whole batch with one lexsort + adjacent-duplicate scan over
    # the flattened (pair, rank) stream — same exact arithmetic
    # (sorted-unique rank arrays; inter/union in int64, one float64
    # division), A/B-verified frame-identical on sf0.1 (3.0 s vs
    # 3.8 s clean, and immune to the HOF's interpreted-cost cliff).
    sets = ordered.select("id", "rnks", "n")
    attached = (
        cand.join(
            sets.select(
                F.col("id").alias("id_a"),
                F.col("rnks").alias("ra"),
                F.col("n").alias("na"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"),
                F.col("rnks").alias("rb"),
                F.col("n").alias("nb"),
            ),
            "id_b",
        )
        .select("id_a", "id_b", "na", "nb", "ra", "rb")
    )
    id_type = docs.schema[id_col].dataType.simpleString()
    rep_pairs = attached.mapInArrow(
        _verify_jaccard_fn(threshold),
        f"id_a {id_type}, id_b {id_type}, jaccard double",
    )

    # Reconstitute document pairs from the collapsed groups.
    #
    # Cross-group: expand each verified rep pair through both member
    # lists (two planner-chosen joins keyed on gid; output-sized, all
    # the quadratic examination already happened at rep granularity).
    # The rep-level id_a < id_b ordering admits each group pair once,
    # so member ids just need re-orienting with least/greatest.
    def _members(side: str) -> DataFrame:
        cols = [
            F.col("gid").alias(f"id_{side}"),
            F.col("m.id").alias(f"mid_{side}"),
        ]
        if new_col:
            cols.append(F.col("m.is_new").alias(f"new_{side}"))
        return groups.select("gid", F.explode("members").alias("m")).select(
            *cols
        )

    cross = rep_pairs.join(_members("a"), "id_a").join(_members("b"), "id_b")
    if new_col:
        cross = cross.filter(F.col("new_a") | F.col("new_b"))
    cross = cross.select(
        F.least("mid_a", "mid_b").alias("id_a"),
        F.greatest("mid_a", "mid_b").alias("id_b"),
        "jaccard",
    )

    # Within-group: identical token sets, jaccard exactly 1.0 (=
    # |s|/|s|, bit-identical to what any engine computes) — no join
    # ever examines them. The empty token set is excluded: its
    # jaccard is DEFINED as 0.0 (same convention as the verify stage),
    # never >= a positive threshold. Nested explodes are narrow —
    # the expansion is output-sized, the unavoidable floor.
    intra = (
        groups.filter((F.size("members") > 1) & (F.col("n") > 0))
        .select(F.explode("members").alias("x"), "members")
        .select("x", F.explode("members").alias("y"))
        .filter(F.col("x.id") < F.col("y.id"))
    )
    if new_col:
        intra = intra.filter(F.col("x.is_new") | F.col("y.is_new"))
    intra = intra.select(
        F.col("x.id").alias("id_a"),
        F.col("y.id").alias("id_b"),
        F.lit(1.0).alias("jaccard"),
    )
    return cross.unionByName(intra)
