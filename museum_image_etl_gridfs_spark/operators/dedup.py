"""Deduplication operators.

Reference semantics (the one real query in the reference):
``src/transform_load.py:47-70`` groups ``artwork_metadata`` by
``object_id``, keeps groups with count > 1 (a MongoDB aggregation
pipeline), then deletes all but the first document of each group.
"Arrival order" there is nondeterministic; we pin keep-first with an
explicit ordering (SURVEY.md A3).

Scale notes:
- ``duplicate_groups`` / ``dedup_keep_first`` are single-shuffle hash
  aggregations / windows on the group key. At 100 TB the only risk is
  key skew, which AQE skew-join/partition-split handles; no
  driver-side materialization anywhere (the reference's
  ``list(coll.aggregate(...))`` pulls all duplicate groups into the
  client — we never do).
- MinHash/SimHash near-dup live here too: shingle -> sketch ->
  band -> self-join on (band, signature) buckets. The band self-join
  is the classic LSH trick that turns O(n^2) pair comparison into a
  bucket-local join — the only scalable shape at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.quality import fold_case, fold_case_py, words, words_py
from ..partitioning import spread


def duplicate_groups(
    df: DataFrame, keys: Sequence[str], min_count: int = 2
) -> DataFrame:
    """Groups appearing more than once: key cols + ``dup_count``.

    Spark form of the reference's $group/$match pipeline
    (``src/transform_load.py:48-50``): partial (map-side) + final hash
    aggregate, then a HAVING filter — one shuffle on the keys.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") >= min_count)
    )


def dedup_keep_first(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """Keep exactly one row per key group: the first under ``order_by``.

    Deterministic version of the reference's ``docs_list[0]`` keep /
    ``[1:]`` delete (``src/transform_load.py:57-70``) — the reference
    keeps arbitrary arrival order; we order explicitly (include a
    unique tiebreaker in ``order_by`` for full determinism).
    One shuffle; executed as a window row_number + filter, which AQE
    can skew-split. Equivalent to a left-anti of losers (S9/W1).
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Exact duplicate removal on ``columns`` (default: all).

    Hash-groupBy dedup — Spark plans ``dropDuplicates`` as a partial
    + final aggregate, so most duplicate elimination happens map-side
    before the shuffle.
    """
    return df.dropDuplicates(list(columns) if columns else None)


# ---------------------------------------------------------------------------
# Near-duplicate detection
# ---------------------------------------------------------------------------

# Mersenne prime 2^31-1: keeps a*h + b < 2^62, inside int64 even with
# ANSI overflow checking (Spark 4 default).
_MERSENNE = (1 << 31) - 1

#: coefficient seed of the MinHash universal hashes
_SEED = 42

#: largest post-collapse bucket compared in one task; a bigger bucket
#: is split into ``ceil(g / _BUCKET_CAP)`` chunks (see
#: :func:`minhash_near_duplicates`)
_BUCKET_CAP = 4096


def _rand_coeffs(n: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing, via a simple
    LCG so results are reproducible without numpy on executors."""
    coeffs = []
    state = seed & 0x7FFFFFFF or 1
    for _ in range(n):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state | 1  # odd, nonzero
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state
        coeffs.append((a, b))
    return coeffs


def shingles(text_col, k: int = 3) -> "F.Column":
    """Word k-shingle set of normalized text, as array<string>.

    Case-folded :func:`.quality.words` tokens, sliding window of k
    words (Broder '97 used word shingles); fewer than k tokens give one
    shingle, the tokens joined. Word shingles keep the set size
    ~n_tokens (vs ~n_chars for char shingles), which matters because
    higher-order array expressions are interpreted, not codegen'd.
    """
    toks = words(fold_case(text_col))
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        )
    )


def shingle_hashes(shingle_col) -> "F.Column":
    """xxhash64 of each shingle, reduced mod the Mersenne prime.

    Materialize this ONCE as its own column before fanning out to the
    per-permutation mins — otherwise each of the ``num_hashes``
    expressions re-hashes every shingle (a 64× blowup that Catalyst's
    CollapseProject is prevented from reintroducing because the
    reference is non-cheap).
    """
    return F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))


def _minhash_doc_rows(
    id_field, k: int, num_hashes: int, bands: int, with_new: bool = False,
):
    """mapInArrow worker: (id, text, fp) batches -> ONE row per
    document: (id, fp, sig array<long>, bhs array<long>) (+ the
    pass-through ``is_new`` flag when ``with_new``, for incremental
    mode). ``bhs[band]`` is the band's bucket hash.

    Vectorized numpy per document: shingle the token list, crc32 each
    shingle (deterministic across workers/runs, unlike PYTHONHASHSEED
    hashing), then all ``num_hashes`` affine mins in ONE numpy
    broadcast — a ~50-100x constant-factor win over evaluating the
    same arithmetic as interpreted Catalyst higher-order functions,
    and with none of their janino codegen cost on first run.

    The (doc, band) fan-out moved OUT of the kernel (r13, guide
    §2.3): band rows are now a JVM-side ``posexplode`` of the per-doc
    band-hash array, so the bucket exchange carries only (id, fp,
    band, band_hash) — the 64-long signature previously rode every
    one of the ``bands`` copies of each doc through that shuffle
    (16× replication of the widest column, 30.7 task-CPU-s at sf0.1).
    Signatures now cross the cluster once, attached post-candidate in
    :func:`minhash_near_duplicates`. Signature values, band hashes,
    and dtypes are bit-identical to the fan-out kernel's.
    """
    import zlib

    import numpy as np
    import pyarrow as pa

    coeffs = _rand_coeffs(num_hashes, _SEED)
    a = np.array([c[0] for c in coeffs], dtype=np.uint64)[:, None]
    b = np.array([c[1] for c in coeffs], dtype=np.uint64)[:, None]
    p = np.uint64(_MERSENNE)
    rpb = num_hashes // bands

    def fn(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            # int32 list offsets hold n·num_hashes values — raise
            # loudly instead of overflowing if a session ever pairs a
            # giant arrow batch size with a huge signature width
            # (ADVICE r12: the guard used to be a comment)
            if n * max(num_hashes, bands) >= 1 << 31:
                raise ValueError(
                    "arrow batch too large for int32 list offsets: "
                    f"{n} rows x {num_hashes} hashes"
                )
            texts = rb.column("text").to_pylist()
            sig_rows = np.empty((n, num_hashes), dtype=np.int64)
            band_hashes = np.empty((n, bands), dtype=np.int64)
            for i, text in enumerate(texts):
                toks = words_py(fold_case_py(text))
                if len(toks) < k:
                    sh = {" ".join(toks)}
                else:
                    sh = {
                        " ".join(toks[j : j + k])
                        for j in range(len(toks) - k + 1)
                    }
                h = np.fromiter(
                    (zlib.crc32(s.encode("utf-8")) for s in sh),
                    dtype=np.uint64,
                    count=len(sh),
                )
                # a*h+b < 2^62: exact in uint64, no overflow wrap
                sig = ((a * h[None, :] + b) % p).min(axis=1).astype(np.int64)
                sig_rows[i] = sig
                for band in range(bands):
                    band_hashes[i, band] = zlib.crc32(
                        sig[band * rpb : (band + 1) * rpb].tobytes()
                    )
            sig_arr = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(n + 1, dtype=np.int32) * num_hashes,
                    type=pa.int32(),
                ),
                pa.array(sig_rows.ravel(), type=pa.int64()),
            )
            bhs_arr = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(n + 1, dtype=np.int32) * bands,
                    type=pa.int32(),
                ),
                pa.array(band_hashes.ravel(), type=pa.int64()),
            )
            cols = [rb.column("id"), rb.column("fp"), sig_arr, bhs_arr]
            names = ["id", "fp", "sig", "bhs"]
            if with_new:
                cols.append(rb.column("is_new"))
                names.append("is_new")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    schema = (
        f"id {id_field.dataType.simpleString()}, fp long, sig array<long>, "
        "bhs array<long>"
    )
    if with_new:
        schema += ", is_new boolean"
    return fn, schema


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    min_jaccard: float = 0.5,
    new_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    ``new_col`` (boolean column) switches on INCREMENTAL mode — the
    approximate twin of ``ann.jaccard_pairs_blocked``'s
    ``new_col``: only pairs with at least one NEW member are emitted,
    and the result equals the full output filtered to those pairs
    (``tests/test_dedup.py`` pins that equivalence). Plan-level, not a
    post-filter: the batch's band-bucket keys come from an ``is_new``
    filter of the checkpointed sketch (no second sketch stage), the
    corpus' banded rows are left-semi pruned by that key set BEFORE
    the bucket shuffle (broadcasts when the batch is small — the
    corpus inventory is filtered map-side, never shuffled), old×old
    comparisons are rejected inside the bucket-local pair kernel, and
    all-old exact-dup star groups are dropped at the aggregate.

    Pipeline: shingle -> signature -> band hashes (ONE Arrow-batched
    per-doc sketch stage, see :func:`_minhash_doc_rows`, materialized
    behind a tracked localCheckpoint) -> JVM-side band explode ->
    repartition on the band bucket -> bucket-local candidate
    selection -> signatures joined back onto candidates -> Jaccard
    estimate from full signatures -> filter.

    Returns (id_a, id_b, jaccard_est) with id_a < id_b — a
    **star-closure-reduced** pair set: members of an exact-duplicate
    cluster appear only in (member, representative, 1.0) pairs, and
    cross pairs against other documents are emitted for the
    representative alone (see the exact-duplicate collapse below).
    The set is complete up to connected-component equivalence — the
    contract the dedup consumers (``near_dup_clusters`` /
    keep-canonical) need — NOT the full cross product of every
    qualifying pair. A consumer that needs the literal all-pairs list
    must re-expand by joining each exact-dup member onto its
    representative's pairs.

    Two guards make the bucket stage safe on real web corpora, where
    a boilerplate-heavy cluster can put millions of documents into
    ONE (band, band_hash) bucket:

    - **Exact-duplicate collapse.** Identical texts have identical
      signatures, so they share EVERY band bucket — the worst-case
      bucket is usually an exact-dup cluster. Each bucket keeps one
      representative per text fingerprint (``xxhash64(text)``, a
      window min — no giant arrays); the dropped members surface as
      (member, representative) pairs at ``jaccard_est = 1.0`` via a
      separate (id, fp)-only aggregate over the source (text never
      shuffles, the sketch never forks). For dedup decisions
      (connected components / keep-canonical) this star closure is
      equivalent to the O(g^2) all-pairs expansion it replaces, with
      O(g) output.
      64-bit fingerprint collisions (astronomically rare below ~2^32
      distinct texts) would mark two different texts 1.0 — the
      standard content-fingerprint trade.
    - **2D block decomposition.** A bucket still larger than
      ``_BUCKET_CAP`` after the collapse (many *distinct* near-identical
      docs) is split into ``ceil(g / _BUCKET_CAP)`` chunks; every chunk
      pair (i <= j) becomes its own task, so each task compares at
      most ``2 * _BUCKET_CAP`` signatures while the full pair set is
      still produced EXACTLY — no silent cap, no dropped candidates.
      Replication factor per member is ``nchunks``, so total work
      remains the bucket's inherent O(g^2/2), just bounded per task.

    Scale: the only shuffles are an up-front spread of the input, ONE
    narrow repartition on (band, band_hash) — the fp-collapse and
    blocking windows reuse that partitioning (their keys are
    supersets) — the post-candidate signature join (signatures move
    ONCE, vs riding all ``bands`` fan-out copies through the bucket
    shuffle pre-r13), the block groupBy over candidate rows, the
    narrow (fp, id) star aggregate/join, and the final pair dedup;
    candidate pairs are band-local so cost tracks true-duplicate
    density, not n^2.

    Sketching is CPU-bound, not IO-bound: parallelism must track
    cores, not input bytes. A small input (one parquet row group)
    would otherwise run the whole sketch on a single core — and AQE
    won't help, since it coalesces by byte size. ``spread`` adds the
    exchange ONLY in that under-split case; at 100 TB the scan's own
    splits provide the parallelism and no shuffle of (id, text) is
    emitted at all.
    """
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("num_hashes must be divisible by bands")
    # normalize once: the guards below mix truthiness (`if new_col`)
    # with identity (`new_col is not None` in the pair kernel); an
    # empty-string argument would build members WITHOUT an is_new
    # field but a kernel that indexes m["is_new"] → KeyError inside
    # mapInPandas. After this line both tests agree for every input.
    new_col = new_col or None

    src_cols = [
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.xxhash64(text_col).alias("fp"),
    ]
    if new_col:
        src_cols.append(F.col(new_col).cast("boolean").alias("is_new"))
    src = spread(df, id_col).select(*src_cols)
    fn, schema = _minhash_doc_rows(
        src.schema["id"], k, num_hashes, bands, with_new=bool(new_col)
    )
    # ONE sketch pass, materialized (r13, guide §2.3/§2.4): the
    # per-doc sketch relation — (id, fp, 64-long sig, band hashes),
    # ~0.6 KB/doc, a small fraction of the text it summarizes,
    # distributed MEMORY_AND_DISK — is read by the band explode, the
    # star-pair branch, the post-candidate signature join, and (in
    # incremental mode) the new-key prune. Without the checkpoint
    # each consumer would re-run the whole Python sketch (exchange
    # reuse never matches re-aliased subtrees); with it the corpus is
    # scanned ONCE (the star branch previously paid a second full
    # text scan) and the bucket shuffle sheds the signature column.
    # Tracked: callers release via lifecycle.release_checkpoints once
    # results are materialized, like every checkpoint in this repo.
    from .lifecycle import tracked_local_checkpoint

    sk = tracked_local_checkpoint(src.mapInArrow(fn, schema))

    new_cols = ["is_new"] if new_col else []
    banded = sk.select(
        "id", "fp", *new_cols,
        F.posexplode("bhs").alias("band", "band_hash"),
    )
    if new_col:
        # Incremental band prune: a qualifying pair shares a band
        # bucket with a NEW doc, so corpus rows outside the batch's
        # bucket-key set provably pair nothing. The keys are a filter
        # of the SAME checkpointed sketch (the pre-r13 shape paid a
        # second mapInArrow sketch over the batch to avoid forking the
        # un-materialized corpus sketch — moot now).
        new_keys = (
            sk.filter(F.col("is_new"))
            .select(F.posexplode("bhs").alias("band", "band_hash"))
            .distinct()
        )
        banded = banded.join(new_keys, ["band", "band_hash"], "left_semi")

    # Star pairs read the checkpointed sketch too — no second corpus
    # scan, no sketch fork.
    fp_ids = sk.select("id", "fp", *new_cols)
    rep_aggs = [F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("grp_n")]
    if new_col:
        # the representative's own flag (min_by id) + whether the
        # group contains ANY new member (all-old groups emit nothing)
        rep_aggs.append(F.min_by("is_new", "id").alias("rep_new"))
        rep_aggs.append(F.max("is_new").alias("grp_new"))
    dup_reps = fp_ids.groupBy("fp").agg(*rep_aggs).filter(F.col("grp_n") > 1)
    if new_col:
        dup_reps = dup_reps.filter(F.col("grp_new"))
        dup_reps = dup_reps.select("fp", "rep_id", "rep_new")
    else:
        dup_reps = dup_reps.select("fp", "rep_id")
    star_pairs = fp_ids.join(dup_reps, "fp").filter(
        F.col("id") != F.col("rep_id")
    )
    if new_col:
        star_pairs = star_pairs.filter(F.col("is_new") | F.col("rep_new"))
    star_pairs = star_pairs.select(
        F.least("id", "rep_id").alias("id_a"),
        F.greatest("id", "rep_id").alias("id_b"),
        F.lit(1.0).alias("jaccard_est"),
    )

    # ONE narrow exchange on the bucket key — (id, fp, band,
    # band_hash) only, the signature column stays out of the fan-out
    # (r13; it was 16× replicated here before). The collapse and
    # blocking windows key on supersets of (band, band_hash) and
    # reuse this partitioning.
    bucketed = banded.repartition("band", "band_hash")

    # Exact-duplicate collapse: one representative per text
    # fingerprint within the bucket. Window min streams through a
    # spillable buffer — no collect_list of the (possibly giant)
    # identical cluster anywhere.
    w_fp = Window.partitionBy("band", "band_hash", "fp")
    marked = bucketed.withColumn("rep_id", F.min("id").over(w_fp))

    # Block decomposition of the surviving (distinct-text) bucket:
    # row_number -> chunk in [0, nchunks); a member of chunk q joins
    # block task (q, j) for every j >= q and (i, q) for every i < q,
    # all in one explode so the bucket partitioning is preserved.
    w_b = Window.partitionBy("band", "band_hash")
    kept = (
        marked.filter(F.col("id") == F.col("rep_id"))
        .withColumn("g", F.count(F.lit(1)).over(w_b))
        .filter(F.col("g") > 1)
        .withColumn("rn", F.row_number().over(w_b.orderBy("id")))
        .withColumn(
            "nchunks", F.ceil(F.col("g") / F.lit(_BUCKET_CAP)).cast("int")
        )
        .withColumn("chunk", ((F.col("rn") - 1) % F.col("nchunks")).cast("int"))
    )
    # Attach signatures to CANDIDATE rows only (r13, guide §2.3
    # "shuffle keys and metadata instead of payloads"): ``kept`` holds
    # the band rows that survived the fp-collapse in a bucket with ≥2
    # distinct texts — usually a small fraction of the fan-out. The
    # per-doc sig relation reads the checkpoint (never re-sketches),
    # and each signature moves once instead of ``bands`` times. No
    # hint: AQE picks the join strategy from the measured shuffle size.
    kept = kept.join(sk.select("id", "sig"), "id")
    assignments = F.concat(
        F.transform(
            F.sequence(F.col("chunk"), F.col("nchunks") - 1),
            lambda j: F.struct(F.col("chunk").alias("bi"), j.alias("bj")),
        ),
        F.when(
            F.col("chunk") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("chunk") - 1),
                lambda i: F.struct(i.alias("bi"), F.col("chunk").alias("bj")),
            ),
        ).otherwise(F.array()),
    )
    member_cols = ["id", "sig", "chunk"] + (["is_new"] if new_col else [])
    blocks = kept.select(
        "band",
        "band_hash",
        "id",
        "sig",
        "chunk",
        *( ["is_new"] if new_col else [] ),
        F.explode(assignments).alias("blk"),
    ).select(
        "band",
        "band_hash",
        "id",
        "sig",
        "chunk",
        *( ["is_new"] if new_col else [] ),
        F.col("blk.bi").alias("bi"),
        F.col("blk.bj").alias("bj"),
    )
    tasks = (
        blocks.groupBy("band", "band_hash", "bi", "bj")
        .agg(F.collect_list(F.struct(*member_cols)).alias("ms"))
        .filter(F.size("ms") > 1)
    )

    id_type = sk.schema["id"].dataType.simpleString()
    incremental = new_col is not None

    def pair_fn(batches):
        import numpy as np
        import pandas as pd

        def _new(m) -> bool:  # old×old pairs are dead in incremental mode
            return m["is_new"] if incremental else True

        for pdf in batches:
            id_a, id_b, est = [], [], []
            for bi, bj, ms in zip(pdf["bi"], pdf["bj"], pdf["ms"]):
                if bi == bj:
                    members = sorted(ms, key=lambda m: m["id"])
                    sig_mat = np.array(
                        [np.asarray(m["sig"]) for m in members]
                    )
                    for i in range(len(members)):
                        eq = (sig_mat[i + 1 :] == sig_mat[i]).mean(axis=1)
                        for j, e in enumerate(eq, start=i + 1):
                            if e >= min_jaccard and (
                                _new(members[i]) or _new(members[j])
                            ):
                                id_a.append(members[i]["id"])
                                id_b.append(members[j]["id"])
                                est.append(float(e))
                else:
                    left = [m for m in ms if m["chunk"] == bi]
                    right = [m for m in ms if m["chunk"] == bj]
                    sig_r = np.array([np.asarray(m["sig"]) for m in right])
                    for m in left:
                        eq = (sig_r == np.asarray(m["sig"])).mean(axis=1)
                        for j, e in enumerate(eq):
                            if e >= min_jaccard and (
                                _new(m) or _new(right[j])
                            ):
                                lo, hi = sorted((m["id"], right[j]["id"]))
                                id_a.append(lo)
                                id_b.append(hi)
                                est.append(float(e))
            yield pd.DataFrame({"id_a": id_a, "id_b": id_b, "jaccard_est": est})

    pairs = tasks.mapInPandas(
        pair_fn, f"id_a {id_type}, id_b {id_type}, jaccard_est double"
    )
    return pairs.unionByName(star_pairs).dropDuplicates(["id_a", "id_b"])


def simhash(text_col, bits: int = 64) -> "F.Column":
    """64-bit SimHash of case-folded word tokens (Charikar '02).

    Per-token xxhash64; for each bit position sum +1/-1 weighted by
    the bit, take the sign. All JVM-side expressions.
    """
    hashes = F.transform(words(fold_case(text_col)), lambda tok: F.xxhash64(tok))

    # ONE pass (r12): the previous shape ran a separate F.aggregate
    # per bit, and each of the 64 aggregates re-evaluated the
    # ``hashes`` subtree — 64 tokenize+hash walks per row (expression
    # references re-run their subtree; only lambda-bound variables are
    # free). Now a single aggregate carries a 64-wide counter array:
    # the token hash ``h`` is bound in the step lambda, and the
    # sign→bit assembly runs in the finish lambda over the bound
    # accumulator. Contributions, signs, and bit placement are
    # arithmetically identical.
    zero = F.array(*[F.lit(0) for _ in range(bits)])

    def step(acc, h):
        return F.array(
            *[
                F.element_at(acc, i + 1)
                + F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
                for i in range(bits)
            ]
        )

    def finish(acc):
        total = F.lit(0).cast("long")
        for i in range(bits):
            total = total + F.when(
                F.element_at(acc, i + 1) > 0,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        return total

    return F.aggregate(hashes, zero, step, finish)


def hamming64(a, b) -> "F.Column":
    """Hamming distance between two int64 simhashes (bit_count of xor)."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)) if isinstance(a, str) else a.bitwiseXOR(b))


def ngram_jaccard(a_tokens, b_tokens) -> "F.Column":
    """Exact Jaccard similarity of two token arrays."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens))
    union = F.size(F.array_union(a_tokens, b_tokens))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
