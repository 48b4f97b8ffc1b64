"""Deduplication operators.

Reference semantics (the one real query in the reference):
``src/transform_load.py:47-70`` groups ``artwork_metadata`` by
``object_id``, keeps groups with count > 1 (a MongoDB aggregation
pipeline), then deletes all but the first document of each group.
"Arrival order" there is nondeterministic; we pin keep-first with an
explicit ordering (SURVEY.md A3).

Scale notes:
- ``dedup_keep_first`` is a single-shuffle window on the group key.
  At 100 TB the only risk is key skew, which AQE skew-join/partition-
  split handles; no driver-side materialization anywhere (the
  reference's ``list(coll.aggregate(...))`` pulls all duplicate groups
  into the client — we never do).
- MinHash near-dup lives here too: shingle -> sketch -> band ->
  self-join on (band, signature) buckets. The band self-join is the
  classic LSH trick that turns O(n^2) pair comparison into a
  bucket-local join — the only scalable shape at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.quality import fold_case_py, words_py
from ..partitioning import spread


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


def _minhash_doc_rows(id_field, k: int, num_hashes: int, bands: int):
    """mapInArrow worker: (id, text, fp) batches -> ONE row per
    document with at least one token: (id, fp, sig array<long>,
    bhs array<long>). ``bhs[band]`` is the band's bucket hash.

    Shingles are word k-shingles of the case-folded tokens
    (``words_py(fold_case_py(text))``); a document with fewer than k
    tokens has one shingle, its tokens joined. A document with no
    token (NULL, ``''``, all whitespace) has no shingle, so it gets no
    row and pairs with nothing: an empty set has Jaccard 0, as in
    ``ann.jaccard_pairs_blocked``.

    Vectorized numpy per document: crc32 each shingle (deterministic
    across workers/runs, unlike PYTHONHASHSEED hashing), then all
    ``num_hashes`` affine mins in ONE numpy broadcast — a ~50-100x
    constant-factor win over evaluating the same arithmetic as
    interpreted Catalyst higher-order functions, and with none of
    their janino codegen cost on first run.

    The (doc, band) fan-out is OUT of the kernel: band rows are a
    JVM-side ``posexplode`` of the per-doc band-hash array, so the
    bucket exchange carries only (id, fp, band, band_hash) and the
    64-long signature is not replicated ``bands`` times through that
    shuffle. Signatures cross the cluster once, attached
    post-candidate in :func:`minhash_near_duplicates`.
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
            texts = rb.column("text").to_pylist()
            toks = [words_py(fold_case_py(t)) for t in texts]
            keep = [bool(t) for t in toks]
            if not all(keep):
                rb = rb.filter(pa.array(keep))
                toks = [t for t in toks if t]
            n = rb.num_rows
            if n == 0:
                continue
            # int32 list offsets hold n·num_hashes values — raise
            # loudly instead of overflowing if a session ever pairs a
            # giant arrow batch size with a huge signature width
            if n * max(num_hashes, bands) >= 1 << 31:
                raise ValueError(
                    "arrow batch too large for int32 list offsets: "
                    f"{n} rows x {num_hashes} hashes"
                )
            sig_rows = np.empty((n, num_hashes), dtype=np.int64)
            band_hashes = np.empty((n, bands), dtype=np.int64)
            for i, doc in enumerate(toks):
                if len(doc) < k:
                    sh = {" ".join(doc)}
                else:
                    sh = {
                        " ".join(doc[j : j + k])
                        for j in range(len(doc) - k + 1)
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
            yield pa.RecordBatch.from_arrays(
                [rb.column("id"), rb.column("fp"), sig_arr, bhs_arr],
                names=["id", "fp", "sig", "bhs"],
            )

    schema = (
        f"id {id_field.dataType.simpleString()}, fp long, sig array<long>, "
        "bhs array<long>"
    )
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
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Pipeline: shingle -> signature -> band hashes (ONE Arrow-batched
    per-doc sketch stage, see :func:`_minhash_doc_rows`, materialized
    behind a tracked localCheckpoint) -> JVM-side band explode ->
    repartition on the band bucket -> bucket-local candidate
    selection -> signatures joined back onto candidates -> Jaccard
    estimate from full signatures -> filter. Documents with no token
    take no part (see :func:`_minhash_doc_rows`).

    Returns (id_a, id_b, jaccard_est) with id_a < id_b — a
    **star-closure-reduced** pair set: members of an exact-duplicate
    cluster appear only in (member, representative, 1.0) pairs, and
    cross pairs against other documents are emitted for the
    representative alone (see the exact-duplicate collapse below).
    The set is complete up to connected-component equivalence — the
    contract a dedup consumer (connected components, keep-canonical)
    needs — NOT the full cross product of every qualifying pair. A
    consumer that needs the literal all-pairs list must re-expand by
    joining each exact-dup member onto its representative's pairs.

    Two guards make the bucket stage safe on real web corpora, where
    a boilerplate-heavy cluster can put millions of documents into
    ONE (band, band_hash) bucket:

    - **Exact-duplicate collapse.** Identical texts have identical
      signatures, so they share EVERY band bucket — the worst-case
      bucket is usually an exact-dup cluster. Each bucket keeps one
      representative per text fingerprint (``xxhash64(text)``, a
      window min — no giant arrays); the dropped members surface as
      (member, representative) pairs at ``jaccard_est = 1.0`` via a
      separate (id, fp)-only aggregate over the sketch (text never
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
    ONCE, not with every one of the ``bands`` fan-out copies), the
    block groupBy over candidate rows, the narrow (fp, id) star
    aggregate/join, and the final pair dedup; candidate pairs are
    band-local so cost tracks true-duplicate density, not n^2.

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

    src = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.xxhash64(text_col).alias("fp"),
    )
    fn, schema = _minhash_doc_rows(src.schema["id"], k, num_hashes, bands)
    # ONE sketch pass, materialized: the per-doc sketch relation —
    # (id, fp, 64-long sig, band hashes), ~0.6 KB/doc, a small
    # fraction of the text it summarizes, distributed MEMORY_AND_DISK —
    # is read by the band explode, the star-pair branch and the
    # post-candidate signature join. Without the checkpoint each
    # consumer would re-run the whole Python sketch (exchange reuse
    # never matches re-aliased subtrees); with it the corpus is
    # scanned ONCE and the bucket shuffle sheds the signature column.
    # Tracked: callers release via lifecycle.release_checkpoints once
    # results are materialized, like every checkpoint in this repo.
    from .lifecycle import tracked_local_checkpoint

    sk = tracked_local_checkpoint(src.mapInArrow(fn, schema))

    banded = sk.select(
        "id", "fp", F.posexplode("bhs").alias("band", "band_hash")
    )

    # Star pairs read the checkpointed sketch too — no second corpus
    # scan, no sketch fork.
    fp_ids = sk.select("id", "fp")
    dup_reps = (
        fp_ids.groupBy("fp")
        .agg(F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("grp_n"))
        .filter(F.col("grp_n") > 1)
        .select("fp", "rep_id")
    )
    star_pairs = (
        fp_ids.join(dup_reps, "fp")
        .filter(F.col("id") != F.col("rep_id"))
        .select(
            F.least("id", "rep_id").alias("id_a"),
            F.greatest("id", "rep_id").alias("id_b"),
            F.lit(1.0).alias("jaccard_est"),
        )
    )

    # ONE narrow exchange on the bucket key — (id, fp, band,
    # band_hash) only, the signature column stays out of the fan-out.
    # The collapse and blocking windows key on supersets of (band,
    # band_hash) and reuse this partitioning.
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
    # Attach signatures to CANDIDATE rows only ("shuffle keys and
    # metadata instead of payloads"): ``kept`` holds the band rows that
    # survived the fp-collapse in a bucket with ≥2 distinct texts —
    # usually a small fraction of the fan-out. The per-doc sig relation
    # reads the checkpoint (never re-sketches), and each signature
    # moves once instead of ``bands`` times. No hint: AQE picks the
    # join strategy from the measured shuffle size.
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
    member_cols = ["id", "sig", "chunk"]
    blocks = kept.select(
        "band", "band_hash", *member_cols, F.explode(assignments).alias("blk")
    ).select(
        "band",
        "band_hash",
        *member_cols,
        F.col("blk.bi").alias("bi"),
        F.col("blk.bj").alias("bj"),
    )
    tasks = (
        blocks.groupBy("band", "band_hash", "bi", "bj")
        .agg(F.collect_list(F.struct(*member_cols)).alias("ms"))
        .filter(F.size("ms") > 1)
    )

    id_type = sk.schema["id"].dataType.simpleString()

    def pair_fn(batches):
        import numpy as np
        import pandas as pd

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
                            if e >= min_jaccard:
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
                            if e >= min_jaccard:
                                lo, hi = sorted((m["id"], right[j]["id"]))
                                id_a.append(lo)
                                id_b.append(hi)
                                est.append(float(e))
            yield pd.DataFrame({"id_a": id_a, "id_b": id_b, "jaccard_est": est})

    pairs = tasks.mapInPandas(
        pair_fn, f"id_a {id_type}, id_b {id_type}, jaccard_est double"
    )
    return pairs.unionByName(star_pairs).dropDuplicates(["id_a", "id_b"])
