"""Product Quantization (PQ) — compressed ANN for the 100 TB shelf.

Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (IEEE TPAMI 2011): split each d-dim vector into ``m``
contiguous subvectors, k-means each subspace independently (the
codebooks), store every vector as ``m`` small code integers, and
answer queries with Asymmetric Distance Computation (ADC) — the query
stays exact, each corpus vector's distance is the sum of ``m``
precomputed table lookups. A 64-float embedding becomes 4 bytes of
codes at m=4/k=16: the index that no longer fits in cluster memory as
floats fits 64x over as codes, which is the entire point at 100 TB.

Spark-first execution, same shape as ``operators/kmeans.py``:

- **Codebooks are driver state, data never moves.** One Lloyd
  iteration = ONE corpus scan covering ALL m subspaces (the kernel
  slices each Arrow batch per subspace and emits ≤ m·k partial rows
  per batch); the driver sums O(m·k·partitions) partials. Training m
  codebooks costs the same scans as training one.
- **Assignment/encoding is a vectorized matmul per batch** inside
  mapInPandas — no per-row Python, no shuffle.
- **ADC scoring is a numpy table gather per batch**: the per-query
  m×k distance table (computed driver-side from the codebooks — tiny)
  ships in the closure; scoring the corpus is ``table[s, code_s]``
  sums, never a float-vector distance. Final rank via the two-phase
  ``grouped_topk`` merge.
- **Deterministic**: subspace seeds are the k lowest-id vectors'
  subvectors, ties argmin to the lowest code, empty codes keep their
  previous centroid — no RNG, reruns are bit-identical (golden-
  pinnable; there is no SQL oracle for iterative Lloyd's).

Reference parity: no vector search in the reference
(/root/reference/src/transform_load.py) — extension surface; the
published algorithm is the specification.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import spread
from .topk import grouped_topk


def _check_dims(dim: int, m: int) -> int:
    if m < 1 or dim % m:
        raise ValueError(f"m={m} must divide the vector dim {dim}")
    return dim // m


def _pq_partials(codebooks: np.ndarray, vec_col: str):
    """Per-batch partial (subspace, code, cnt, vsum) rows covering ALL
    subspaces in one pass — m·k codebook state, one corpus scan per
    Lloyd iteration regardless of m."""
    cb = codebooks.astype(np.float64)  # (m, k, dsub)
    m, _, dsub = cb.shape
    cb_sq = (cb * cb).sum(axis=2)  # (m, k)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out_s, out_c, out_n, out_v = [], [], [], []
            for s in range(m):
                xs = x[:, s * dsub : (s + 1) * dsub]
                d = (
                    (xs * xs).sum(axis=1)[:, None]
                    - 2.0 * (xs @ cb[s].T)
                    + cb_sq[s][None, :]
                )
                lab = d.argmin(axis=1)  # ties -> lowest code
                for cl in np.unique(lab):
                    msk = lab == cl
                    out_s.append(s)
                    out_c.append(int(cl))
                    out_n.append(int(msk.sum()))
                    out_v.append(xs[msk].sum(axis=0).tolist())
            yield pd.DataFrame(
                {
                    "sub": out_s,
                    "code": out_c,
                    "cnt": out_n,
                    "vsum": out_v,
                }
            )

    return run


def pq_fit(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    n_iter: int = 5,
) -> np.ndarray:
    """Train the m per-subspace codebooks; returns (m, k, dim/m)
    float64. Seeds are the k lowest-``id_col`` vectors' subvectors
    (deterministic — the ``kmeans_fit`` convention)."""
    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("pq_fit: empty input")
    dsub = _check_dims(len(first[vec_col]), m)
    seed_rows = emb.orderBy(id_col).limit(k).select(vec_col).collect()
    if len(seed_rows) < k:
        raise ValueError(f"need >= {k} vectors, got {len(seed_rows)}")
    seeds = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in seed_rows]
    )
    codebooks = np.stack(
        [seeds[:, s * dsub : (s + 1) * dsub] for s in range(m)]
    )  # (m, k, dsub)
    data = emb.select(vec_col)
    for _ in range(n_iter):
        partials = data.mapInPandas(
            _pq_partials(codebooks, vec_col),
            "sub int, code int, cnt long, vsum array<double>",
        ).collect()
        counts = np.zeros((m, k))
        sums = np.zeros_like(codebooks)
        # stable accumulation order so refits are bit-identical
        for row in sorted(
            partials, key=lambda r: (r["sub"], r["code"], r["cnt"], r["vsum"])
        ):
            counts[row["sub"], row["code"]] += row["cnt"]
            sums[row["sub"], row["code"]] += np.asarray(row["vsum"])
        nonempty = counts > 0
        codebooks = np.where(
            nonempty[:, :, None],
            sums / np.maximum(counts, 1)[:, :, None],
            codebooks,
        )
    return codebooks


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-centroid codes. Returns
    (id, codes array<int>) — the compressed index relation one would
    persist instead of the float vectors."""
    cb = codebooks.astype(np.float64)
    m, _, dsub = cb.shape
    cb_sq = (cb * cb).sum(axis=2)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((len(x), m), dtype=np.int32)
            for s in range(m):
                xs = x[:, s * dsub : (s + 1) * dsub]
                d = (
                    (xs * xs).sum(axis=1)[:, None]
                    - 2.0 * (xs @ cb[s].T)
                    + cb_sq[s][None, :]
                )
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"id": pdf[id_col].values, "codes": list(codes)}
            )

    id_type = emb.schema[id_col].dataType.simpleString()
    return (
        spread(emb.select(id_col, vec_col), id_col)
        .mapInPandas(run, f"id {id_type}, codes array<int>")
        .withColumnRenamed("id", id_col)
    )


def adc_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: list[tuple],
    *,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    top_k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Asymmetric Distance Computation top-k over the CODES relation.

    ``queries`` is a small driver-side list of (qid, vector) — the ADC
    table (len(queries)·m·k floats) is computed here and ships in the
    closure; each corpus row's approximate squared distance is m table
    gathers, no float vectors touched. Returns (qid, neighbor_id,
    approx_sq_dist), self-matches (qid == id) excluded.
    """
    cb = codebooks.astype(np.float64)
    m, k, dsub = cb.shape
    qids, tables = [], []
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        if q.shape[0] != m * dsub:
            raise ValueError("query dim does not match the codebooks")
        t = np.stack(
            [
                (
                    (cb[s] - q[s * dsub : (s + 1) * dsub][None, :]) ** 2
                ).sum(axis=1)
                for s in range(m)
            ]
        )  # (m, k)
        qids.append(qid)
        tables.append(t)
    tab = np.stack(tables) if tables else np.zeros((0, m, k))

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.stack([np.asarray(v) for v in pdf[codes_col]])  # (n, m)
            ids = pdf["__id"].values
            for qi, qid in enumerate(qids):
                # gather: dist = sum_s tab[qi, s, code_s]
                d = tab[qi][np.arange(m)[None, :], c].sum(axis=1)
                keep = ids != qid
                yield pd.DataFrame(
                    {
                        "qid": np.full(keep.sum(), qid),
                        "neighbor_id": ids[keep],
                        "approx_sq_dist": np.round(d[keep], round_to),
                    }
                )

    id_type = codes.schema[id_col].dataType.simpleString()
    scored = (
        spread(codes.select(F.col(id_col).alias("__id"), codes_col), "__id")
        .mapInPandas(
            run,
            f"qid {id_type}, neighbor_id {id_type}, approx_sq_dist double",
        )
    )
    return grouped_topk(
        scored,
        ["qid"],
        [("approx_sq_dist", True), ("neighbor_id", True)],
        top_k,
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: list[tuple],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    k: int = 16,
    n_iter: int = 5,
    top_k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """IVF-PQ (Jégou et al. TPAMI 2011 §IV — the composition every
    production vector index ships): coarse-quantize into ``k_cells``
    IVF cells (``operators/ann.py::assign_cells``), PQ-encode each
    vector's RESIDUAL against its cell centroid (residuals are far
    better centered than raw vectors, so the same code budget buys
    less quantization error), and answer queries by probing the
    ``n_probe`` nearest cells with per-(query, cell) ADC tables built
    from the query's residual against that cell's centroid.

    Scale shape: cells prune the corpus (only ~n_probe/k_cells of the
    codes are scored per query) AND the scored side is code bytes,
    not floats — the two multiplicative reductions that make
    billion-vector search fit a cluster. Driver state: k_cells
    centroids + m·k codebooks + len(queries)·n_probe ADC tables, all
    corpus-size-independent. Deterministic end to end (seeded
    assign_cells + seeded Lloyd's): golden-pinnable.
    """
    from .ann import assign_cells

    cent_df, assigned = assign_cells(
        emb, id_col=id_col, vec_col=vec_col, k_cells=k_cells
    )
    # O(k_cells·dim) driver collect — the documented IVF model state
    cents = {
        r["cell_id"]: np.asarray(r["centroid"], dtype=np.float64)
        for r in cent_df.collect()
    }
    cmat = np.stack([cents[c] for c in sorted(cents)])
    cent_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in cents[c]])
            for c in sorted(cents)
        ]
    )
    res_df = assigned.select(
        id_col,
        "cell_id",
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.element_at(cent_lit, (F.col("cell_id") + 1).cast("int")),
            lambda a, b: a - b,
        ).alias("res"),
    )
    # Materialize the residual relation ONCE (r12, guide §2.4/§5):
    # it is consumed n_iter times by the Lloyd scans plus twice more
    # (encode + cell_id re-attach), and every un-checkpointed consumer
    # re-ran the whole upstream chain — corpus scan, 16-way centroid
    # broadcast join, per-vector row_number window, interpreted
    # zip_with residual — 7-8 times per build. Same storage contract
    # as every tracked checkpoint (caller releases via
    # lifecycle.release_checkpoints).
    from .lifecycle import tracked_local_checkpoint

    res_df = tracked_local_checkpoint(res_df)
    codebooks = pq_fit(
        res_df, id_col=id_col, vec_col="res", m=m, k=k, n_iter=n_iter
    )
    codes = pq_encode(res_df, codebooks, id_col=id_col, vec_col="res").join(
        res_df.select(id_col, "cell_id"), id_col
    )

    cb = codebooks.astype(np.float64)
    dsub = cb.shape[2]
    probes: dict = {}
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        cell_d = ((cmat - q[None, :]) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(len(cell_d)), cell_d))[:n_probe]
        for cell in order:
            qres = q - cmat[cell]
            probes[(qid, int(cell))] = np.stack(
                [
                    (
                        (cb[s] - qres[s * dsub : (s + 1) * dsub][None, :])
                        ** 2
                    ).sum(axis=1)
                    for s in range(m)
                ]
            )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.stack([np.asarray(v) for v in pdf["codes"]])
            ids = pdf["__id"].values
            cells = pdf["cell_id"].values
            for (qid, cell), tab in probes.items():
                in_cell = (cells == cell) & (ids != qid)
                if not in_cell.any():
                    continue
                d = tab[np.arange(m)[None, :], c[in_cell]].sum(axis=1)
                yield pd.DataFrame(
                    {
                        "qid": np.full(in_cell.sum(), qid),
                        "neighbor_id": ids[in_cell],
                        "approx_sq_dist": np.round(d, round_to),
                    }
                )

    id_type = emb.schema[id_col].dataType.simpleString()
    scored = spread(
        codes.select(
            F.col(id_col).alias("__id"), "cell_id", "codes"
        ),
        "__id",
    ).mapInPandas(
        run, f"qid {id_type}, neighbor_id {id_type}, approx_sq_dist double"
    )
    return grouped_topk(
        scored,
        ["qid"],
        [("approx_sq_dist", True), ("neighbor_id", True)],
        top_k,
    )
