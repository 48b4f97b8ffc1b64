"""Independent references and output checks (numpy, pyarrow, DuckDB).

Nothing here runs the package's Spark code. Registry queries are
checked against their DuckDB oracle SQL with the same order-insensitive
normalise-and-hash scheme the repository's correctness gate uses; the
museum ETL is checked against a reference re-derived from the
generator's own bookkeeping.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from fixtures import GRIDFS_CHUNK, NA_COLS, RAW_HEADER, MuseumCorpus

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalise dtypes, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a frame: ``(rows, columns, values)``
    after :func:`normalize`; floats compare to 10 significant digits."""
    df = normalize(df)
    h = hashlib.sha256(f"{len(df)}|{','.join(df.columns)}".encode())
    for c in df.columns:
        for v in df[c].tolist():
            if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
                h.update(b"\x00null")
            elif isinstance(v, float):
                h.update(f"{v:.10g}".encode())
            else:
                h.update(str(v).encode())
        h.update(b"\x01")
    return h.hexdigest()


# ---------------------------------------------------------------- MinHash


def _shingles(text: str, k: int = 5) -> set:
    toks = text.lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


class NearDupReference:
    """Exact word 5-shingle Jaccard over every document pair.

    ``minhash_near_dups`` is approximate, so it is held to what LSH with
    16 bands of 4 rows guarantees in practice: every pair with exact
    Jaccard >= 0.9 (miss chance below 1e-7 per pair) ends up in one
    connected component of the emitted pairs, and no emitted pair has
    exact Jaccard below 0.2 (its 64-hash estimate passed 0.4)."""

    def __init__(self, sf_dir: str):
        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
        ids = docs.column("doc_id").to_pylist()
        sh = [_shingles(t or "") for t in docs.column("text").to_pylist()]
        self.jaccard: dict[tuple[int, int], float] = {}
        self.strong: list[tuple[int, int]] = []
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                inter = len(sh[a] & sh[b])
                if inter:
                    j = inter / len(sh[a] | sh[b])
                    key = (min(ids[a], ids[b]), max(ids[a], ids[b]))
                    self.jaccard[key] = j
                    if j >= 0.9:
                        self.strong.append(key)

    def check(self, out: pd.DataFrame) -> list[str]:
        errs = []
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(out["id_a"].tolist(), out["id_b"].tolist()):
            if not a < b:
                errs.append(f"pair ({a}, {b}) not ordered")
            elif self.jaccard.get((a, b), 0.0) < 0.2:
                errs.append(f"pair ({a}, {b}) has exact Jaccard < 0.2")
            parent[find(a)] = find(b)
        missed = [p for p in self.strong if find(p[0]) != find(p[1])]
        if missed:
            errs.append(f"{len(missed)} pairs with Jaccard >= 0.9 not connected")
        return errs[:5]


# ---------------------------------------------------------------- museum

TX_SIZE = 224


def _resize_raw(blob: bytes) -> bytes | None:
    """Reference decode -> nearest-neighbour 224x224 -> RAW0 encode;
    None for a blob a RAW0 decoder must reject."""
    if len(blob) < RAW_HEADER.size:
        return None
    magic, w, h = RAW_HEADER.unpack_from(blob)
    if magic != b"RAW0" or len(blob) != RAW_HEADER.size + w * h * 3:
        return None
    arr = np.frombuffer(blob, np.uint8, offset=RAW_HEADER.size).reshape(h, w, 3)
    rows = np.arange(TX_SIZE) * h // TX_SIZE
    cols = np.arange(TX_SIZE) * w // TX_SIZE
    out = np.ascontiguousarray(arr[rows[:, None], cols[None, :], :])
    return RAW_HEADER.pack(b"RAW0", TX_SIZE, TX_SIZE) + out.tobytes()


def _md5(b: bytes) -> str:
    return hashlib.md5(b).hexdigest()


class MuseumReference:
    """Expected museum-ETL outputs for one generated corpus."""

    def __init__(self, corpus: MuseumCorpus, split_sql: str):
        na = ", ".join(
            f"CASE WHEN {c} IS NULL OR {c} = '' THEN 'NA' ELSE {c} END AS {c}"
            for c in NA_COLS
        )
        meta = duckdb.sql(f"""
            SELECT artwork_id, object_id, title, {na}, ingested_at,
                   {split_sql} AS split
            FROM (SELECT * EXCLUDE (image), ROW_NUMBER() OVER (
                      PARTITION BY object_id ORDER BY ingested_at, artwork_id) AS rn
                  FROM read_parquet('{corpus.path}'))
            WHERE rn = 1
        """).df()
        survivors = meta["artwork_id"].tolist()
        self.raw_md5 = {a: _md5(corpus.blobs[a]) for a in survivors}
        self.tx_md5 = {}
        for a in survivors:
            tx = _resize_raw(corpus.blobs[a])
            if tx is not None:
                self.tx_md5[a] = _md5(tx)
        self.quarantine = set(survivors) - set(self.tx_md5)
        if self.quarantine != set(corpus.corrupt_ids):
            raise RuntimeError("reference disagrees with the injected corruption")
        meta["raw_md5"] = meta["artwork_id"].map(self.raw_md5)
        meta["status"] = ["error" if a in self.quarantine else "ok" for a in survivors]
        self.meta_hash = value_hash(meta)

    def check(self, raw_dir: str, tx_dir: str, meta_dir: str) -> tuple[list[str], dict]:
        """Errors found in the three written outputs, and the chunk
        counts and bytes read back from the two buckets."""
        errs: list[str] = []
        counts = {"chunks": 0, "bytes": 0}
        for name, path, expect in (("raw", raw_dir, self.raw_md5), ("transformed", tx_dir, self.tx_md5)):
            got, n, nbytes = _reassemble_dir(path, errs, name)
            counts["chunks"] += n
            counts["bytes"] += nbytes
            if got != expect:
                bad = sorted(set(got.items()) ^ set(expect.items()))[:3]
                errs.append(f"{name} bucket differs from reference, e.g. {bad}")
        meta = pq.read_table(meta_dir).to_pandas()
        meta["status"] = meta["status"].str.split(":").str[0]
        counts["rows"] = len(meta)
        counts["ok"] = int((meta["status"] == "ok").sum())
        if value_hash(meta) != self.meta_hash:
            errs.append("metadata differs from reference")
        return errs, counts


def _reassemble_dir(path: str, errs: list[str], name: str) -> tuple[dict, int, int]:
    """files_id -> md5 of the ordered concatenation of its chunks, with
    the GridFS layout checked: n = 0..k-1, every chunk but the last
    exactly the chunk size."""
    t = pq.read_table(path, columns=["files_id", "n", "data"])
    pieces: dict[int, list] = defaultdict(list)
    for f, n, d in zip(t.column("files_id").to_pylist(), t.column("n").to_pylist(),
                       t.column("data").to_pylist()):
        pieces[f].append((n, d))
    out = {}
    for f, ps in pieces.items():
        ps.sort()
        if [n for n, _ in ps] != list(range(len(ps))) or any(
            len(d) != GRIDFS_CHUNK for _, d in ps[:-1]
        ) or len(ps[-1][1]) > GRIDFS_CHUNK:
            errs.append(f"{name} chunk layout broken for file {f}")
        out[f] = _md5(b"".join(d for _, d in ps))
    return out, t.num_rows, sum(len(d) for ps in pieces.values() for _, d in ps)
