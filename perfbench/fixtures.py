"""Seeded input generators for the benchmark workloads.

Two corpora, both a pure function of ``(seed, size)``:

- :func:`write_tables` writes the ten catalog tables (TPC-H-shaped
  ``region`` .. ``lineitem`` plus ``events``, ``documents`` and
  ``embeddings``) with the schemas and value distributions the package's
  registry queries are written against. ``scale`` follows the TPC-H
  convention: 0.01 gives 1500 customers and 60000 line items.
- :func:`write_museum` writes one ``artworks`` parquet file: dirty
  metadata, duplicate ``object_id`` groups and RAW0 images (12-byte
  ``RAW0|w|h`` header + RGB bytes) whose sizes straddle the 261120-byte
  GridFS chunk, about 1% of them corrupt.

Only numpy and pyarrow are used; nothing here imports the package.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark query table join key value row column scan filter "
    "group agg sort hash merge window stream batch line order part "
    "customer small big fast slow vector dup"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
P_ADJ = ("small", "red", "blue", "old", "new", "hot", "cold")
P_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate")

_DAY_US = 86_400_000_000


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _documents(rng, n_docs: int):
    """Word soup over :data:`VOCAB`, 8-90 words each; about 3% of
    documents are near-copies of an earlier one of 50 words or more with
    one of its last two words replaced, so word 5-shingle Jaccard within
    a copy pair is at least 0.9."""
    lens = rng.permutation(np.resize(np.arange(8, 91), n_docs))  # same multiset per seed
    words = [list(rng.choice(VOCAB, k)) for k in lens]
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        src = list(words[int(rng.integers(0, i))])
        if len(src) < 50:
            continue
        j = len(src) - 1 - int(rng.integers(0, 2))
        src[j] = VOCAB[(VOCAB.index(src[j]) + 1) % len(VOCAB)]
        words[i] = src
    texts = [" ".join(w) for w in words]
    return texts


def write_tables(out_dir: str, seed: int, scale: float) -> str:
    """Write the catalog tables for ``scale`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * scale))
    n_orders = 10 * n_cust
    n_line = 4 * n_orders
    n_part = max(200, round(200_000 * scale))
    n_supp = max(10, round(10_000 * scale))
    n_events = max(1000, round(1_000_000 * scale))
    n_users = n_cust // 10
    n_docs = max(100, round(50_000 * scale))
    n_vecs = max(100, round(50_000 * scale))
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(p("part"), {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    _write(p("orders"), {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_orders),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    _write(p("events"), {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _documents(rng, n_docs)
    _write(p("documents"), {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = 0.15 * centers[labels] + rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out_dir


# ---------------------------------------------------------------- museum

GRIDFS_CHUNK = 261_120
RAW_HEADER = struct.Struct("<4sii")
NA_COLS = ("artist", "culture", "period", "object_date", "medium")
_NA_VALUES = {
    "artist": ("Rembrandt", "Hokusai", "Kahlo", "Unknown Maker"),
    "culture": ("Dutch", "Japanese", "Mexican", "Roman"),
    "period": ("Edo", "Baroque", "Modern", "Imperial"),
    "object_date": ("1642", "ca. 1830", "1939", "2nd century"),
    "medium": ("Oil on canvas", "Woodblock print", "Bronze", "Ink"),
}


@dataclass(frozen=True)
class MuseumCorpus:
    """What the generator knows about the corpus it wrote."""

    path: str
    corrupt_ids: frozenset[int]
    #: artwork_id -> raw blob as written
    blobs: dict[int, bytes]


def write_museum(path: str, seed: int, n_objects: int) -> MuseumCorpus:
    """Artwork records for ``n_objects`` objects, a quarter of them
    ingested 2-3 times. The first record of a group (earliest
    ``ingested_at``, then lowest ``artwork_id``) is the keep-first
    survivor; ties on ``ingested_at`` are generated on purpose. Corrupt
    blobs are injected only into survivors, so every one of them must
    reach the image stage and be quarantined there."""
    rng = np.random.default_rng(seed)
    # group sizes and image sides are fixed multisets, permuted by the
    # seed, so every seed does the same amount of work
    copies = rng.permutation(np.resize([2, 3, 1, 1, 1, 1, 1, 1], n_objects))
    object_id = np.repeat(rng.permutation(n_objects * 10)[:n_objects], copies)
    first = np.r_[True, object_id[1:] != object_id[:-1]]
    n = len(object_id)
    base = rng.integers(0, 365 * _DAY_US, n_objects)
    offset = np.where(first, 0, rng.integers(0, 3, n) * 3_600_000_000)
    ingested = np.repeat(base, copies) + offset
    order = rng.permutation(n)  # artwork_id order is independent of groups
    artwork_id = np.empty(n, dtype=np.int64)
    artwork_id[order] = np.arange(n)
    # a tied duplicate must lose on artwork_id: swap ids where needed
    for i in np.flatnonzero(~first & (offset == 0)):
        j = i - 1
        while not first[j]:
            j -= 1
        if artwork_id[i] < artwork_id[j]:
            artwork_id[i], artwork_id[j] = artwork_id[j], artwork_id[i]
    survivors = np.flatnonzero(first)
    corrupt = set(rng.choice(survivors, max(1, n // 100), replace=False).tolist())
    # side lengths straddle the chunk: 1-chunk and 2-chunk blobs, plus
    # a few whose byte size lands exactly on the chunk boundary
    ws = rng.permutation(np.linspace(180, 419, n).astype(int))
    hs = rng.permutation(np.linspace(180, 419, n).astype(int))
    ws[::97], hs[::97] = 7253, 12  # 12 + 3*w*h == 261120 exactly
    # pixels are noise, incompressible like real image bytes; each image
    # is a slice of one noise canvas shifted by a per-image constant
    canvas = rng.integers(0, 256, (420, 7253, 3), dtype=np.uint8)
    blobs = []
    for i in range(n):
        w, h = int(ws[i]), int(hs[i])
        px = canvas[:h, :w] + np.uint8(i * 11 % 256)  # wraps mod 256
        b = RAW_HEADER.pack(b"RAW0", w, h) + px.tobytes()
        if i in corrupt:
            b = b"JUNK" + b[4:] if i % 2 else b[: len(b) // 2]
        blobs.append(b)
    cols = {"artwork_id": artwork_id, "object_id": object_id.astype(np.int64)}
    cols["title"] = [f"Artwork {o}" for o in object_id]
    for c in NA_COLS:
        vals = rng.choice(_NA_VALUES[c], n).astype(object)
        dirt = rng.random(n)
        vals[dirt < 0.1] = None
        vals[(dirt >= 0.1) & (dirt < 0.2)] = ""
        cols[c] = pa.array(vals, pa.string())
    cols["ingested_at"] = np.datetime64("2023-01-01", "us") + ingested.astype(
        "timedelta64[us]"
    )
    cols["image"] = pa.array(blobs, pa.binary())
    pq.write_table(pa.table(cols), path, compression="none", row_group_size=64)
    corrupt_ids = frozenset(int(artwork_id[i]) for i in corrupt)
    by_id = {int(a): b for a, b in zip(artwork_id, blobs)}
    return MuseumCorpus(path, corrupt_ids, by_id)
