"""ngram_novelty_profile on a synthetic documents fixture (written to
a tmp dir so the query's own ``load(spark, "documents", sf_dir)`` path
is exercised)."""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module")
def tiny_docs_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("tinydocs")
    rows = {
        "doc_id": [0, 1, 2, 3],
        # doc0: all-novel grams. doc1: exact copy of doc0 (zero
        # novelty). doc2: half doc0, half new. doc3: too short.
        "text": [
            "a b c d e f g h",
            "a b c d e f g h",
            "a b c d e z y x w v",
            "q r s",
        ],
        "lang": ["en"] * 4,
        "source": ["s0"] * 4,
        "n_chars": [15, 15, 19, 5],
    }
    pq.write_table(pa.table(rows), os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_novelty_profile_first_seen_semantics(spark, tiny_docs_dir):
    from museum_image_etl_gridfs_spark.plans.queries_dedup import (
        ngram_novelty_profile,
    )

    got = {
        r["doc_id"]: (r["n_grams"], r["novel_grams"], r["novelty_frac"])
        for r in ngram_novelty_profile(spark, tiny_docs_dir).collect()
    }
    # doc0: 4 distinct 5-grams, all first-seen here
    assert got[0] == (4, 4, 1.0)
    # doc1: identical text, every gram first seen in doc0
    assert got[1] == (4, 0, 0.0)
    # doc2: 6 grams; "a b c d e" is the only one shared with doc0
    assert got[2] == (6, 5, round(5 / 6, 6))
    # doc3: shorter than k -> zero grams, novelty 0.0 by convention
    assert got[3] == (0, 0, 0.0)
