"""The one whitespace tokenizer (functions/quality.py) in its three
forms — Spark column, DuckDB SQL and Python — gives the same tokens on
every input, including the characters where the engines' own
whitespace classes and ``lower`` disagree; the text fingerprint and
solid character count derived from it agree likewise."""

from __future__ import annotations

import hashlib
import string

import duckdb
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from museum_image_etl_gridfs_spark.functions import quality as Q
from museum_image_etl_gridfs_spark.functions import text as TX

#: the tokenizer's whitespace, the separators Python's ``str.split()``
#: or RE2's ``\s`` treat differently, and letters whose ``lower``
#: differs between Spark, DuckDB and Python (word-final Σ, İ)
ALPHABET = (
    string.ascii_letters + " \t\n\x0b\f\r"
    + "\x1c\x1d\x1e\x1f\x85\xa0\u2003"
    + "ΣΟΔσςİıIéÉßẞÅǅΩ"
)

docs = st.lists(
    st.one_of(st.none(), st.text(alphabet=ALPHABET, max_size=16)),
    min_size=1,
    max_size=40,
)


@settings(max_examples=40, deadline=None)
@given(texts=docs)
def test_three_forms_agree(spark, texts):
    """One drawn batch is one Spark job and one DuckDB query."""
    rows = [(i, t) for i, t in enumerate(texts)]
    got = {
        r["i"]: r
        for r in spark.createDataFrame(rows, "i int, text string").select(
            "i",
            Q.words("text").alias("w"),
            Q.words(Q.fold_case("text")).alias("wf"),
            TX.token_count("text").alias("n"),
            TX.fingerprint("text").alias("fp"),
            Q.solid_len("text").alias("solid"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("d", pa.table({"i": [i for i, _ in rows], "text": texts}))
    want = {
        r[0]: r[1:]
        for r in con.execute(
            f"SELECT i, {Q.words_sql('text')}, "
            f"{Q.words_sql(Q.fold_case_sql('text'))}, "
            f"{TX.fingerprint_sql('text')}, {Q.solid_len_sql('text')} FROM d"
        ).fetchall()
    }
    for i, t in rows:
        w, wf = Q.words_py(t), Q.words_py(Q.fold_case_py(t))
        assert got[i]["w"] == want[i][0] == w, repr(t)
        assert got[i]["wf"] == want[i][1] == wf, repr(t)
        assert "" not in w
        if t is None or not t.strip(" \t\n\x0b\f\r"):
            assert w == []
        assert got[i]["n"] == len(w)
        fp = hashlib.md5(" ".join(wf).encode()).hexdigest()
        assert got[i]["fp"] == want[i][2] == fp, repr(t)
        assert got[i]["solid"] == want[i][3] == len("".join(w)), repr(t)
