"""duplicated_spans must return EXACTLY the gap-and-islands merge of
corpus-duplicated k-gram starts — parity against a brute-force Python
oracle, plus the structural edge cases (short docs, whole-doc dup,
self-repeat within one doc, partition invariance)."""

from __future__ import annotations

import random
import re

from museum_image_etl_gridfs_spark.operators.spans import (
    duplicated_spans,
    gram_occurrences,
)


def _brute_spans(docs: dict[int, str], k: int, min_count: int = 2):
    """Reference implementation: same semantics, plain Python."""
    occ: dict[str, int] = {}
    toks = {i: t.strip().lower().split() for i, t in docs.items()}
    pos: dict[int, list[int]] = {}
    for i, ts in toks.items():
        for p in range(1, len(ts) - k + 2):
            g = " ".join(ts[p - 1 : p - 1 + k])
            occ[g] = occ.get(g, 0) + 1
    for i, ts in toks.items():
        hits = []
        for p in range(1, len(ts) - k + 2):
            g = " ".join(ts[p - 1 : p - 1 + k])
            if occ[g] >= min_count:
                hits.append(p)
        pos[i] = hits
    spans = set()
    for i, hits in pos.items():
        run: list[int] = []
        for p in hits:
            if run and p - run[-1] <= k:
                run.append(p)
            else:
                if run:
                    spans.add((i, run[0], run[-1] + k - 1))
                run = [p]
        if run:
            spans.add((i, run[0], run[-1] + k - 1))
    return spans


def _run(spark, docs: dict[int, str], k: int):
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = duplicated_spans(df, k=k).collect()
    return {(r["doc_id"], r["span_start"], r["span_end"]) for r in got}


def test_brute_force_parity_random(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for i in range(40)
    }
    for k in (2, 3, 5):
        assert _run(spark, docs, k) == _brute_spans(docs, k), f"k={k}"


def test_whole_doc_duplicate_is_one_span(spark):
    text = " ".join(f"t{i}" for i in range(20))
    docs = {1: text, 2: text, 3: "unique words only here today friend"}
    spans = _run(spark, docs, 5)
    assert spans == {(1, 1, 20), (2, 1, 20)}


def test_within_doc_repeat_counts(spark):
    # the repeated phrase occurs twice in ONE doc -> dedups against
    # itself (suffix-array semantics), nothing else in the corpus
    phrase = "a b c d e"
    docs = {1: f"{phrase} x y z q r {phrase}", 2: "p q r s t u v w"}
    spans = _run(spark, docs, 5)
    assert spans == {(1, 1, 5), (1, 11, 15)}
    # min_count=3 would clear it
    assert _brute_spans(docs, 5, min_count=3) == set()


def test_short_docs_emit_nothing(spark):
    docs = {1: "a b c", 2: "a b c", 3: ""}
    assert _run(spark, docs, 5) == set()
    # but duplicate at their own granularity
    assert _run(spark, docs, 3) == {(1, 1, 3), (2, 1, 3)}


def test_touching_ranges_fuse(spark):
    # duplicated grams at starts 1 and 1+k -> covered ranges touch
    # (1..k, k+1..2k) and must fuse into one span
    a = "g1 g2 g3 m1 m2 m3"  # k=3: grams at 1..4
    docs = {1: a + " tail1 x1 y1", 2: a + " tail2 x2 y2"}
    spans = _run(spark, docs, 3)
    assert spans == {(1, 1, 6), (2, 1, 6)}


def test_partition_invariance(spark):
    rng = random.Random(11)
    vocab = [f"v{i}" for i in range(8)]
    docs = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 25)))
        for i in range(30)
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    one = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(df.coalesce(1), k=4).collect()
    }
    many = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(df.repartition(16), k=4).collect()
    }
    assert one == many == _brute_spans(docs, 4)


def test_gram_occurrences_positions(spark):
    df = spark.createDataFrame([(1, "A b  C d")], "doc_id long, text string")
    rows = gram_occurrences(df, k=2).collect()
    got = {(r["pos"], r["gram"]) for r in rows}
    assert got == {(1, "a b"), (2, "b c"), (3, "c d")}


def test_gram_hash_occurrences_positions_match_string_path(spark):
    """The codegen hash-gram path must produce exactly the (id, pos)
    occurrence set of the string path, and equal hashes exactly where
    the string grams are equal."""
    from museum_image_etl_gridfs_spark.operators.spans import (
        gram_hash_occurrences,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b"),
            (2, "a b c x y z"),
            (3, "one two"),     # shorter than k -> no grams
            (4, None),
            (5, "a b c a b c a b"),  # duplicate doc
        ],
        ["doc_id", "text"],
    )
    k = 3
    s = {
        (r["doc_id"], r["pos"]): r["gram"]
        for r in gram_occurrences(df, k=k).collect()
    }
    h = {
        (r["doc_id"], r["pos"]): r["__gh"]
        for r in gram_hash_occurrences(df, k=k).collect()
    }
    assert set(s) == set(h)
    for key_a, g_a in s.items():
        for key_b, g_b in s.items():
            assert (g_a == g_b) == (h[key_a] == h[key_b]), (key_a, key_b)


def test_inventory_checkpointed_for_every_source(spark):
    """duplicated_spans builds ONE plan whatever the source: a
    createDataFrame corpus (no Catalyst size estimate) and an equal
    spark.range-built corpus both read the gram inventory from its
    checkpoint, and both give the same spans."""
    rows = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon nine ten eleven",
        "unrelated words entirely different content here now",
    ] * 4
    from_rows = spark.createDataFrame(
        list(enumerate(rows)), "doc_id long, text string"
    )
    texts = ", ".join(f"'{t}'" for t in rows)
    from_range = spark.range(len(rows)).selectExpr(
        "id as doc_id", f"element_at(array({texts}), cast(id + 1 as int)) as text"
    )
    # the checkpointed inventory is an ExistingRDD scan that carries
    # the gram-hash column __gh
    inv_scan = re.compile(r"Scan ExistingRDD\[[^\]]*__gh")
    got = []
    for df in (from_rows, from_range):
        spans = duplicated_spans(df, k=3)
        plan = spans._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert inv_scan.search(plan)
        got.append(
            sorted(
                (r["doc_id"], r["span_start"], r["span_end"])
                for r in spans.collect()
            )
        )
    assert got[0] == got[1] and got[0]
