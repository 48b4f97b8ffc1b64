"""Connected components: known graphs, long chains, random graphs
against a BFS reference, NULL rejection, canonical pick."""

from __future__ import annotations

import random

import pytest

from museum_image_etl_gridfs_spark.operators.components import (
    canonical_per_cluster,
    connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_chain_collapses_to_one_component(spark):
    # 1-2, 2-3, 3-4: a dup chain must be ONE cluster
    cc = connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4)]))
    got = {r["vertex"]: r["component"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_separate_components(spark):
    cc = connected_components(_edges(spark, [(1, 2), (10, 11), (11, 12), (20, 21)]))
    got = {r["vertex"]: r["component"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_converges(spark):
    n = 12  # diameter 11
    cc = connected_components(_edges(spark, [(i, i + 1) for i in range(n)]))
    comps = {r["component"] for r in cc.collect()}
    assert comps == {0}


def test_canonical_per_cluster(spark):
    cc = connected_components(_edges(spark, [(5, 9), (9, 7), (2, 3)]))
    cans = {
        r["component"]: (r["canonical_vertex"], r["cluster_size"])
        for r in canonical_per_cluster(cc).collect()
    }
    assert cans == {5: (5, 3), 2: (2, 2)}


def test_null_endpoint_raises(spark):
    # a NULL id is no vertex: dropping its edge would silently split a
    # cluster, so the closure refuses the input
    edges = _edges(spark, [(1, 2), (2, None), (None, 3), (4, 4)])
    with pytest.raises(Exception, match="NULL id_a endpoint"):
        connected_components(edges).collect()


def test_relabelled_long_chain_is_one_component(spark):
    # diameter 9,999 under a random labelling: the path order carries
    # no hint of the min id
    n = 10_000
    ids = random.Random(7).sample(range(10**9), n)
    cc = connected_components(_edges(spark, list(zip(ids, ids[1:]))))
    got = cc.collect()
    assert len(got) == n
    assert {r["component"] for r in got} == {min(ids)}


def _bfs_min_component(pairs):
    """Reference closure: breadth-first search per component."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    comp: dict = {}
    for start in adj:
        if start in comp:
            continue
        seen, frontier = {start}, [start]
        while frontier:
            frontier = [w for x in frontier for w in adj[x] if w not in seen]
            seen.update(frontier)
        for x in seen:
            comp[x] = min(seen)
    return comp


def _random_graph(seed, n=600):
    """Long, branching components (each vertex hooks to one of the
    three before it in a random order, with ~1% breaks), a few
    long-range edges, self-loops, duplicates and reversed edges."""
    rng = random.Random(seed)
    ids = rng.sample(range(10**6), n)
    pairs = [
        (ids[k], ids[k - rng.randint(1, min(3, k))])
        for k in range(1, n)
        if rng.random() > 0.01
    ]
    pairs += [(rng.choice(ids), rng.choice(ids)) for _ in range(3)]
    pairs += [(x, x) for x in rng.sample(ids, 10)]
    pairs += [(b, a) for a, b in rng.sample(pairs, 20)]
    pairs += rng.sample(pairs, 20)
    rng.shuffle(pairs)
    return pairs


@pytest.mark.parametrize("seed", range(4))
def test_random_graphs_match_bfs(spark, seed):
    pairs = _random_graph(seed)
    cc = connected_components(_edges(spark, pairs))
    got = {r["vertex"]: r["component"] for r in cc.collect()}
    assert got == _bfs_min_component(pairs)


def test_string_ids_keep_their_type(spark):
    names = [f"doc-{i:03d}" for i in range(40)]
    random.Random(3).shuffle(names)
    edges = spark.createDataFrame(
        list(zip(names, names[1:])), "id_a string, id_b string"
    )
    cc = connected_components(edges)
    assert [f.dataType.simpleString() for f in cc.schema] == ["string", "string"]
    got = cc.collect()
    assert len(got) == 40
    assert {r["component"] for r in got} == {"doc-000"}


# ---- triangle_census (non-complete graphs the fixture never has) ----


def _census(spark, edges):
    from museum_image_etl_gridfs_spark.operators.components import (
        triangle_census,
    )

    df = spark.createDataFrame(edges, "b1 string, b2 string")
    return triangle_census(df).collect()[0]


def test_triangle_census_path_graph(spark):
    # a-b-c-d: 0 triangles, 2 open triads -> transitivity 0.0
    r = _census(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 3, 0)
    assert r["transitivity"] == 0.0


def test_triangle_census_perfect_matching_null_not_nan(spark):
    # two disjoint edges: every degree is 1 -> zero triads -> NULL
    # (the Spark 0.0/0.0 NaN vs SQL NULL divergence guard)
    r = _census(spark, [("a", "b"), ("c", "d")])
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 2, 0)
    assert r["transitivity"] is None


def test_triangle_census_triangle_with_tail(spark):
    # triangle a-b-c plus pendant c-d: T=1, triads = 1+1+3+0 = 5
    r = _census(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")])
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 4, 1)
    assert r["transitivity"] == 0.6  # 3*1/5


def test_triangle_census_complete_k4(spark):
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    r = _census(spark, edges)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    assert r["transitivity"] == 1.0


def test_triangle_census_normalizes_messy_edges(spark):
    """ADVICE r3: reversed, duplicated, and self-loop edges must not
    double-count degrees or mis-count triangles — the census
    normalizes to least/greatest-distinct orientation itself."""
    messy = [
        ("b", "a"),  # reversed
        ("a", "b"),  # duplicate of the above after orientation
        ("a", "c"),
        ("c", "b"),  # reversed
        ("c", "d"),
        ("d", "c"),  # reverse-duplicate
        ("d", "d"),  # self-loop
    ]
    r = _census(spark, messy)
    # canonical graph: triangle a-b-c plus pendant c-d (same as
    # test_triangle_census_triangle_with_tail)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 4, 1)
    assert r["transitivity"] == 0.6
