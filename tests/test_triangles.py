"""Triangle counting — osmspark/graph/triangles.py.

Pins exact per-node counts on crafted graphs (K4, hub star, triangle
with pendant), canonicalization (duplicates/reverse/self-loops), and a
random-graph cross-check vs a brute-force itertools enumeration.
"""

import itertools

from osmspark.graph import triangle_counts


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["n_triangles"]
            for r in triangle_counts(df).collect()}


def _brute(edges):
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in es for x in e})
    out = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= es:
            for n in (a, b, c):
                out[n] = out.get(n, 0) + 1
    return out


def test_k4_every_node_in_three(spark):
    edges = list(itertools.combinations(range(4), 2))
    assert _run(spark, edges) == {0: 3, 1: 3, 2: 3, 3: 3}


def test_star_has_no_triangles(spark):
    edges = [(0, i) for i in range(1, 6)]
    assert _run(spark, edges) == {}


def test_triangle_with_pendant_and_noise_edges(spark):
    # duplicates, reversed duplicates and self-loops must not distort
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (3, 4), (2, 3)]
    assert _run(spark, edges) == {1: 1, 2: 1, 3: 1}


def test_random_graph_matches_brute_force(spark):
    import random
    rng = random.Random(11)
    edges = [(rng.randrange(12), rng.randrange(12)) for _ in range(60)]
    assert _run(spark, edges) == _brute(edges)


def test_clustering_coefficients(spark):
    from osmspark.graph import clustering_coefficients
    # triangle 1-2-3 plus pendant 4 on node 3
    edges = [(1, 2), (2, 3), (3, 1), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["degree"], r["n_triangles"], r["coeff"])
           for r in clustering_coefficients(df).collect()}
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(2 / 6, 9))
    assert got[4] == (1, 0, 0.0)         # degree-1: defined as 0


def test_bfs_shortest_hops(spark):
    from osmspark.graph import shortest_hops
    # path 1-2-3-4, shortcut 1-3, isolated component 8-9
    edges = [(1, 2), (2, 3), (3, 4), (1, 3), (8, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["dist"] for r in shortest_hops(df, 1).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}   # shortcut wins; 8,9 absent
