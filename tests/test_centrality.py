"""multi_source_hops / closeness_centrality: Python BFS oracle,
single-source consistency, isolated roots, exact-integer operands."""

from __future__ import annotations

from collections import deque

import pandas as pd
import pytest

from osmspark.graph.centrality import closeness_centrality, multi_source_hops

# two components: a 6-cycle with a chord and a tail, plus a 2-path;
# node 99 is isolated (appears only as a root)
EDGES = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0),  # cycle
         (1, 4),                                          # chord
         (5, 6), (6, 7),                                  # tail
         (20, 21)]                                        # 2nd component
ROOTS = [0, 3, 6, 20, 99]


def _adj():
    a = {}
    for u, v in EDGES:
        a.setdefault(u, set()).add(v)
        a.setdefault(v, set()).add(u)
    return a


def _bfs(root):
    adj, dist = _adj(), {root: 0}
    q = deque([root])
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


@pytest.fixture(scope="module")
def frames(spark):
    edges = spark.createDataFrame(pd.DataFrame(EDGES,
                                               columns=["src", "dst"]))
    roots = spark.createDataFrame(pd.DataFrame({"root": ROOTS}))
    return edges, roots


def test_hops_match_python_bfs(frames):
    edges, roots = frames
    got = {(int(r.root), int(r.node)): int(r.dist)
           for r in multi_source_hops(edges, roots).collect()}
    exp = {(r, n): d for r in ROOTS for n, d in _bfs(r).items()}
    assert got == exp                       # incl. absence of unreachables


def test_matches_single_source_bfs(frames, spark):
    edges, _ = frames
    from osmspark.graph.bfs import shortest_hops
    one = spark.createDataFrame(pd.DataFrame({"root": [3]}))
    multi = {(int(r.node)): int(r.dist)
             for r in multi_source_hops(edges, one).collect()}
    single = {(int(r.node)): int(r.dist)
              for r in shortest_hops(edges, 3).collect()}
    assert multi == single


def test_closeness_exact_operands(frames):
    edges, roots = frames
    got = {int(r.root): (int(r.n_reached), int(r.sum_dist), r.closeness)
           for r in closeness_centrality(edges, roots).collect()}
    assert set(got) == set(ROOTS)
    for root in ROOTS:
        d = _bfs(root)
        n_reached = len(d) - 1
        sum_dist = sum(d.values())
        assert got[root][:2] == (n_reached, sum_dist)
        if sum_dist:
            assert got[root][2] == n_reached / sum_dist
        else:                               # isolated root: NULL closeness
            assert got[root][2] is None


def test_duplicate_roots_deduplicated(frames, spark):
    edges, _ = frames
    dup = spark.createDataFrame(pd.DataFrame({"root": [0, 0, 0]}))
    out = closeness_centrality(edges, dup).collect()
    assert len(out) == 1 and int(out[0].root) == 0


def test_harmonic_matches_python(frames):
    from osmspark.graph.centrality import harmonic_centrality
    edges, roots = frames
    got = {int(r.root): (int(r.n_reached), int(r.eccentricity),
                         int(r.harmonic_mass))
           for r in harmonic_centrality(edges, roots).collect()}
    M = 10 ** 9
    exp = {}
    for root in ROOTS:
        d = {n: dd for n, dd in _bfs(root).items() if dd > 0}
        exp[root] = (len(d), max(d.values(), default=0),
                     sum(M // dd for dd in d.values()))
    assert got == exp


def test_harmonic_isolated_root_zero(frames):
    from osmspark.graph.centrality import harmonic_centrality
    edges, roots = frames
    got = {int(r.root): int(r.harmonic_mass)
           for r in harmonic_centrality(edges, roots).collect()}
    assert got[99] == 0


def test_harmonic_ranks_align_with_closeness_on_component(frames):
    # inside one connected component harmonic and closeness agree on
    # the extreme ranks (harmonic is the robust generalization)
    from osmspark.graph.centrality import (closeness_centrality,
                                           harmonic_centrality)
    edges, roots = frames
    h = {int(r.root): int(r.harmonic_mass)
         for r in harmonic_centrality(edges, roots).collect()}
    c = {int(r.root): (r.closeness or 0.0)
         for r in closeness_centrality(edges, roots).collect()}
    comp = [0, 3, 6]     # roots inside the big component
    assert max(comp, key=h.get) == max(comp, key=c.get)
    assert min(comp, key=h.get) == min(comp, key=c.get)


def test_frontier_budget_raises_instead_of_truncating(spark):
    # path 0-1-...-6: eccentricity 6 from node 0, so 6 expanding rounds
    # plus one round that settles nothing
    from osmspark.graph.bfs import shortest_hops
    path = spark.createDataFrame(pd.DataFrame(
        {"src": range(6), "dst": range(1, 7)}))
    root = spark.createDataFrame(pd.DataFrame({"root": [0]}))
    with pytest.raises(RuntimeError, match="did not converge in 6 rounds"):
        multi_source_hops(path, root, max_rounds=6)
    with pytest.raises(RuntimeError, match="did not converge"):
        shortest_hops(path, 0, max_rounds=6)
    got = {int(r.node): int(r.dist)
           for r in shortest_hops(path, 0, max_rounds=7).collect()}
    assert got == {i: i for i in range(7)}


def test_isolated_root_of_narrower_type_needs_one_round(spark):
    # an int root over long edges reaches nothing: one confirming round
    # suffices, whatever type the first round's union widens node to
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    root = spark.createDataFrame([(99,)], "root int")
    got = [tuple(r) for r in multi_source_hops(edges, root,
                                               max_rounds=1).collect()]
    assert got == [(99, 99, 0)]
