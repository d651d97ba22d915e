"""Weighted SSSP: parity with a heap Dijkstra, weighted-vs-hop
divergence, directed semantics, negative-weight rejection."""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
import pytest

from osmspark.graph import shortest_paths


def _dijkstra(edge_list, source, directed=False):
    adj: dict[int, list[tuple[int, int]]] = {}
    for a, b, w in edge_list:
        adj.setdefault(a, []).append((b, w))
        if not directed:
            adj.setdefault(b, []).append((a, w))
    dist = {source: 0}
    heap = [(0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, 1 << 62):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, 1 << 62):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


def _run(spark, edge_list, source, **kw):
    edf = spark.createDataFrame(
        pd.DataFrame(edge_list, columns=["src", "dst", "w"]))
    out = shortest_paths(edf, source, **kw).toPandas()
    return dict(zip(out["node"].astype(int), out["dist"].astype(int)))


def test_weighted_beats_hops(spark):
    # direct edge w=10 vs a 3-hop detour w=2+3+1: BFS would answer 1
    # hop via the direct edge; the weighted answer is the detour (6)
    edges = [(1, 5, 10), (1, 2, 2), (2, 3, 3), (3, 5, 1)]
    got = _run(spark, edges, 1)
    assert got == {1: 0, 2: 2, 3: 5, 5: 6}


def test_random_graph_matches_dijkstra(spark):
    rng = np.random.default_rng(43)
    ids = list(rng.choice(10_000, 150, replace=False))
    edges = [(int(rng.choice(ids)), int(rng.choice(ids)),
              int(rng.integers(1, 20))) for _ in range(400)]
    got = _run(spark, edges, int(ids[0]))
    assert got == _dijkstra(edges, int(ids[0]))


def test_directed_asymmetry(spark):
    # 1→2→3 reachable; 3→1 edge does not make 3's neighbors closer to 1
    edges = [(1, 2, 4), (2, 3, 4), (3, 4, 4), (4, 1, 1)]
    got = _run(spark, edges, 1, directed=True)
    assert got == {1: 0, 2: 4, 3: 8, 4: 12}
    und = _run(spark, edges, 1, directed=False)
    assert und == {1: 0, 2: 4, 3: 5, 4: 1}


def test_zero_weight_edges_ok(spark):
    got = _run(spark, [(1, 2, 0), (2, 3, 0), (1, 3, 5)], 1)
    assert got == {1: 0, 2: 0, 3: 0}


def test_unreachable_absent(spark):
    got = _run(spark, [(1, 2, 3), (7, 8, 1)], 1)
    assert got == {1: 0, 2: 3}


def test_negative_weight_raises(spark):
    with pytest.raises(Exception, match="negative weight"):
        _run(spark, [(1, 2, 3), (2, 3, -1)], 1)


def test_long_light_chain_beats_heavy_edge(spark):
    # optimal path has MANY hops (30 × w=1) vs one w=100 edge — the
    # frontier must keep improving past the BFS hop-diameter
    chain = [(i, i + 1, 1) for i in range(30)]
    edges = chain + [(0, 30, 100)]
    got = _run(spark, edges, 0)
    assert got[30] == 30


def test_round_budget_raises_instead_of_truncating(spark):
    # unit-weight path 0-1-...-6: 6 improving rounds + 1 empty round
    path = [(i, i + 1, 1) for i in range(6)]
    with pytest.raises(RuntimeError, match="did not converge in 6 rounds"):
        _run(spark, path, 0, max_rounds=6)
    assert _run(spark, path, 0, max_rounds=7) == {i: i for i in range(7)}
