"""Hash-greater-to-min connected components: parity with BFS and with
dedup_clusters, log-round convergence on deep chains."""

from __future__ import annotations

import numpy as np
import pandas as pd

from osmspark.graph.cc import cc_labels


def _bfs_components(n_ids, edge_list):
    adj: dict[int, list[int]] = {i: [] for i in n_ids}
    for a, b in edge_list:
        adj[a].append(b)
        adj[b].append(a)
    label = {}
    for s in sorted(n_ids):
        if s in label:
            continue
        comp, q = [s], [s]
        seen = {s}
        while q:
            u = q.pop()
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    comp.append(v)
                    q.append(v)
        m = min(comp)
        for u in comp:
            label[u] = m
    return label


def _run(spark, ids, edge_list, **kw):
    idf = spark.createDataFrame(pd.DataFrame({"id": ids}))
    edf = (spark.createDataFrame(pd.DataFrame(edge_list,
                                              columns=["a", "b"]))
           if edge_list
           else spark.createDataFrame([], "a long, b long"))
    out = cc_labels(idf, edf, **kw).toPandas()
    return dict(zip(out["id"], out["label"]))


def test_cc_random_graph_matches_bfs(spark):
    rng = np.random.default_rng(41)
    ids = list(rng.choice(100_000, 400, replace=False))
    edges = [(int(rng.choice(ids)), int(rng.choice(ids))) for _ in range(250)]
    got = _run(spark, ids, edges)
    exp = _bfs_components(ids, edges)
    assert got == exp


def test_cc_deep_chain_converges_fast(spark):
    # 3000-node path with shuffled ids: diameter 2999, far beyond the
    # 20-round budget of one-hop propagation — pointer jumping closes it
    rng = np.random.default_rng(42)
    ids = rng.permutation(3000)
    edges = [(int(ids[i]), int(ids[i + 1])) for i in range(2999)]
    got = _run(spark, list(ids), edges, max_rounds=20)
    assert set(got.values()) == {0}


def test_cc_isolated_nodes_and_empty_edges(spark):
    got = _run(spark, [5, 9, 2], [])
    assert got == {5: 5, 9: 9, 2: 2}


def test_cc_matches_dedup_clusters(spark):
    from pyspark.sql import functions as F

    from osmspark.pipeline.dedup import dedup_clusters
    rng = np.random.default_rng(43)
    ids = list(range(200))
    edges = [(int(rng.integers(0, 200)), int(rng.integers(0, 200)))
             for _ in range(120)]
    idf = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["a", "b"]))
    a = dedup_clusters(idf, edf).orderBy("doc_id").toPandas()
    b = (cc_labels(idf, edf, id_col="doc_id").orderBy("id").toPandas())
    assert a["doc_id"].tolist() == b["id"].tolist()
    assert a["cluster_id"].tolist() == b["label"].tolist()
