"""Single-source shortest hop distances (parallel BFS).

The unweighted shortest-path primitive (reachability with distance):
:func:`osmspark.graph.centrality.multi_source_hops` from a one-row
roots frame — the unit-weight relaxation of :mod:`osmspark.graph.sssp`
on :func:`osmspark.fixpoint.iterate`. Rounds = eccentricity of the
source + one confirming round; the edge list is treated as UNDIRECTED
(both directions expanded) — pass a pre-oriented list for directed
semantics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from .centrality import multi_source_hops

__all__ = ["shortest_hops"]


def shortest_hops(edges: DataFrame, source, src: str = "src",
                  dst: str = "dst", max_rounds: int = 64) -> DataFrame:
    """(node, dist) for every node reachable from ``source`` (the
    source itself at dist 0). Unreachable nodes are absent. Raises if
    ``max_rounds`` does not exceed the source's eccentricity."""
    roots = edges.sparkSession.createDataFrame(pd.DataFrame({"root": [source]}))
    return multi_source_hops(edges, roots, src, dst,
                             max_rounds).drop("root")
