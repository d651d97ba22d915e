"""SemDeDup — semantic deduplication of an embedded corpus
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", arXiv:2303.09540).

The LLM-curation step after embedding: cluster the corpus in embedding
space, then WITHIN each cluster drop every document whose cosine
similarity to a higher-priority cluster-mate exceeds a threshold —
pairwise comparison never leaves a cluster, which is what makes the
quadratic kernel tractable at web scale (k-means with k ≈ √n gives
E[|cluster|²] ≈ n, i.e. linear total work).

Spark-first shape:

1. Clusters come from any assignment column — the IVF trainer
   (`osmspark/pipeline/ann.py:train_ivf_centroids` + `ivf_assign`)
   is the in-repo k-means; tests use the embeddings table's ``label``.
2. Candidate pairs are a self-EQUI-join on the cluster id (one shuffle
   per side, co-partitioned; never a cross join) filtered to
   ``a < b``; the exact cosine is ``ann._cosine_cols``, the
   ``zip_with``/``aggregate`` expression proven hash-exact against
   DuckDB's ``list_cosine_similarity`` in ``dedup.cosine_neardup_pairs``.
3. The keep decision is the greedy min-id rule: drop x iff some
   cluster-mate y with y.id < x.id has cosine(x, y) ≥ threshold —
   deterministic, one anti-join, no iteration. (The paper keeps one
   representative per near-duplicate group; min-id is the
   deterministic representative choice. For full transitive-closure
   groups, feed the pair table to ``dedup.dedup_clusters`` — connected
   components in O(log n) rounds — instead.)

Scale: the shuffle keys are the cluster id (pairs) and the vec id
(anti-join). An oversized cluster makes the pair stage quadratic in
THAT cluster only — re-split fat clusters by re-running the IVF
trainer on them (standard SemDeDup practice) before pairing; the
`tiles.py` salting hooks don't apply because pair semantics need
cluster-mates co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ann import _cosine_cols

__all__ = ["semdedup_pairs", "semdedup_keep"]


def semdedup_pairs(emb: DataFrame, threshold: float,
                   cluster_col: str = "label", id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(cluster, a, b, cosine) near-dup pairs, a < b, within-cluster
    only. Equi-join on the cluster id — pair work is quadratic per
    cluster, linear overall for balanced clusterings."""
    a = emb.select(F.col(cluster_col).alias("cluster"),
                   F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(cluster_col).alias("cluster"),
                   F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    pairs = (a.join(b, "cluster").filter(F.col("a") < F.col("b"))
             .withColumn("cosine", F.round(_cosine_cols(), 6))
             .filter(F.col("cosine") >= threshold))
    return pairs.select("cluster", "a", "b", "cosine")


def semdedup_keep(emb: DataFrame, threshold: float,
                  cluster_col: str = "label", id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """(vec_id, cluster, keep) — keep=false iff a smaller-id
    cluster-mate is within the similarity threshold. The survivor set
    is exactly the greedy min-id SemDeDup selection."""
    pairs = semdedup_pairs(emb, threshold, cluster_col, id_col, vec_col)
    dropped = pairs.select(F.col("b").alias(id_col)).distinct()
    return (emb.select(F.col(id_col),
                       F.col(cluster_col).alias("cluster"))
            .join(dropped.withColumn("_drop", F.lit(True)),
                  id_col, "left")
            .select(id_col, "cluster",
                    F.coalesce(~F.col("_drop"), F.lit(True))
                    .alias("keep")))
