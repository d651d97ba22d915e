"""spark-submit entrypoint: training-data dedup — quality filter →
near-dup candidates → connected-component clusters → canonical docs.

Ship with::

    zip -r osmspark.zip osmspark
    spark-submit --py-files osmspark.zip osmspark/jobs/dedup_job.py \
        --docs /data/documents --out /data/dedup \
        --method minhash --threshold 0.8 --min-quality 0.3

The classic Common-Crawl-scale pipeline shape:

1. quality score (pure SQL expressions) + threshold filter — drop junk
   BEFORE paying any pairwise cost;
2. candidate pairs via the chosen finder: ``minhash`` (banded LSH — the
   10^12-doc path: bucket equi-join, no all-pairs shuffle), ``simhash``
   (Hamming chunks), or ``jaccard`` (exact inverted-index join for
   modest corpora);
3. ``dedup_clusters`` (connected components in O(log n) rounds)
   collapses transitive near-dups; the min doc id per cluster is the
   canonical keeper;
4. outputs: ``clusters/`` (doc_id → cluster_id), ``kept/`` (canonical
   docs only, original columns intact) — the deduplicated corpus.

Every stage is a DataFrame plan (one shuffle each); stage outputs are
parquet so a rerun resumes from the last completed directory.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F


def main(argv: list[str] | None = None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="documents parquet dir")
    ap.add_argument("--out", required=True)
    ap.add_argument("--method", default="minhash",
                    choices=["minhash", "simhash", "jaccard"])
    ap.add_argument("--threshold", type=float, default=0.8,
                    help="jaccard threshold (jaccard method only)")
    ap.add_argument("--max-hamming", type=int, default=6,
                    help="simhash Hamming threshold")
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--min-quality", type=float, default=0.0,
                    help="drop docs with quality_score below this first")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from osmspark.pipeline.dedup import (
        dedup_clusters, lsh_candidate_pairs, minhash_signatures,
        ngram_jaccard_pairs, simhash_pairs, simhash_signatures)
    from osmspark.pipeline.textstats import with_quality
    from osmspark.session import get_spark

    spark = get_spark(app="osmspark-dedup", master=args.master)
    docs = spark.read.parquet(args.docs)

    if args.min_quality > 0:
        docs = (with_quality(docs)
                .filter(F.col("quality_score") >= args.min_quality)
                .drop("mean_word_len", "stopword_ratio", "alpha_ratio",
                      "quality_score"))
    docs = docs.localCheckpoint(eager=False)

    if args.method == "minhash":
        pairs = lsh_candidate_pairs(minhash_signatures(docs),
                                    bands=args.bands)
    elif args.method == "simhash":
        pairs = (simhash_pairs(simhash_signatures(docs),
                               max_hamming=args.max_hamming)
                 .select("a", "b"))
    else:
        pairs = ngram_jaccard_pairs(docs, args.threshold).select("a", "b")

    clusters = dedup_clusters(docs, pairs)
    clusters.write.mode("overwrite").parquet(f"{args.out}/clusters")

    clusters = spark.read.parquet(f"{args.out}/clusters")
    kept = (docs.join(
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id"), "doc_id"))
    kept.write.mode("overwrite").parquet(f"{args.out}/kept")

    n_docs = docs.count()
    n_kept = kept.count()
    print(f"dedup: {n_docs} docs -> {n_kept} kept "
          f"({n_docs - n_kept} near-duplicates removed)")
    return spark


if __name__ == "__main__":
    # stop only when we own the process (spark-submit); an in-process
    # caller (tests) shares the session
    main().stop()
