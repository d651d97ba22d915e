"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design: every operator is a shuffle-on-key DataFrame plan —
* exact:   groupBy(md5)                       — one shuffle, map-side combine
* jaccard: explode(ngrams) self-equi-join     — shuffle on ngram, the
           classic inverted-index join; the LSH variants exist precisely to
           replace its quadratic candidate blow-up at 10^12 docs
* minhash: signature UDF (vectorized) → explode(bands) → groupBy(band
           bucket) — candidates only within buckets; tunable (b, r)
* simhash: 64-bit signature → 4×16-bit chunk buckets (Hamming ≤ 3 ⇒ ≥ 1
           identical chunk by pigeonhole) → verify distance in-bucket
* cosine:  brute-force pair join (oracle-checkable) + hyperplane-LSH
           bucketed variant (`cosine_neardup_lsh`) — the 10^12-row path;
           at recall-exhaustive settings the brute-force SQL oracles it
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..graph.cc import cc_labels
from .ann import _bucket_udf, _cosine_cols, _hyperplanes

__all__ = ["exact_dedup", "ngram_jaccard_pairs", "minhash_signatures",
           "lsh_candidate_pairs", "simhash_signatures", "simhash_pairs",
           "cosine_neardup_pairs", "cosine_neardup_lsh", "dedup_clusters",
           "band_frame", "incremental_filter"]

# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per distinct content hash."""
    return (df
            .groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_dups")))


# --------------------------------------------------------------------------
# n-gram Jaccard (inverted-index join)
# --------------------------------------------------------------------------

def _ngrams_col(text_col: str, n: int):
    toks = F.split(F.trim(F.col(text_col)), " +")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.array_distinct(F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1)
                                          for j in range(n)])))


def ngram_jaccard_pairs(df: DataFrame, threshold: float, n: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """All (a < b) pairs with n-gram Jaccard ≥ threshold.

    Plan: distinct-ngram explode → self equi-join on ngram → count
    intersections → Jaccard from |A|+|B|−|∩|. Pure Spark, SQL-expressible.
    """
    grams = (df.select(F.col(id_col).alias("id"),
                       _ngrams_col(text_col, n).alias("grams"))
             .withColumn("n_grams", F.size("grams"))
             .withColumn("gram", F.explode("grams"))
             .drop("grams"))
    a = grams.select(F.col("id").alias("a"), F.col("n_grams").alias("na"), "gram")
    b = grams.select(F.col("id").alias("b"), F.col("n_grams").alias("nb"), "gram")
    inter = (a.join(b, "gram")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b", "na", "nb")
             .agg(F.count(F.lit(1)).alias("n_common")))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (inter.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

_MERSENNE = np.uint64((1 << 61) - 1)


def _minhash_params(n_hashes: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, (1 << 61) - 1, n_hashes, dtype=np.uint64)
    b = rng.integers(0, (1 << 61) - 1, n_hashes, dtype=np.uint64)
    return a, b


def _fnv1a_batch(strings: list[bytes]) -> np.ndarray:
    """FNV-1a over many byte strings, vectorized: fold byte positions
    over the CONCATENATED buffer via per-string offsets — memory is
    O(total bytes), so one pathologically long shingle no longer
    inflates an (n, max_len) padded matrix for the whole batch. The
    active set shrinks as positions pass each string's length; the pass
    count is max_len but each pass touches only still-active strings."""
    n = len(strings)
    h = np.full(n, 14695981039346656037, dtype=np.uint64)
    if n == 0:
        return h
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    flat = np.frombuffer(b"".join(strings), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens[:-1])))
    prime = np.uint64(1099511628211)
    with np.errstate(over="ignore"):  # FNV wraps mod 2^64 by design
        active = np.nonzero(lens > 0)[0]
        pos = 0
        while active.size:
            byte = flat[starts[active] + pos].astype(np.uint64)
            h[active] = (h[active] ^ byte) * prime
            pos += 1
            active = active[lens[active] > pos]
    return h


def _is_bare_scan(df: DataFrame) -> bool:
    """True when the analyzed plan is just a scan under Project/Filter
    wrappers — the only shape where probing the physical partition count
    is cheap. On anything with joins/aggs/UDFs upstream,
    ``df.rdd.getNumPartitions()`` forces full physical planning through
    the RDD-conversion path and reports a pre-AQE count anyway."""
    try:
        p = df._jdf.queryExecution().analyzed()
        while p.getClass().getSimpleName() in (
                "Project", "Filter", "SubqueryAlias"):
            p = p.children().apply(0)
        return p.getClass().getSimpleName() in (
            "LogicalRelation", "LocalRelation", "Range", "LogicalRDD",
            "DataSourceV2Relation")
    except Exception:
        return False


def _spread_for_udf(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input is narrower than the
    cluster: the signature UDFs are CPU-bound, and a source that arrived
    as one small file (common for tiny dims / test fixtures) would pin
    the whole batch on one core. A warehouse-scale input already has
    ≥ parallelism partitions and passes through untouched — no shuffle.

    Applies only to bare-scan inputs, where the partition-count probe
    is cheap; a derived input passes through unprobed."""
    if not _is_bare_scan(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _batch_gram_hashes(texts, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Whole-batch shingle hashing: one FNV pass over every doc's distinct
    n-grams instead of one small pass per doc (the per-doc loop spent most
    of its time in Python call overhead, not hashing). Returns the flat
    uint64 hash array plus per-doc gram counts. A degenerate doc (fewer
    than ``n`` tokens, so no n-gram) contributes exactly one gram whose
    hash is the sentinel 0 — the DuckDB oracles reproduce that
    convention."""
    grams_all: list[bytes] = []
    counts = np.empty(len(texts), dtype=np.int64)
    sentinel_idx: list[int] = []
    for i, t in enumerate(texts):
        toks = t.split()
        grams = {" ".join(toks[j:j + n])
                 for j in range(max(0, len(toks) - n + 1))}
        if grams:
            counts[i] = len(grams)
            grams_all.extend(g.encode("utf-8") for g in grams)
        else:
            counts[i] = 1
            sentinel_idx.append(len(grams_all))
            grams_all.append(b"")
    h = _fnv1a_batch(grams_all)
    if sentinel_idx:
        h[np.asarray(sentinel_idx, dtype=np.int64)] = 0
    return h, counts


def minhash_signatures(df: DataFrame, n_hashes: int = 64, ngram: int = 3,
                       text_col: str = "text", id_col: str = "doc_id",
                       seed: int = 42) -> DataFrame:
    """(id, signature array<long>) via vectorized universal hashing:
    min over shingles of ((a·h + b) mod 2^61−1). A narrow bare-scan
    input is spread first (:func:`_spread_for_udf`)."""
    a_par, b_par = _minhash_params(n_hashes, seed)
    df = _spread_for_udf(df)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        # hash the BATCH's grams in one pass, then per-doc min via
        # minimum.reduceat over doc boundaries; the (grams × n_hashes)
        # universal-hash temporary is bounded by chunking at doc
        # boundaries (~256k grams ≈ 128 MB) so a big Arrow batch can't
        # blow worker memory. Values bit-identical to the per-doc loop.
        n_docs = len(texts)
        if n_docs == 0:
            return pd.Series([], dtype=object)
        h, counts = _batch_gram_hashes(texts, ngram)
        h &= _MERSENNE  # keep < 2^61
        ends = np.cumsum(counts)
        starts = ends - counts
        out = np.empty((n_docs, n_hashes), dtype=np.int64)
        budget = 1 << 18
        d0 = 0
        while d0 < n_docs:
            d1 = int(np.searchsorted(ends, ends[d0] - counts[d0] + budget,
                                     side="right"))
            d1 = max(d1, d0 + 1)
            hs = h[starts[d0]:ends[d1 - 1]]
            vals = (hs[:, None] * a_par[None, :] + b_par[None, :]) % _MERSENNE
            out[d0:d1] = np.minimum.reduceat(
                vals, starts[d0:d1] - starts[d0], axis=0).astype(np.int64)
            d0 = d1
        return pd.Series(list(out))

    return df.select(F.col(id_col).alias("id"),
                     sig(F.col(text_col)).alias("signature"))


def band_frame(signatures: DataFrame, bands: int = 16,
               n_hashes: int = 64) -> DataFrame:
    """(id, band_idx, band_hash): LSH band keys of a signature frame.

    ``band_hash`` = xxhash64 of the band's signature slice — the bucket
    key both the self-join (:func:`lsh_candidate_pairs`) and the
    corpus-incremental join (:func:`incremental_filter`) equi-join on.
    Exposed so a warehouse can STORE the banded corpus once
    (id, band_idx, band_hash is 3 ints/band — the LSH "index") and serve
    every future ingest batch without touching corpus text again.
    """
    r = n_hashes // bands
    return signatures.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.xxhash64(
                    F.slice(F.col("signature"), bi * r + 1, r).cast("string")),
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 16,
                        n_hashes: int = 64,
                        materialize: bool = True) -> DataFrame:
    """Band the signatures; docs sharing any band bucket are candidates.

    (b bands × r rows): P(candidate) = 1 − (1 − j^r)^b. The bucket join is
    a groupBy on (band_idx, band_hash) — no all-pairs shuffle.
    ``n_hashes`` must match the signature length from minhash_signatures.

    ``materialize`` (default) lazily local-checkpoints the signatures
    frame so the Python signature UDF upstream computes ONCE — a plain
    self-join evaluates each side's full lineage, doubling the UDF cost
    (Spark does not reuse uncached subplans across join sides).
    Fault-tolerance trade-off: ``localCheckpoint`` truncates lineage and
    stores blocks on executors only, so on a multi-executor cluster an
    executor loss mid-job fails the job instead of recomputing — the
    single-machine-friendly default. Pass ``materialize=False`` on a
    cluster, and ALWAYS when ``signatures`` is already a stored table
    (the warehouse shape: signatures land in their own table, keeping
    full lineage recoverability, and the checkpoint would only burn
    executor storage — ~0.5 KB/doc).
    """
    if materialize:
        signatures = signatures.localCheckpoint(eager=False)
    banded = band_frame(signatures, bands=bands, n_hashes=n_hashes)
    a = banded.select(F.col("id").alias("a"), "band_idx", "band_hash")
    b = banded.select(F.col("id").alias("b"), "band_idx", "band_hash")
    return (a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def incremental_filter(new_docs: DataFrame, corpus_docs: DataFrame,
                       bands: int = 16, n_hashes: int = 64,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Corpus-incremental ingest filter — dedup a NEW batch against an
    existing corpus without ever re-joining the corpus to itself (the
    continuous-crawl shape: the corpus is 10^12 docs, the batch is a
    day's crawl).

    Returns one row per new doc (never-drop):

    * ``exact_of`` — smallest id with byte-identical text among the
      corpus ∪ the new batch's strictly-smaller ids; null if unique.
    * ``near_of`` — smallest CORPUS id sharing ≥ 1 MinHash-LSH band
      (same banding as :func:`lsh_candidate_pairs`); null if none.
      Within-batch near-dups are deliberately out of scope here — run
      ``lsh_candidate_pairs`` on the surviving batch for that (chained
      keep-semantics would make the result order-dependent).
    * ``keep`` — 1 iff both are null (int, engine-portable).

    Scale shape: the corpus side contributes ONLY precomputable
    artifacts — its (md5 → min id) table and its :func:`band_frame`
    index (store both once; serve every batch). Each join BROADCASTS
    the new-batch side (a day's crawl ≪ the corpus), so the corpus
    tables are scanned map-side, never shuffled. The batch's signature
    UDF runs once per side of nothing — there is no self-join here.
    """
    nid = F.col(id_col).alias("id")
    new_h = new_docs.select(nid, F.md5(F.col(text_col)).alias("h"))
    corp_h = corpus_docs.select(nid, F.md5(F.col(text_col)).alias("h"))
    c_min = corp_h.groupBy("h").agg(F.min("id").alias("c_min"))
    n_min = new_h.groupBy("h").agg(F.min("id").alias("n_min"))

    # F.least skips nulls (Spark semantics) — min over the candidate set
    n_prior = F.when(F.col("n_min") < F.col("id"), F.col("n_min"))
    exact = (new_h
             .join(c_min, "h", "left")
             .join(n_min, "h", "left")
             .select("id", F.least(F.col("c_min"), n_prior)
                     .alias("exact_of")))

    nb = band_frame(minhash_signatures(new_docs, text_col=text_col,
                                       id_col=id_col),
                    bands=bands, n_hashes=n_hashes)
    cb = (band_frame(minhash_signatures(corpus_docs, text_col=text_col,
                                        id_col=id_col),
                     bands=bands, n_hashes=n_hashes)
          .withColumnRenamed("id", "c_id"))
    near = (cb.join(F.broadcast(nb), ["band_idx", "band_hash"])
            .groupBy("id").agg(F.min("c_id").alias("near_of")))

    return (new_docs.select(nid)
            .join(exact, "id", "left")
            .join(near, "id", "left")
            .select(F.col("id").alias("doc_id"), "exact_of", "near_of",
                    (F.col("exact_of").isNull()
                     & F.col("near_of").isNull())
                    .cast("int").alias("keep")))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over token hashes (vectorized bit-vote)."""
    df = _spread_for_udf(df)

    @F.pandas_udf(T.LongType())
    def sim(texts: pd.Series) -> pd.Series:
        # batch-wide unigram hashing + per-doc bit votes via add.reduceat.
        # The (grams × 64) uint8 bit matrix is CHUNKED at doc boundaries
        # (same budget loop as minhash_signatures): a 65536-record Arrow
        # batch of long texts would otherwise materialize a multi-GB
        # matrix in one shot; each chunk is ≤ ~16 MB and reduceat's dtype
        # arg accumulates int64 without an int64 copy of the matrix.
        n_docs = len(texts)
        if n_docs == 0:
            return pd.Series([], dtype=np.int64)
        bit_idx = np.arange(64, dtype=np.uint64)
        h, counts = _batch_gram_hashes(texts, 1)  # unigram hashes
        ends = np.cumsum(counts)
        starts = ends - counts
        sigs = np.empty(n_docs, dtype=np.uint64)
        budget = 1 << 18
        d0 = 0
        while d0 < n_docs:
            d1 = int(np.searchsorted(ends, ends[d0] - counts[d0] + budget,
                                     side="right"))
            d1 = max(d1, d0 + 1)
            hs = h[starts[d0]:ends[d1 - 1]]
            bits = ((hs[:, None] >> bit_idx[None, :])
                    & np.uint64(1)).astype(np.uint8)
            ones = np.add.reduceat(bits, starts[d0:d1] - starts[d0],
                                   axis=0, dtype=np.int64)
            # votes MUST be signed: uint64 arithmetic wraps ones·2 − n
            # to a huge positive for minority bits, setting every
            # non-tied bit (caught by the DuckDB oracle)
            votes = ones * 2 - counts[d0:d1, None]
            sigs[d0:d1] = ((votes > 0).astype(np.uint64)
                           << bit_idx[None, :]).sum(axis=1, dtype=np.uint64)
            d0 = d1
        return pd.Series(sigs.astype(np.int64))

    return df.select(F.col(id_col).alias("id"), sim(F.col(text_col)).alias("simhash"))


def simhash_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming via chunk bucketing.

    COMPLETENESS requires the chunk count to follow the threshold: with
    ``n_chunks = max_hamming + 1`` chunks, ≤ max_hamming differing bits
    leave ≥ 1 chunk identical (pigeonhole) — a fixed 4-chunk split is
    complete only for Hamming ≤ 3 and silently drops pairs above it.
    The 64 bits split as evenly as possible (e.g. 7 chunks of 10/9 bits
    for max_hamming = 6). Candidates come from a bucket equi-join on
    (chunk_idx, chunk value) — never an all-pairs shuffle — then the
    exact Hamming distance filters in-bucket."""
    if not 0 <= max_hamming < 64:
        raise ValueError("max_hamming must be in [0, 64)")
    # same single-computation device as lsh_candidate_pairs — and the
    # same fault-tolerance trade-off (see its docstring)
    sigs = sigs.localCheckpoint(eager=False)
    n_chunks = max_hamming + 1
    sizes = [64 // n_chunks + (1 if i < 64 % n_chunks else 0)
             for i in range(n_chunks)]
    offsets = [sum(sizes[:i]) for i in range(n_chunks)]

    def _chunk(i: int):
        # a full-width chunk (max_hamming=0 → one 64-bit chunk) can't be
        # masked: (1<<64)-1 overflows a Java long — the signature IS the
        # chunk, no shift/mask needed
        if sizes[i] == 64:
            return F.col("simhash")
        return (F.shiftrightunsigned(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << sizes[i]) - 1)))

    chunks = F.array(*[
        F.struct(F.lit(i).alias("chunk_idx"), _chunk(i).alias("chunk"))
        for i in range(n_chunks)
    ])
    exploded = sigs.select("id", "simhash", F.explode(chunks).alias("c")) \
                   .select("id", "simhash", "c.chunk_idx", "c.chunk")
    a = exploded.select(F.col("id").alias("a"), F.col("simhash").alias("sa"),
                        "chunk_idx", "chunk")
    b = exploded.select(F.col("id").alias("b"), F.col("simhash").alias("sb"),
                        "chunk_idx", "chunk")
    cand = (a.join(b, ["chunk_idx", "chunk"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", "sa", "sb").distinct())
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


# --------------------------------------------------------------------------
# near-dup clustering (connected components over candidate pairs)
# --------------------------------------------------------------------------

def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", max_iters: int = 30) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    The training-data dedup endgame: pair finders (MinHash-LSH, SimHash,
    Jaccard, cosine) emit edges; transitively-linked docs form one
    cluster whose id is the cluster's min doc id (the canonical keeper).
    Docs in no pair are their own singleton cluster.

    This is :func:`osmspark.graph.cc.cc_labels` (hash-greater-to-min,
    O(log n) rounds, so a long chain of incrementally-edited docs costs
    log-many rounds, not one per link) under the (doc_id, cluster_id)
    names. Precondition: the pair endpoints are a
    subset of ``docs``' ids, which holds whenever the pairs are built
    from the same docs frame; an endpoint outside ``docs`` would get a
    row of its own. ``max_iters`` bounds the rounds; if the components
    are still moving after it the function raises instead of returning
    split clusters.
    """
    return (cc_labels(docs, pairs, id_col=id_col, max_rounds=max_iters)
            .select(F.col("id").alias(id_col),
                    F.col("label").alias("cluster_id")))


# --------------------------------------------------------------------------
# embedding cosine near-dup (brute-force pair join)
# --------------------------------------------------------------------------

def cosine_neardup_pairs(emb: DataFrame, threshold: float,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """(a < b) pairs with cosine ≥ threshold. Pure Spark expressions
    (zip_with + aggregate) so DuckDB's list_cosine_similarity can oracle
    it. Quadratic — the ANN module's LSH path is the 10^12-row variant."""
    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    return (pairs.withColumn("cosine", F.round(_cosine_cols(), 6))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", "cosine"))


def cosine_neardup_lsh(emb: DataFrame, threshold: float,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       dim: int = 64, n_bits: int = 3, n_tables: int = 32,
                       seed: int = 42) -> DataFrame:
    """Near-dup (a < b) pairs with cosine ≥ threshold — the bucketed scale
    path for :func:`cosine_neardup_pairs`.

    Candidate generation is a random-hyperplane LSH self-equi-join on
    bucket ids (never all-pairs): each vector hashes to ``n_tables``
    sign-pattern buckets, pairs sharing any bucket become candidates, and
    only the candidates pay the exact-cosine rerank. The bucket join
    carries (id, bucket) rows only — vectors re-attach after the
    candidate ``distinct``, so embedding arrays never shuffle.

    Recall: a pair at cosine θ collides per hyperplane with probability
    1 − arccos(θ)/π, per table (1 − arccos(θ)/π)^n_bits, and is missed by
    all tables with probability (1 − p_table)^n_tables. At the defaults
    (3 bits / 32 tables) a θ = 0.8 pair is missed with probability
    ≈ 5e-10 — effectively exhaustive, which is what lets the brute-force
    SQL oracle check this path hash-exact. At 10^12 rows raise ``n_bits``
    so buckets stay small (expected bucket size n / 2^n_bits); the
    recall/cost trade is (n_bits, n_tables), same knobs as the ANN LSH
    index (`osmspark/pipeline/ann.py`)."""
    planes = _hyperplanes(dim, n_bits, n_tables, seed)
    bud = _bucket_udf(planes)
    ids = (emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
           .withColumn("bucket", F.explode(bud(F.col("v"))))
           .select("id", "bucket"))
    cand = (ids.alias("x").join(ids.alias("y"), "bucket")
            .filter(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
            .distinct())
    va = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (cand.join(va, "a").join(vb, "b")
            .withColumn("cosine", F.round(_cosine_cols(), 6))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", "cosine"))
