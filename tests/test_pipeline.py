"""Pipeline operator tests: dedup (exact/Jaccard/MinHash-LSH/SimHash/
cosine), ANN (brute force / LSH / IVF), text statistics.

Strategy mirrors the driver oracle: every approximate operator is pinned
against a brute-force reference computed on the same synthetic corpus —
completeness (no dropped qualifying pairs) for the bucketed dedup paths,
exactness for IVF at nprobe = n_lists, recall floors for the lossy paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmspark.pipeline.ann import (
    ann_bruteforce_topk,
    ann_bruteforce_topk_np,
    ann_ivf_topk,
    ann_lsh_topk,
    ann_recall_vs_bruteforce,
)
from osmspark.pipeline.dedup import (
    cosine_neardup_pairs,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
)

_WORDS = ("spark shuffle join window agg batch stream key value table "
          "column row scan sort hash merge broadcast skew salt").split()


def _docs_pdf(n: int = 60, seed: int = 5) -> pd.DataFrame:
    """Synthetic docs with planted near-duplicate pairs (i, i+1 for even
    i < 20 share all but one token) plus one exact-duplicate pair."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n):
        toks = list(rng.choice(_WORDS, size=30))
        texts.append(" ".join(toks))
    for i in range(0, 20, 2):
        toks = texts[i].split()
        toks[5] = "mutated"
        texts[i + 1] = " ".join(toks)
    texts[40] = texts[41]  # exact dup
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "text": texts})


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(_docs_pdf()).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    """Clustered unit vectors: 8 centers × 25 jittered members."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 32))
    vecs = []
    for i in range(200):
        v = centers[i % 8] + 0.15 * rng.standard_normal(32)
        vecs.append((v / np.linalg.norm(v)).astype(np.float64))
    pdf = pd.DataFrame({"vec_id": np.arange(200, dtype=np.int64),
                        "embedding": [list(v) for v in vecs]})
    df = spark.createDataFrame(pdf).cache()
    df.count()
    return df


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

def test_exact_dedup_counts(docs):
    out = exact_dedup(docs).toPandas()
    assert out["n_dups"].sum() == 60
    dup = out[out["n_dups"] > 1]
    assert len(dup) == 1 and dup.iloc[0]["keep_id"] == 40


def test_simhash_pairs_complete_vs_bruteforce(docs):
    """Chunk bucketing must find EVERY pair within the Hamming threshold
    — compare against the all-pairs distance on collected signatures,
    at a threshold above the old fixed-4-chunk completeness limit."""
    sigs = simhash_signatures(docs)
    spdf = sigs.toPandas()
    sig_map = dict(zip(spdf["id"], spdf["simhash"].astype(np.uint64)))
    expected = set()
    ids = sorted(sig_map)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin(int(sig_map[a]) ^ int(sig_map[b])).count("1")
            if ham <= 6:
                expected.add((a, b, ham))
    got = {(r.a, r.b, r.hamming)
           for r in simhash_pairs(sigs, max_hamming=6).collect()}
    assert got == expected
    assert len(expected) > 0  # planted near-dups must register


def test_simhash_votes_are_majority(spark):
    """A doc whose tokens share NO common bit majority keeps those bits
    clear — regression for the uint64 vote underflow that set every
    non-tied bit."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["alpha beta gamma delta"]}))
    sig = np.uint64(simhash_signatures(df).collect()[0].simhash)
    # with 4 tokens, a bit is set only when ≥ 3 of 4 token hashes have
    # it — expect roughly a third of bits set, never ~all
    assert 0 < bin(int(sig)).count("1") < 40


def test_minhash_lsh_finds_planted_near_dups(docs):
    got = {(r.a, r.b) for r in
           lsh_candidate_pairs(minhash_signatures(docs), bands=16).collect()}
    planted = {(i, i + 1) for i in range(0, 20, 2)} | {(40, 41)}
    assert planted <= got  # 29/30-token overlap ⇒ some band collides
    jac = {(r.a, r.b) for r in ngram_jaccard_pairs(docs, 0.5, n=3).collect()}
    assert planted <= jac


def test_cosine_neardup_matches_numpy(emb):
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    sims = mat @ mat.T
    expected = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if round(sims[i, j], 6) >= 0.9:
                expected.add((ids[i], ids[j]))
    got = {(r.a, r.b) for r in cosine_neardup_pairs(emb, 0.9).collect()}
    assert got == expected and len(expected) > 0


def test_cosine_neardup_lsh_matches_bruteforce(emb):
    """At recall-exhaustive settings (2 bits × 48 tables ⇒ per-pair miss
    ≈ 4e-28 at θ = 0.9) the bucketed path must equal the all-pairs path
    exactly — and must not plan a cartesian product."""
    from osmspark.pipeline.dedup import cosine_neardup_lsh
    lsh = cosine_neardup_lsh(emb, 0.9, dim=32, n_bits=2, n_tables=48)
    exact = {(r.a, r.b, r.cosine)
             for r in cosine_neardup_pairs(emb, 0.9).collect()}
    got = {(r.a, r.b, r.cosine) for r in lsh.collect()}
    assert got == exact and len(exact) > 0
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------------
# ANN
# --------------------------------------------------------------------------

def _topk_set(df):
    return {(r.q_id, r.p_id, r.rank) for r in df.collect()}


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 8)


def test_ann_np_matches_sql_bruteforce(emb, queries):
    sql = _topk_set(ann_bruteforce_topk(emb, queries, 5))
    np_ = _topk_set(ann_bruteforce_topk_np(emb, queries.toPandas(), 5))
    assert sql == np_


def test_ann_ivf_exact_when_probing_all_lists(emb, queries):
    """nprobe = n_lists probes every list ⇒ IVF must equal brute force."""
    exact = _topk_set(ann_bruteforce_topk(emb, queries, 5))
    ivf = _topk_set(ann_ivf_topk(emb, queries, 5, n_lists=8, nprobe=8,
                                 dim=32))
    assert ivf == exact


def test_ann_ivf_recall_floor(emb, queries):
    ivf = ann_ivf_topk(emb, queries, 10, n_lists=8, nprobe=4, dim=32)
    rec = ann_recall_vs_bruteforce(emb, queries, 10, ivf).collect()[0]
    assert rec.n_queries == 8
    assert rec.recall >= 0.7  # clustered corpus: half the lists ⇒ most hits


def test_ann_lsh_recall_floor(emb, queries):
    lsh = ann_lsh_topk(emb, queries, 10, dim=32)
    rec = ann_recall_vs_bruteforce(emb, queries, 10, lsh).collect()[0]
    assert rec.recall >= 0.8


# --------------------------------------------------------------------------
# textstats
# --------------------------------------------------------------------------

def test_rolling_fingerprint_properties(spark):
    """The 64-bit rolling token fingerprint: deterministic, order-
    sensitive, range-bounded, and equal texts collide while different
    token orders do not."""
    from osmspark.pipeline.textstats import with_fingerprint
    texts = ["the quick brown fox", "the quick brown fox",
             "fox brown quick the", "the quick brown fox jumps"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    out = with_fingerprint(df).orderBy("doc_id").toPandas()
    r = out["fingerprint_roll"].tolist()
    assert r[0] == r[1]             # content-determined
    assert r[0] != r[2]             # order-sensitive (bag-of-words differs)
    assert r[0] != r[3]             # extension-sensitive
    assert all(0 <= v < 1_000_000_007 for v in r)
    # stable across runs (no per-session salt)
    again = with_fingerprint(df).orderBy("doc_id").toPandas()
    assert again["fingerprint_roll"].tolist() == r


def test_dedup_clusters_planted(docs):
    """Connected components over Jaccard pairs: each planted (i, i+1)
    near-dup pair and the exact-dup pair collapse to min-id clusters;
    everything else is a singleton."""
    from osmspark.pipeline.dedup import dedup_clusters
    pairs = ngram_jaccard_pairs(docs, 0.5, n=3)
    out = dedup_clusters(docs, pairs).toPandas()
    lab = dict(zip(out["doc_id"], out["cluster_id"]))
    assert len(lab) == 60
    for i in range(0, 20, 2):
        assert lab[i] == i and lab[i + 1] == i
    assert lab[40] == 40 and lab[41] == 40
    planted = set(range(20)) | {40, 41}
    for d in set(range(60)) - planted:
        assert lab[d] == d  # singleton


def test_simhash_pairs_max_hamming_zero(docs):
    """max_hamming=0 means one full-width 64-bit chunk — the mask
    (1<<64)-1 overflows a Java long, so the full-width chunk must join
    on the raw signature. Pairs are exactly the identical-signature
    ones (the planted exact dup at minimum)."""
    sigs = simhash_signatures(docs)
    got = {(r.a, r.b) for r in simhash_pairs(sigs, max_hamming=0).collect()}
    spdf = sigs.toPandas()
    sig_map = dict(zip(spdf["id"], spdf["simhash"].astype(np.uint64)))
    ids = sorted(sig_map)
    expected = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
                if sig_map[a] == sig_map[b]}
    assert got == expected and (40, 41) in got


def test_simhash_pairs_rejects_bad_threshold(docs):
    sigs = simhash_signatures(docs)
    with pytest.raises(ValueError):
        simhash_pairs(sigs, max_hamming=-1)
    with pytest.raises(ValueError):
        simhash_pairs(sigs, max_hamming=64)


def test_dedup_clusters_raises_on_nonconvergence(spark):
    """A transitive chain that needs more rounds than max_iters must
    RAISE, not silently return split clusters."""
    from osmspark.pipeline.dedup import dedup_clusters
    n = 8
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                      "text": ["x"] * n}))
    chain = spark.createDataFrame(
        pd.DataFrame({"a": np.arange(n - 1, dtype=np.int64),
                      "b": np.arange(1, n, dtype=np.int64)}))
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, chain, max_iters=2)
    # and enough iterations resolves the same chain to one cluster
    out = dedup_clusters(docs, chain, max_iters=n).toPandas()
    assert set(out["cluster_id"]) == {0}


def test_fnv1a_batch_offsets_fold_matches_reference():
    """The concatenated-buffer fold must equal per-string FNV-1a for
    mixed lengths — including one pathologically long shingle (the
    case that used to inflate an (n, max_len) padded matrix) and empty
    bytes (sentinel: hash stays the offset basis)."""
    from osmspark.pipeline.dedup import _fnv1a_batch

    def fnv1a_ref(s: bytes) -> int:
        h = 14695981039346656037
        for c in s:
            h = ((h ^ c) * 1099511628211) % (1 << 64)
        return h

    rng = np.random.default_rng(7)
    strs = [bytes(rng.integers(0, 256, rng.integers(0, 40)).astype(np.uint8))
            for _ in range(50)]
    strs += [b"", b"a" * 10_000, b"x"]
    got = _fnv1a_batch(strs)
    assert got.dtype == np.uint64
    assert [int(v) for v in got] == [fnv1a_ref(s) for s in strs]
    assert len(_fnv1a_batch([])) == 0


def test_degenerate_docs_oracle_parity(spark, tmp_path):
    """Empty / whitespace-only / sub-n-gram docs must hash identically
    in the engine and the DuckDB oracle SQL (zeros(1) sentinel on both
    sides) — a driver dataset containing such docs must not produce a
    spurious oracle mismatch."""
    import sys
    sys.path.insert(0, "/root/repo")
    import duckdb
    import __spark_entry__ as entry
    from osmspark.pipeline.dedup import (
        lsh_candidate_pairs, minhash_signatures,
        simhash_pairs, simhash_signatures)

    pdf = pd.DataFrame({
        "doc_id": np.arange(8, dtype=np.int64),
        "text": ["", "   ", "one", "two tokens", "one", "",
                 "alpha beta gamma delta", "alpha beta gamma delta"]})
    sf = tmp_path / "docs"
    sf.mkdir()
    pdf.to_parquet(sf / "documents.parquet")
    docs = spark.createDataFrame(pdf)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")

    sim_spark = {(r.a, r.b, r.hamming) for r in
                 simhash_pairs(simhash_signatures(docs), max_hamming=6)
                 .collect()}
    sim_oracle = {tuple(t) for t in con.execute(
        entry._simhash_oracle_sql(6)).fetchall()}
    assert sim_spark == sim_oracle
    # identical degenerate docs must register as 0-distance pairs
    assert (0, 1, 0) in sim_spark and (0, 5, 0) in sim_spark

    mh_spark = {(r.a, r.b) for r in
                lsh_candidate_pairs(minhash_signatures(docs), bands=16)
                .collect()}
    mh_oracle = {tuple(t) for t in con.execute(
        entry._minhash_lsh_oracle_sql(bands=16)).fetchall()}
    assert mh_spark == mh_oracle
    # all five no-shingle docs (empty/short) share the sentinel signature
    assert (0, 1) in mh_spark and (2, 4) in mh_spark


def test_top_terms_tfidf_ranking_and_ties(spark):
    from osmspark.pipeline.textstats import top_terms_tfidf
    rows = [
        (1, "en", "apple apple banana"),
        (2, "en", "apple cherry"),
        (3, "de", "banana banana banana"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = top_terms_tfidf(docs, k=2).orderBy("lang", "rank").collect()
    by = {(r.lang, r.rank): r for r in out}
    # de: banana tf=3 df=2 -> 3*3/2=4.5 top
    r = by[("de", 1)]
    assert (r.term, r.tf, r.df, r.score) == ("banana", 3, 2, 4.5)
    # en: apple tf=3 df=2 -> 4.5; banana tf=1 df=2 -> 1.5;
    # cherry tf=1 df=1 -> 3.0
    assert by[("en", 1)].term == "apple"
    assert by[("en", 2)].term == "cherry"
    # ties break lexicographically: two terms with equal score
    docs2 = spark.createDataFrame(
        [(1, "en", "zed alpha")], "doc_id long, lang string, text string")
    out2 = top_terms_tfidf(docs2, k=2).orderBy("rank").collect()
    assert [r.term for r in out2] == ["alpha", "zed"]


def test_top_terms_tfidf_empty_and_case(spark):
    from osmspark.pipeline.textstats import top_terms_tfidf
    docs = spark.createDataFrame(
        [(1, "en", "  The THE the  "), (2, "en", "")],
        "doc_id long, lang string, text string")
    out = top_terms_tfidf(docs, k=3).collect()
    assert len(out) == 1  # empty text contributes no terms
    assert (out[0].term, out[0].tf, out[0].df) == ("the", 3, 1)


# --- mixed-language detection (round 4) ---------------------------------

def test_lang_mix_detects_code_switch(spark):
    from osmspark.pipeline.textstats import with_lang_mix
    en = "the value a fast " * 8            # 32 tokens → 2 en chunks
    de = "der die und nicht " * 4           # 16 tokens → 1 de chunk
    rows = [(1, (en + de).strip()), (2, en.strip())]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_lang_mix(df).collect()}
    mixed, pure = out[1], out[2]
    assert mixed["n_chunks"] == 3 and mixed["n_langs"] == 2
    assert mixed["major_lang"] == "en"
    assert mixed["major_frac"] == round(2 / 3, 6)
    assert pure["n_langs"] == 1 and pure["major_frac"] == 1.0


def test_quantized_mips_topk_exact_on_crafted(spark):
    """SQ8 quantization: known scales, exact integer dots, zero-range
    dim handled, tie order (dot desc, p_id asc)."""
    from osmspark.pipeline.ann import quantized_mips_topk
    rows = [  # dim1 max|v|=2.0, dim2 max=1.0, dim3 constant 0
        (0, [2.0, 0.0, 0.0]),
        (1, [1.0, 1.0, 0.0]),
        (2, [-2.0, 0.5, 0.0]),
        (3, [1.0, -1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter("vec_id = 0")
    out = quantized_mips_topk(df, qs, 3).collect()
    # q0 = [127, 0, 0]; dots: p1 = 127*64=8128 (1.0→round(63.5)=64),
    # p2 = 127*-127, p3 = 127*64 → tie p1/p3 breaks to p_id 1
    assert [(r["p_id"], r["dot_q"], r["rank"]) for r in out] == \
        [(1, 8128, 1), (3, 8128, 2), (2, -16129, 3)]


def test_pii_counts_patterns(spark):
    from osmspark.pipeline.textstats import with_pii_counts
    rows = [(1, "mail a@b.co and c.d+e@f-g.org, ip 10.0.0.1, tel +123456789"),
            (2, "no pii here, not an ip 300 dot or p@ incomplete"),
            (3, "double 1.2.3.4 5.6.7.8 and +12345678901")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_emails"], r["n_ipv4"], r["n_phones"])
           for r in with_pii_counts(df).collect()}
    assert got[1] == (2, 1, 1)
    assert got[2] == (0, 0, 0)
    assert got[3] == (0, 2, 1)


def test_corpus_report_matches_python(spark):
    import hashlib
    import re as _re

    from osmspark.pipeline.report import corpus_report
    from osmspark.pipeline.textstats import PII_PATTERNS

    docs = [(0, "en", "alpha beta gamma"),
            (1, "en", "alpha beta gamma"),          # exact dup of 0
            (2, "de", "mail bob@example.com here"),
            (3, "fr", ""),
            (4, "en", "delta epsilon")]
    df = spark.createDataFrame(docs, "doc_id long, lang string, "
                                     "text string")
    r = corpus_report(df).collect()[0]

    texts = [t for _, _, t in docs]
    n = len(texts)
    toks = [len(t.strip().split()) if t.strip() else 1 for t in texts]
    chars = [len(t.replace(" ", "")) for t in texts]
    distinct = len({hashlib.md5(t.encode()).hexdigest() for t in texts})
    pii = sum(1 for t in texts
              if any(_re.search(p, t) for p in PII_PATTERNS.values()))
    assert (r.n_docs, r.n_langs, r.total_tokens, r.total_chars) \
        == (n, 3, sum(toks), sum(chars))
    assert (r.n_distinct_texts, r.n_dup_docs) == (distinct, n - distinct)
    assert r.dup_rate == round((n - distinct) / n, 9)
    assert (r.n_pii_docs, r.pii_rate) == (pii, round(pii / n, 9))
    assert r.mean_doc_tokens == round(sum(toks) / n, 9)


def test_corpus_report_single_aggregate_plan(spark):
    from osmspark.pipeline.report import corpus_report
    df = spark.createDataFrame([(0, "en", "x y")],
                               "doc_id long, lang string, text string")
    plan = corpus_report(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Python" not in plan


def test_vocab_overlap_matches_python(spark):
    from osmspark.pipeline.textstats import vocab_overlap
    docs = [(0, "en", "alpha beta gamma"),
            (1, "en", "beta delta"),
            (2, "de", "alpha beta epsilon"),
            (3, "fr", "zeta eta"),          # disjoint from en/de
            (4, "de", "beta")]
    df = spark.createDataFrame(docs, "doc_id long, lang string, "
                                     "text string")
    got = {(r.group_a, r.group_b): (int(r.v_a), int(r.v_b),
                                    int(r.v_shared), r.jaccard)
           for r in vocab_overlap(df).collect()}
    vocab = {}
    for _, g, t in docs:
        vocab.setdefault(g, set()).update(t.split())
    exp = {}
    for a in vocab:
        for b in vocab:
            if a < b and vocab[a] & vocab[b]:
                i = len(vocab[a] & vocab[b])
                u = len(vocab[a] | vocab[b])
                exp[(a, b)] = (len(vocab[a]), len(vocab[b]), i,
                               round(i / u, 9))
    assert got == exp
    assert ("en", "fr") not in got           # disjoint pair absent


def test_vocab_overlap_no_cartesian(spark):
    from osmspark.pipeline.textstats import vocab_overlap
    df = spark.createDataFrame([(0, "en", "x")],
                               "doc_id long, lang string, text string")
    plan = vocab_overlap(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_robust_stats_matches_python(spark):
    from osmspark.pipeline.textstats import robust_stats
    vals = {"a": [1, 2, 3, 4, 100],          # outlier 100
            "b": [7, 7, 7],                  # constant → mad 0
            "c": [10, 20]}                   # tiny group
    rows = [(g, v) for g, vs in vals.items() for v in vs]
    df = spark.createDataFrame(rows, "lang string, n_chars long")
    got = {r.lang: (int(r.n), int(r.median), int(r.mad),
                    int(r.n_outliers))
           for r in robust_stats(df, "n_chars", "lang").collect()}

    def oracle(vs, k=3):
        import math
        s = sorted(vs)
        med = s[math.ceil(0.5 * len(s)) - 1]
        devs = sorted(abs(v - med) for v in vs)
        mad = devs[math.ceil(0.5 * len(devs)) - 1]
        return (len(vs), med, mad,
                sum(abs(v - med) > k * mad for v in vs))

    assert got == {g: oracle(vs) for g, vs in vals.items()}
    # the 100 outlier: median 3, mad 1, |100-3| > 3 → flagged; with a
    # CONSTANT group every deviation > 3*0 iff nonzero → none flagged
    assert got["a"] == (5, 3, 1, 1)
    assert got["b"] == (3, 7, 0, 0)


def test_robust_stats_histogram_not_rawrow_window(spark):
    from osmspark.pipeline.textstats import robust_stats
    df = spark.createDataFrame([("a", 1)], "lang string, n_chars long")
    plan = (robust_stats(df, "n_chars", "lang")
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    # the histogram formulation walks cumulative SUMs over (group,
    # value) aggregates — a raw-row nearest-rank rewrite would need
    # row_number over the unaggregated rows (the anti-pattern the
    # docstring forbids)
    assert "row_number" not in plan
