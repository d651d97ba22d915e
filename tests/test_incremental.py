"""Corpus-incremental dedup filter — osmspark/pipeline/dedup.py
:func:`incremental_filter`.

Pins: exact-vs-corpus, exact-within-batch (earlier id wins, the batch's
first copy does NOT flag itself), near-dup via shared LSH bands (with
near_of = the smallest corpus id), the never-drop contract, keep
semantics, parity of near_of with a band_frame recomputation, and the
broadcast-batch join shape.
"""

from __future__ import annotations

import pytest

from osmspark.pipeline.dedup import (band_frame, incremental_filter,
                                     minhash_signatures)

BASE = ("the quick brown fox jumps over the lazy dog while the band "
        "plays on and the crowd cheers loudly in the warm summer rain")


@pytest.fixture(scope="module")
def corpora(spark):
    corpus = [
        (1, BASE),
        (2, "completely different corpus text about spark shuffles and "
            "partition pruning strategies for columnar scans"),
        (3, BASE),  # corpus-internal dup (min id 1 must win for near/exact)
    ]
    new = [
        (10, BASE),                                   # exact dup of corpus
        (11, "a genuinely novel document with its own fresh words "
             "nothing shares these tokens at all xylophone quasar"),
        (12, "batch internal duplicate text that repeats verbatim later "
             "in this very same ingest batch of documents"),
        (13, "batch internal duplicate text that repeats verbatim later "
             "in this very same ingest batch of documents"),
    ]
    schema = "doc_id long, text string"
    return (spark.createDataFrame(corpus, schema),
            spark.createDataFrame(new, schema))


def test_verdicts(corpora):
    corpus, new = corpora
    got = {r.doc_id: r for r in
           incremental_filter(new, corpus).collect()}
    assert set(got) == {10, 11, 12, 13}            # never-drop
    # 10 is byte-identical to corpus 1 and 3 → exact_of = 1; identical
    # signatures share every band → near_of = 1 too
    assert got[10].exact_of == 1
    assert got[10].near_of == 1
    assert got[10].keep == 0
    # 11 is unique
    assert got[11].exact_of is None and got[11].near_of is None
    assert got[11].keep == 1
    # 12/13: within-batch exact pair — the FIRST copy survives
    assert got[12].exact_of is None and got[12].keep == 1
    assert got[13].exact_of == 12 and got[13].keep == 0


def test_near_of_matches_band_recomputation(corpora):
    corpus, new = corpora
    nb = band_frame(minhash_signatures(new)).toPandas()
    cb = band_frame(minhash_signatures(corpus)).toPandas()
    merged = nb.merge(cb, on=["band_idx", "band_hash"],
                      suffixes=("_n", "_c"))
    expect = merged.groupby("id_n")["id_c"].min().to_dict()
    got = {r.doc_id: r.near_of for r in
           incremental_filter(new, corpus).collect()}
    for d in (10, 11, 12, 13):
        assert got[d] == expect.get(d, None)


def test_plan_broadcasts_batch_side(corpora):
    corpus, new = corpora
    plan = incremental_filter(new, corpus) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
