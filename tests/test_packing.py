"""Sequence packing / distributed prefix sum — osmspark/pipeline/packing.py.

Pins: the two-pass bucket prefix sum equals a serial cumsum for every
bucket width (including widths that split the data many ways and width
1), chunk arithmetic (boundary-straddling docs, exact-fit docs,
zero-token docs), and the scale shape — the row-touching windows are
all partitioned by bucket; only the per-bucket-totals window is global.
"""

import pytest

from osmspark.pipeline.packing import pack_sequences, prefix_sum


@pytest.fixture(scope="module")
def docs(spark):
    # lengths chosen so seq boundaries (L=10) land mid-doc, on-edge,
    # and on a zero-length doc
    rows = [(1, 4), (2, 6),          # doc 2 ends exactly at pos 10
            (3, 15),                 # straddles seqs 1-2
            (4, 0),                  # zero tokens at pos 25
            (5, 5), (7, 11), (9, 3)]  # gaps in ids are fine
    return spark.createDataFrame(rows, "doc_id long, n_tokens long")


def test_prefix_sum_matches_serial(docs):
    expected = {}
    cum = 0
    for did, n in sorted([(r.doc_id, r.n_tokens) for r in docs.collect()]):
        cum += n
        expected[did] = cum
    for width in (1, 2, 4, 1 << 20):
        got = {r.doc_id: r.cum
               for r in prefix_sum(docs, "n_tokens",
                                   bucket_width=width).collect()}
        assert got == expected, f"bucket_width={width}"


def test_pack_sequences_chunk_arithmetic(docs):
    out = {r.doc_id: r for r in
           pack_sequences(docs, 10, bucket_width=2).collect()}
    # serial truth: start positions 0,4,10,25,25,30,41
    assert (out[1].start_pos, out[1].seq_first, out[1].seq_last,
            out[1].n_seqs) == (0, 0, 0, 1)
    # doc 2 occupies [4, 10) — ends exactly at the boundary, stays seq 0
    assert (out[2].start_pos, out[2].seq_last) == (4, 0)
    assert out[2].offset_in_seq == 4
    # doc 3 occupies [10, 25) — spans seqs 1-2
    assert (out[3].seq_first, out[3].seq_last, out[3].n_seqs) == (1, 2, 2)
    # zero-token doc reports its boundary sequence twice, n_seqs 1
    assert (out[4].start_pos, out[4].seq_first, out[4].seq_last,
            out[4].n_seqs) == (25, 2, 2, 1)
    assert (out[5].start_pos, out[7].start_pos, out[9].start_pos) \
        == (25, 30, 41)
    assert out[7].n_seqs == 2  # [30, 41) spans seqs 3-4


def test_prefix_sum_plan_shape(docs):
    """Row windows are bucket-partitioned; the only global (empty
    partition spec) window sort feeds the per-bucket totals, and the
    offsets re-attach via broadcast."""
    plan = (prefix_sum(docs, "n_tokens", bucket_width=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    # exactly one single-partition exchange — the bucket-totals window
    assert plan.count("SinglePartition") == 1


def test_chunk_documents_matches_python(spark):
    from osmspark.pipeline.packing import chunk_documents
    docs = [(0, " ".join(f"t{i}" for i in range(20))),   # 20 toks
            (1, "a b c"),                                # fits in one
            (2, ""),                                     # empty → one empty chunk
            (3, " ".join(f"u{i}" for i in range(8)))]    # exact chunk
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(int(r.doc_id), int(r.chunk_idx)):
           (int(r.start_tok), int(r.n_chunk_tokens), r.text_chunk)
           for r in chunk_documents(df, chunk_tokens=8,
                                    stride=4).collect()}
    exp = {}
    for d, t in docs:
        toks = t.split()
        n = len(toks)
        kk = (max(0, n - 8) + 3) // 4
        for i in range(kk + 1):
            sl = toks[i * 4:i * 4 + 8]
            exp[(d, i)] = (i * 4, len(sl), " ".join(sl))
    assert got == exp
    # coverage: every token of doc 0 appears in >= 1 chunk and the
    # final chunk reaches the document end
    assert got[(0, 3)][0] + got[(0, 3)][1] == 20


def test_chunk_documents_no_shuffle(spark):
    from osmspark.pipeline.packing import chunk_documents
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    plan = (chunk_documents(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_chunk_documents_rejects_bad_params(spark):
    import pytest as _pytest

    from osmspark.pipeline.packing import chunk_documents
    df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=0)
    with _pytest.raises(ValueError):
        chunk_documents(df, stride=0)


def test_chunk_documents_rejects_gap_stride(spark):
    import pytest as _pytest

    from osmspark.pipeline.packing import chunk_documents
    df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=10, stride=20)
