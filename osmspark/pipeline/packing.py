"""Sequence packing for LLM training — assign documents to fixed-length
training sequences by cumulative token position ("concat and chunk": the
corpus is one token stream in id order; sequence s owns positions
[s·L, (s+1)·L)).

The primitive underneath is a DISTRIBUTED EXACT PREFIX SUM, which a
naive `Window.orderBy(id)` cannot do at scale: an unpartitioned window
funnels all 10^12 rows through ONE task. The classic two-pass shape
here keeps every row-touching stage parallel:

1. rows bucket by `floor(id / bucket_width)` (fixed-width id buckets —
   deterministic, unlike `repartitionByRange`'s sampled boundaries, and
   skew-free when ids are roughly dense); a per-bucket window computes
   the local running sum,
2. per-bucket totals (ONE row per bucket — ~n/bucket_width rows, tiny)
   take the only global window, yielding each bucket's starting offset,
   which broadcast-joins back: `cum = bucket_offset + local_cum`.

So the single-partition stage sees #buckets rows, never corpus rows —
at 10^12 docs / 2^20-wide buckets that is ~10^6 rows, kilobytes of
shuffle. Everything is integer arithmetic on exact int64 sums: the
assignment is engine-portable and a plain SQL window cumsum oracles it.

Greedy no-split bin packing (skip to the next bin when a doc doesn't
fit) is deliberately absent: its fold is order-dependent and
non-associative, i.e. inherently sequential — the concat-and-chunk
discipline (what GPT-style pretraining actually uses) is the
distributable semantic.

Reference scope note: marook/osm-read stops at entity decode; this is
consumer-side curation the graft adds on the webtext axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["prefix_sum", "pack_sequences", "chunk_documents"]


def prefix_sum(df: DataFrame, val_col: str, order_col: str = "doc_id",
               bucket_width: int = 1 << 20,
               out: str = "cum") -> DataFrame:
    """Exact inclusive prefix sum of ``val_col`` in ``order_col`` order,
    without a global single-partition window (see module docstring).
    ``order_col`` must be unique; buckets are ``floor(order/width)``.
    """
    if bucket_width < 1:
        raise ValueError("bucket_width must be >= 1")
    rows = df.withColumn("_bucket",
                         F.floor(F.col(order_col) / F.lit(bucket_width)))
    local_w = Window.partitionBy("_bucket").orderBy(order_col)
    rows = rows.withColumn("_local_cum",
                           F.sum(F.col(val_col).cast("long")).over(local_w))
    bucket_sums = (rows.groupBy("_bucket")
                   .agg(F.sum(F.col(val_col).cast("long")).alias("_bsum")))
    # the only unpartitioned window — over per-bucket rows, not corpus
    # rows (one row per bucket_width ids)
    off_w = (Window.orderBy("_bucket")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = bucket_sums.select(
        "_bucket",
        F.coalesce(F.sum("_bsum").over(off_w), F.lit(0)).alias("_offset"))
    return (rows.join(F.broadcast(offsets), "_bucket")
            .withColumn(out, F.col("_offset") + F.col("_local_cum"))
            .drop("_bucket", "_local_cum", "_offset"))


def pack_sequences(docs: DataFrame, seq_len: int,
                   token_col: str = "n_tokens", id_col: str = "doc_id",
                   bucket_width: int = 1 << 20) -> DataFrame:
    """Concat-and-chunk packing: place docs end-to-end in id order and
    chunk the stream into ``seq_len``-token training sequences.

    Per input doc (zero-token docs keep a row at their stream position):

    * ``start_pos``  — exclusive prefix sum: the doc's first token's
      global stream position,
    * ``seq_first`` / ``seq_last`` — the sequence ids holding the doc's
      first and last token (``seq_last = seq_first`` when it fits in
      one; zero-token docs report their boundary sequence twice),
    * ``offset_in_seq`` — position of the doc's first token within
      ``seq_first``,
    * ``n_seqs`` — how many sequences the doc spans (1 + last − first).
    """
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    cum = prefix_sum(docs, token_col, order_col=id_col,
                     bucket_width=bucket_width, out="_cum")
    start = F.col("_cum") - F.col(token_col)
    last_tok = F.when(F.col(token_col) > 0, F.col("_cum") - 1) \
                .otherwise(start)
    # integer DIV, not floor(double /): a double mantissa drops token
    # positions past 2^53 — well inside a 10^12-doc stream's range
    L = int(seq_len)
    return (cum.select(
        F.col(id_col).alias("doc_id"),
        F.col(token_col).cast("long").alias("n_tokens"),
        start.cast("long").alias("start_pos"),
        last_tok.cast("long").alias("_last_tok"))
        .withColumn("seq_first", F.expr(f"start_pos DIV {L}"))
        .withColumn("seq_last", F.expr(f"_last_tok DIV {L}"))
        .withColumn("offset_in_seq", F.pmod(F.col("start_pos"), F.lit(L))
                    .cast("long"))
        .withColumn("n_seqs", F.col("seq_last") - F.col("seq_first") + 1)
        .drop("_last_tok"))


def chunk_documents(docs: DataFrame, chunk_tokens: int = 128,
                    stride: int = 64, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Sliding-window document chunking — the RETRIEVAL-side
    counterpart to :func:`pack_sequences` (training packs documents
    INTO sequences; retrieval splits documents into overlapping
    chunks): windows of ``chunk_tokens`` whitespace tokens starting
    every ``stride`` tokens, the standard RAG/embedding-index shape.

    Chunk-start arithmetic is exact integer: K = ceil(max(0,
    n − chunk)/stride) extra starts beyond the first, so every token
    lands in ≥ 1 chunk, the final chunk ends at the document end, and
    a doc with n ≤ chunk_tokens yields exactly one chunk. Pure SQL —
    one posexplode-free map pass (sequence + slice + concat_ws), no
    shuffle, no Python; output (doc_id, chunk_idx, start_tok,
    n_chunk_tokens, text_chunk) is deterministic per row.
    """
    if chunk_tokens <= 0 or stride <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if stride > chunk_tokens:
        raise ValueError(
            "stride > chunk_tokens would leave uncovered token gaps "
            "(the every-token-covered invariant needs stride <= "
            "chunk_tokens)")
    # an empty or all-space text splits to [""]: drop it so the
    # document is one empty chunk, not a phantom one-token chunk
    toks = F.array_remove(F.split(F.trim(F.col(text_col)), " +"), "")
    n = F.size(toks)
    extra = F.greatest(F.lit(0), n - F.lit(chunk_tokens))
    # K = ceil(extra / stride) as exact integer arithmetic
    k = ((extra + F.lit(stride - 1))
         - (extra + F.lit(stride - 1)) % F.lit(stride)) / F.lit(stride)
    out = (docs.select(F.col(id_col).alias("doc_id"),
                       toks.alias("_toks"),
                       k.cast("long").alias("_k"))
           .select("doc_id", "_toks",
                   F.explode(F.sequence(F.lit(0).cast("long"),
                                        F.col("_k"))).alias("chunk_idx")))
    start = F.col("chunk_idx") * F.lit(stride)
    chunk = F.slice(F.col("_toks"), start + 1, chunk_tokens)
    return out.select(
        "doc_id", "chunk_idx",
        start.cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("text_chunk"))
