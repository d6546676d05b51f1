"""Document chunking for training-sequence preparation.

Pretraining pipelines cut documents into fixed-size token windows with
overlap (stride < window) before packing/tokenization. This is a pure
per-row transform — no shuffle at all: the chunk array is a staged
``transform`` over the bound token array (the staging rule from
functions/similarity.py), then one ``text.explode_rows``.

Chunk layout (the standard sliding-window convention): starts at
0, stride, 2*stride, ...; chunk i covers tokens
[i*stride, i*stride + chunk_tokens). A doc with n <= chunk_tokens
yields exactly one chunk; otherwise ceil((n - chunk_tokens) / stride)
+ 1 chunks, so the last window always reaches the end of the doc and
no trailing window is a strict suffix of the previous one. All
arithmetic is integer-exact, so the DuckDB oracle reproduces chunk
boundaries bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .sampling import hash_uniform
from .text import explode_rows


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 96,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_idx, n_tokens, chunk_text) sliding windows.

    ``stride`` must be in (0, chunk_tokens]; overlap between adjacent
    chunks is chunk_tokens - stride tokens."""
    if not 0 < stride <= chunk_tokens:
        raise ValueError("stride must be in (0, chunk_tokens]")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
    ).withColumn("n", F.size("toks"))
    n = F.col("n")
    last_start_idx = F.when(n <= chunk_tokens, F.lit(0)).otherwise(
        F.floor((n - chunk_tokens + stride - 1) / stride).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), last_start_idx),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.least(n - i * stride, F.lit(chunk_tokens))
            .cast("long")
            .alias("n_tokens"),
            F.array_join(
                F.slice(F.col("toks"), i * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        ),
    )
    staged = base.withColumn("cs", chunks)
    return explode_rows(staged, "cs", "c", "doc_id").select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


def pack_chunks(
    chunks: DataFrame,
    capacity: int = 2048,
    n_shards: int = 64,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    len_col: str = "n_tokens",
) -> DataFrame:
    """Concatenation packing: assign each chunk a (shard, bin_id,
    bin_offset) so training examples are built by concatenating a
    bin's chunks in order and cutting at ``capacity`` tokens — the
    standard pretraining packing scheme (concatenate-then-slice), not
    bin-packing optimization.

    A chunk belongs to the bin where its first token lands;
    ``bin_offset`` is that token's position within the bin, and a
    chunk with bin_offset + n_tokens > capacity straddles into the
    next bin (the tokenizer splits it there — that's the
    concatenate-then-slice contract, no padding waste).

    Scale shape: a single GLOBAL ordered window would serialize onto
    one task, so packing is SHARDED — the content-deterministic md5-32
    uniform on the doc id buckets docs into ``n_shards`` independent
    packing streams, each a partitioned running sum. Determinism:
    shard assignment is content-based and the within-shard order is
    (doc_id, chunk_idx), so the layout is reproducible across runs,
    partitionings, and engines; bins are only ever underfull at each
    shard's tail (n_shards * <1 bin of waste corpus-wide)."""
    shard = F.floor(
        hash_uniform(F.col(id_col)) * n_shards
    ).cast("int")
    with_shard = chunks.withColumn("shard", shard)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc(), F.col(idx_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_end = F.sum(F.col(len_col)).over(w)
    start = (cum_end - F.col(len_col)).cast("long")
    return with_shard.select(
        id_col,
        idx_col,
        len_col,
        "shard",
        F.floor(start / capacity).cast("long").alias("bin_id"),
        F.pmod(start, F.lit(capacity)).cast("long").alias("bin_offset"),
    )


def context_windows(
    turns: DataFrame,
    budget: int = 256,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Per-turn training-context assembly over a conversation: for
    every turn i the context is the maximal contiguous run of turns
    [j..i] (conversation order) whose whitespace-token total fits
    ``budget`` — the chat-training analogue of chunk_documents, where
    each turn becomes a training target and the budget is the model's
    context length. A turn whose OWN token count exceeds the budget is
    its own context, flagged ``truncated`` (the tokenizer cuts it).

    Output (one row per input turn, all scalar columns): conv_id,
    turn_idx, n_tokens, ctx_start_idx (turn_idx of the first context
    turn), ctx_n_turns, ctx_tokens, truncated.

    One hash shuffle on conv_id, then a segmented numpy pass per Arrow
    batch (``_np_context_windows``): O(len log len) per conversation.
    Window start is monotone in i, so it needs no iteration: j is the
    first turn whose exclusive prefix sum is >= cum_i - budget,
    clamped to i when the turn alone overflows.
    """
    # shared token convention (ONE home: text.ws_token_count); NULL
    # text counts as 0 tokens (like empty) — without the coalesce a
    # NULL tok would crash the numpy cumsum
    from .text import ws_token_count

    tok = ws_token_count(
        F.coalesce(F.col(text_col), F.lit(""))
    ).cast("long")
    base = turns.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("turn_idx"),
        tok.alias("tok"),
    )
    return _np_context_windows(base, budget)


def _np_context_windows(base: DataFrame, budget: int) -> DataFrame:
    """mapInPandas body of context_windows: hash-repartition by
    conv, sort within partitions by (conv, turn), then ONE segmented
    numpy pass per Arrow batch — cumsums and the window-start
    searchsorted are computed for every conversation in the batch at
    once. This is deliberately NOT groupBy().applyInPandas: that
    dispatches one Python round-trip per GROUP, and a corpus has
    millions of small conversations (measured 12 s vs ~2 s on the
    600k-turn bench fixture — per-group dispatch, not math, was the
    wall). A conversation straddling an Arrow batch boundary is
    carried into the next batch (batches arrive in partition sort
    order), so results are exact regardless of batch cuts."""
    import numpy as np
    import pandas as pd

    # key column types follow the INPUT (a bigint conv_id or long
    # turn_idx must not be silently coerced to the fixture's
    # string/int shape)
    dts = dict(base.dtypes)
    schema = (
        f"conv_id {dts['conv_id']}, turn_idx {dts['turn_idx']},"
        f" n_tokens long, ctx_start_idx {dts['turn_idx']},"
        " ctx_n_turns int, ctx_tokens long, truncated boolean"
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        # pdf holds WHOLE conversations, sorted by (conv, turn)
        conv = pdf["conv_id"].to_numpy()
        tokv = pdf["tok"].to_numpy(dtype=np.int64)
        turn = pdf["turn_idx"].to_numpy()
        change = np.r_[True, conv[1:] != conv[:-1]]
        seg_start = np.flatnonzero(change)
        seg_id = np.cumsum(change) - 1
        cum_all = np.cumsum(tokv)
        offset = np.where(seg_start > 0, cum_all[seg_start - 1], 0)
        cum = cum_all - offset[seg_id]      # within-conv inclusive
        prefix = cum - tokv                 # within-conv exclusive
        j = np.empty(len(pdf), dtype=np.int64)
        ends = np.r_[seg_start[1:], len(pdf)]
        for s, e in zip(seg_start, ends):   # tiny per-conv searchsorted
            j[s:e] = s + np.searchsorted(
                prefix[s:e], cum[s:e] - budget, side="left")
        i = np.arange(len(pdf))
        trunc = j > i
        j = np.minimum(j, i)
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].reset_index(drop=True),
                "turn_idx": pdf["turn_idx"].reset_index(drop=True),
                "n_tokens": tokv,
                "ctx_start_idx": turn[j],
                "ctx_n_turns": np.where(trunc, 1, i - j + 1).astype(
                    "int32"
                ),
                "ctx_tokens": np.where(
                    trunc, tokv, cum - prefix[j]
                ).astype(np.int64),
                "truncated": trunc,
            }
        )

    def gen(batches):
        # hold = PIECES of the one open conversation (the partition
        # tail), concatenated ONCE when it closes. Re-concatenating
        # the whole carry into every incoming batch would copy the
        # open conversation once per batch it spans — O(len^2/batch)
        # for a mega-conversation (1200 full copies for a 10M-turn
        # conversation at 8192-row Arrow batches). Batches arrive in
        # partition sort order, so the open conversation either
        # continues at the head of the next batch or closed exactly
        # at the boundary; in both cases hold + the batch's non-tail
        # rows are complete conversations in sort order, so one
        # concat + one assemble per batch stays exact.
        hold = []
        for pdf in batches:
            if not len(pdf):
                continue
            tail = pdf["conv_id"] == pdf["conv_id"].iloc[-1]
            done = pdf[~tail]
            if len(done):
                closed = (
                    pd.concat(hold + [done], ignore_index=True)
                    if hold else done.reset_index(drop=True)
                )
                hold = []
                yield assemble(closed)
            elif hold and hold[-1]["conv_id"].iloc[-1] != pdf["conv_id"].iloc[0]:
                # batch is entirely one NEW conversation: the held one
                # closed exactly at the batch boundary
                yield assemble(pd.concat(hold, ignore_index=True))
                hold = []
            hold.append(pdf[tail])
        if hold:
            yield assemble(pd.concat(hold, ignore_index=True))

    part = base.repartition("conv_id").sortWithinPartitions(
        "conv_id", "turn_idx")
    return part.mapInPandas(gen, schema)
