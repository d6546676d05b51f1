"""Curation and training-data assembly queries: quality gates,
sampling, chunk/pack layout, context windows, SFT capstones and the
end-to-end funnels."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._shared import _t, _fixture_turns


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: content-hash uniform keeps
    the same rows regardless of partitioning/engine (md5-32 family),
    with per-stratum fractions riding a literal CASE — no shuffle,
    pushdown-friendly."""
    from pdfextraction_spark.functions.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(
        docs, fraction=0.3, key_col="doc_id", stratum_col="source",
        fractions={"src0": 1.0, "src1": 0.05},
    ).select("doc_id", F.col("source").alias("stratum"))


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: the reference's X9-X11 value patterns
    (spatial_preprocessor.py:374-384) plus email, extended from
    match-testing to corpus redaction with per-kind counts — chained
    regexp_replace, pure codegen."""
    from pdfextraction_spark.functions.text import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    counts = pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        *[counts[k].alias(f"n_{k}") for k in ("email", "ssn", "phone", "date")],
        redact_pii(F.col("text")).alias("redacted"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality stats (Rae et al. 2021 A1.1):
    char share of the top word 2-/3-gram + duplicated-2-gram share.
    Fixture-scale ns; production uses dup-gram n of 5..10 (the n=5
    path is pinned in pytest on crafted repetitive docs)."""
    from pdfextraction_spark.functions.repetition import (
        ngram_repetition_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_repetition_stats(docs, top_ns=(2, 3), dup_ns=(2,))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by exact n-gram collision (GPT-3
    App. C style): eval set = doc_id % 41 == 0, corpus = the rest;
    a corpus doc is contaminated when it shares any word 3-gram with
    the eval set (3 at fixture scale; 8..13-gram is the published
    production window). Eval side broadcast."""
    from pdfextraction_spark.functions.repetition import contamination_hits

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 41 == 0)
    corpus = docs.filter(F.col("doc_id") % 41 != 0)
    return contamination_hits(corpus, ev, n=3)


def q_corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-calibrated lexical quality: per-doc type-token ratio +
    rare-token share against a corpus document-frequency model (two
    aggregations + a token-keyed equi-join; the DF model is never
    broadcast — at corpus scale the rare tail IS the vocabulary).
    rare_df_max=385 (the fixture's median token df) because the
    synthetic vocabulary is ~31 types with df 25..402 — the dial is
    corpus-calibrated and a web corpus uses single digits; 385 makes
    roughly half the vocabulary 'rare' so the per-doc ratios carry
    signal for the oracle."""
    from pdfextraction_spark.functions.repetition import corpus_token_stats

    docs = _t(spark, sf_dir, "documents")
    return corpus_token_stats(docs, rare_df_max=385)


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota (balanced) sampling: exactly min(k, |stratum|) docs per
    language, ranked by the content-deterministic md5-32 uniform —
    the language-balanced training-mix selector."""
    from pdfextraction_spark.functions.sampling import quota_sample

    docs = _t(spark, sf_dir, "documents")
    return quota_sample(docs, k=5, stratum_col="lang").select(
        "doc_id", "lang", F.col("sample_rank").cast("long").alias(
            "sample_rank")
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence chunking: 32-token windows, stride 24 (sized
    to the fixture's ~54-token docs so multi-chunk docs are common;
    production uses context-length windows). Pure narrow transform —
    no shuffle."""
    from pdfextraction_spark.functions.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, stride=24)


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenation packing of the chunked corpus into capacity-128
    bins across 8 content-deterministic shards — the training-example
    layout step after chunking (production: capacity = model context,
    n_shards ~ cluster width)."""
    from pdfextraction_spark.functions.chunking import (
        chunk_documents,
        pack_chunks,
    )

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, stride=24)
    return pack_chunks(chunks, capacity=128, n_shards=8)


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel — the composite a training-data
    pipeline actually runs, proving the gates COMPOSE: (1) quality +
    language gate, (2) exact-dedup canonicalization (md5 fingerprint
    group, min id wins — portable analogue of the xxhash64 production
    key), (3) repetition gate on the top-2-gram char share, (4)
    language-balanced quota sample of the survivors. Output is the
    selected training subset with its per-language rank.

    Implementation shared with `cli curate`
    (functions/curation.curation_funnel — single home for the oracle
    contract). 0.12 = fixture q90 of the survivor top2 distribution
    (the gate must actually remove docs to be oracle-exercised);
    Gopher's published top-2-gram threshold is 0.20 on web text."""
    from pdfextraction_spark.functions.curation import curation_funnel

    docs = _t(spark, sf_dir, "documents")
    return curation_funnel(
        docs, min_quality=0.5, max_top2_frac=0.12, per_lang=10
    ).select(
        "doc_id", "lang",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )


def q_curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel with the NEAR-dup canonicalization stage real
    pipelines run between exact dedup and the repetition gate:
    minhash-LSH pairs over the survivors (the chain the green
    minhash_lsh_pairs row checks and the CLI near-dup stage runs),
    connected components, keep the highest-quality copy per cluster
    (ties -> smallest id). The oracle re-derives the whole chain including a
    WITH RECURSIVE transitive closure; the fixture's planted near-dup
    documents are demonstrably removed (pinned in pytest)."""
    from pdfextraction_spark.functions.curation import curation_funnel

    docs = _t(spark, sf_dir, "documents")
    return curation_funnel(
        docs, min_quality=0.5, max_top2_frac=0.12, per_lang=10,
        near_dup=True, nd_threshold=0.2,
    ).select(
        "doc_id", "lang",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF keywords (smooth log idf) — the
    keyword-extraction primitive of corpus analytics. TF and DF are
    two hash aggregations; the TF x DF join shuffles on term (a web
    vocabulary is too large to broadcast — corpus_token_stats
    stance); top-k is one doc-keyed window."""
    from pdfextraction_spark.functions.repetition import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=5)


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-stable train/val/test assignment
    (md5-32 uniform on doc_id): a doc keeps its split across reruns,
    partitionings, and corpus growth — the anti-contamination
    property a random split lacks. Zero shuffle."""
    from pdfextraction_spark.functions.sampling import dataset_split

    return dataset_split(
        _t(spark, sf_dir, "documents"), train=0.8, val=0.1
    ).select("doc_id", "lang", "split")


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact R-7 length quantiles (chars + whitespace
    tokens) — the distribution summary that chooses chunking/packing
    dials."""
    from pdfextraction_spark.functions.repetition import (
        corpus_length_quantiles,
    )

    return corpus_length_quantiles(_t(spark, sf_dir, "documents"))


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture planning at a 30k-token budget with the default
    uniform target mix — each source's budget slice vs its available
    tokens yields epochs (oversample) or a clamped sample_rate
    (subsample). 30k sits near the sf corpus total, so both regimes
    appear; the rates feed hash_sample(fractions=...) for
    content-deterministic execution."""
    from pdfextraction_spark.functions.sampling import mixture_weights

    return mixture_weights(
        _t(spark, sf_dir, "documents"), budget_tokens=30000
    )


def q_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-training context assembly: every EXTRACTED turn becomes a
    training target whose context is the maximal run of preceding
    turns fitting a 100-token budget — the conversation-threaded
    counterpart of chunk_documents (each doc-chunk is standalone; a
    chat sample carries its history). Budget 100 sits at the
    fixture's q99 turn length, so both multi-turn contexts and the
    single-turn truncation clamp are exercised. Composes the
    extraction pipeline with the window op, so the oracle (golden
    turns parquet + window SQL) checks both."""
    from pdfextraction_spark.functions.chunking import context_windows
    from pdfextraction_spark.pipeline import extract_dataframe

    ex = extract_dataframe(_fixture_turns(spark, sf_dir))
    return context_windows(ex, budget=100, text_col="extracted_text")


def q_sft_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT sample assembly — the capstone composition: extraction ->
    per-turn context windows (100-token budget over EXTRACTED text)
    -> keep assistant turns with a clean parse and a non-trivial
    (>= 2-turn) context. Each output row is one training sample: the
    target turn plus the window of history the model would see.
    Windows are computed over ALL turns first (context includes user/
    tool turns) and the role gate applies only to the TARGET — the
    ordering that makes the samples faithful to serving."""
    from pdfextraction_spark.functions.chunking import context_windows
    from pdfextraction_spark.pipeline import extract_dataframe

    # one extraction pass: the two consumers below (window build and
    # the role/parse gate) would otherwise each re-derive the full
    # extract lineage — materialize the slim projection once
    ex = extract_dataframe(_fixture_turns(spark, sf_dir)).select(
        "conv_id", "turn_idx", "role", "parse_failed", "extracted_text"
    ).localCheckpoint()
    cw = context_windows(ex, budget=100, text_col="extracted_text")
    meta = ex.select("conv_id", "turn_idx", "role", "parse_failed")
    return (
        cw.join(meta, ["conv_id", "turn_idx"])
        .filter(
            (F.col("role") == "assistant")
            & ~F.col("parse_failed")
            & (F.col("ctx_n_turns") >= 2)
        )
        .select("conv_id", "turn_idx", "n_tokens", "ctx_start_idx",
                "ctx_n_turns", "ctx_tokens")
    )


def q_sft_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT PACKING capstone — sft_samples composed with pack_chunks:
    each (context + target) training sample, sized by its ctx_tokens
    window total, is laid out into capacity-512 training bins across
    8 content-deterministic shards (conv_id md5 bucket, within-shard
    running sum over (conv_id, turn_idx)) — the final
    training-example layout step. No global sort: every shard packs
    independently, so the plan is one window over the shard
    partitioning (the pack_chunks scale contract)."""
    from pdfextraction_spark.functions.chunking import pack_chunks

    samples = q_sft_samples(spark, sf_dir)
    return pack_chunks(
        samples, capacity=512, n_shards=8,
        id_col="conv_id", idx_col="turn_idx", len_col="ctx_tokens",
    )


def q_training_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data gate: extraction -> language-ID +
    quality scoring on the EXTRACTED text -> filtered corpus rows."""
    from pdfextraction_spark.functions import text as X
    from pdfextraction_spark.pipeline import extract_dataframe

    ex = extract_dataframe(_fixture_turns(spark, sf_dir))
    t = F.col("extracted_text")
    return (
        ex.filter(~F.col("parse_failed"))
        .select(
            "conv_id",
            "turn_idx",
            "payload_kind",
            F.round(X.quality_score(t), 4).alias("quality"),
            X.is_english(t).alias("is_en"),
            F.length(t).cast("long").alias("n_chars"),
        )
        .filter((F.col("quality") >= 0.3) & (F.col("n_chars") >= 20))
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020): train an
    add-1 unigram LM (top-20 vocab + OOV symbol) on the documents
    corpus, score every document's perplexity with it. vocab_size=20
    against the sf tables' ~31-word vocabulary so BOTH the in-vocab
    and the OOV pricing branch carry mass in the checked result.
    ppl rounded to 4dp (ln/exp cross-engine float drift ~1e-13 —
    the tfidf-precedent boundary-flip risk, accepted + documented)."""
    from pdfextraction_spark.functions.lm import (
        perplexity_score,
        train_unigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    lm, oov_logp, _n = train_unigram_lm(docs, vocab_size=20, alpha=1.0)
    scores = perplexity_score(docs, lm, oov_logp)
    return scores.select(
        "doc_id", "n_tokens", F.round("ppl", 4).alias("ppl")
    )


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus stratification: tercile cutoffs
    of the LM perplexity (broadcast scalars, NOT a global ntile
    window), CASE bucket assignment. Spark `percentile` and DuckDB
    `quantile_cont` are both R-7 (length_quantiles precedent); ppl is
    a double, so a cross-engine flip would need a doc within ~1e-13
    of a cutoff — accepted, same as the ln/exp drift of the parent
    query."""
    from pdfextraction_spark.functions.lm import (
        ppl_buckets,
        train_unigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    lm, oov_logp, _n = train_unigram_lm(docs, vocab_size=20, alpha=1.0)
    b = ppl_buckets(docs, lm, oov_logp)
    return b.select("doc_id", "n_tokens", "bucket")
