"""Deduplication-family queries: exact/near-dup sketches (minhash,
simhash, winnowing), asymmetric incremental joins, clustering and
the conversation-level dedup composites."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._shared import _t, _fixture_turns


def q_trigram_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language-ID score per document."""
    from pdfextraction_spark.functions.text import en_trigram_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(en_trigram_score(F.col("text")), 6).alias("en_score"),
        (en_trigram_score(F.col("text")) >= 0.01).alias("looks_en"),
    )


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003 rolling-hash
    selection) per document — the substring-match-guaranteeing
    fingerprint family, alongside the whole-doc hash."""
    from pdfextraction_spark.functions.text import winnowed

    docs = _t(spark, sf_dir, "documents")
    return winnowed(docs, k=8, window=4, out_col="_fps").select(
        "doc_id",
        F.array_join("_fps", ",").alias("fingerprints"),
        F.size("_fps").cast("long").alias("n_fps"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on normalized text."""
    from pdfextraction_spark.functions.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized text
    (SQL-portable analogue of the xxhash64 shuffle fingerprint)."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    return docs.select(
        "doc_id", F.md5(F.encode(norm, "UTF-8")).alias("fingerprint")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs (word 3-grams, >= 0.2)."""
    from pdfextraction_spark.functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: the DuckDB oracle re-derives
    signatures, band keys, candidates, and the exact Jaccard
    verification from the raw documents table (was a rows-only check
    in r2). The CLI's near-dup stage runs the same hash family."""
    from pdfextraction_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)


def q_simhash_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 60-bit portable SimHash sketch itself, hash-checked per doc
    — pins the sketch computation independently of how many near-pairs
    the corpus happens to contain."""
    from pdfextraction_spark.functions.dedup import simhash_portable60

    return simhash_portable60(_t(spark, sf_dir, "documents"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the scale-safe standard config
    (d=3, 4 wide bands — Manku WWW'07); d=12 remains an explicit
    opt-in cost dial on the function. md5 sketch -> full DuckDB
    oracle (banding + exact Hamming verify)."""
    from pdfextraction_spark.functions.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_cosine_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact form (the verifier path;
    the LSH-blocked scale path is recall-tested against this in
    pytest)."""
    from pdfextraction_spark.functions.similarity import cosine_near_pairs

    return cosine_near_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, blocked=False
    )


def q_cosine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs on the SCALE path (LSH-blocked +
    multiprobe — the plan you'd run at corpus size, VERDICT r2 item 2).
    Its md5-derived integer planes make the blocked candidate set
    oracle-exact. The exact O(n^2) form stays as the small-N verifier
    query."""
    from pdfextraction_spark.functions.similarity import cosine_near_pairs

    return cosine_near_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, blocked=True,
        bits=4,
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components (distributed
    min-label propagation) over the exact n-gram Jaccard pair graph —
    cluster id, size, and the canonical keep-one doc per group. The
    DuckDB oracle recomputes the components exactly via WITH RECURSIVE
    transitive closure."""
    from pdfextraction_spark.functions.dedup import ngram_jaccard_pairs
    from pdfextraction_spark.operators.graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.2).select("id_a", "id_b")
    return dedup_clusters(docs, pairs)


def q_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster canonicalization: one representative per
    near-dup cluster, chosen as the LONGEST copy (n_chars; longest =
    least truncated — the common keep-best heuristic; any score column
    works, e.g. quality_score) with ties to the smallest id."""
    from pdfextraction_spark.functions.dedup import ngram_jaccard_pairs
    from pdfextraction_spark.operators.graph import (
        cluster_representatives,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.2).select(
        "id_a", "id_b")
    return cluster_representatives(docs, pairs, score_col="n_chars")


def q_ngram_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: near-dup join of a 'new batch' (doc_id % 7
    == 0) against the 'existing corpus' (the rest) — cross-side pairs
    only, neither side self-joined. The everyday production shape:
    each crawl increment dedups against the accumulated corpus."""
    from pdfextraction_spark.functions.dedup import ngram_jaccard_join

    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return ngram_jaccard_join(new_batch, corpus, threshold=0.2)


def q_minhash_lsh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup SCALE path: same new-batch-vs-corpus split as
    ngram_jaccard_join but candidates come from cross-side minhash
    band collisions (the one minhash family) — both sides can be
    arbitrarily large; exact Jaccard verifies before emit."""
    from pdfextraction_spark.functions.dedup import minhash_lsh_join

    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return minhash_lsh_join(new_batch, corpus, threshold=0.2)


def q_cosine_near_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding dedup: LSH-blocked asymmetric near-dup
    join of a 'new batch' of vectors (vec_id % 7 == 0) against the
    corpus — the new-batch side multiprobes, exact cosine verifies.
    bits=4 for fixture-scale recall (same dial note as the symmetric
    blocked query)."""
    from pdfextraction_spark.functions.similarity import cosine_near_join

    emb = _t(spark, sf_dir, "embeddings")
    new_batch = emb.filter(F.col("vec_id") % 7 == 0)
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    return cosine_near_join(new_batch, corpus, threshold=0.4, bits=4)


def q_hot_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stoplist made visible: shingles whose document frequency
    exceeds the dial — the boilerplate a skewed corpus would
    otherwise let explode the blocking self-join. max_df=4 exercises
    the threshold on the sf fixture (its df distribution tops out at
    7); production uses ~1000 on web corpora."""
    from pdfextraction_spark.functions.dedup import hot_shingles

    return hot_shingles(_t(spark, sf_dir, "documents"), max_df=4)


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication monitoring — the feed-health chart of a
    crawl pipeline. The sf fixture has no exact dups, so the query
    unions in whitespace-mangled copies of every 10th doc (offset
    ids) to exercise the rate; the oracle mirrors the construction."""
    from pdfextraction_spark.functions.dedup import dup_rate_by_source

    docs = _t(spark, sf_dir, "documents")
    mangled = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text",
                    F.concat(F.lit("  "), F.upper(F.col("text")),
                             F.lit("   ")))
    )
    return dup_rate_by_source(docs.unionByName(mangled))


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions — which docs were
    added / removed / changed between crawl snapshots, the question
    an incremental pipeline asks before re-running anything. The two
    snapshots are derived deterministically from the one sf table
    (mod-splits + a ' v2' amendment); one full outer join on the id,
    fingerprints via the shared normalized-md5 key."""
    from pdfextraction_spark.functions.dedup import corpus_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 5)
    new = docs.filter(F.col("doc_id") % 7 != 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


def q_winnow_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs over winnowing fingerprints —
    the quote/boilerplate-subset detector symmetric Jaccard dedup
    misses (a short doc quoted inside a long one has a tiny union
    ratio but containment ~1). Portable md5 family; the oracle
    re-derives the whole chain from the shared winnow fragment."""
    from pdfextraction_spark.functions.dedup import (
        winnow_containment_pairs,
    )

    return winnow_containment_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.3
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): coarse
    16-cluster assignment (lloyd_iters=0 strided seeds — the oracle
    config), then within-cluster epsilon-ball pruning at cosine 0.3 —
    a vector survives iff no smaller-id member of its own cluster is
    that close. The embedding-space counterpart of the text near-dup
    family; production refines centroids with Lloyd and dials
    n_centroids ~ sqrt(n) so the within-cluster quadratic stays
    bounded."""
    from pdfextraction_spark.functions.similarity import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, n_centroids=16,
        lloyd_iters=0,
    )


def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup over the transcripts fixture —
    the transcript-native dedup unit (a re-ingested conversation is
    ONE duplicate sample, not N duplicate turns). The fixture has no
    duplicate conversations, so the query unions in whitespace/case-
    mangled copies of every conv whose id ends in '0' (~copy ids);
    the normalized turn-sequence fingerprint collapses them onto the
    originals. Oracle re-derives the md5-over-ordered-turns chain."""
    from pdfextraction_spark.functions.dedup import conversation_dedup

    t = _fixture_turns(spark, sf_dir).select(
        "conv_id", "turn_idx", "text")
    copies = t.filter(F.col("conv_id").endswith("0")).select(
        F.concat(F.col("conv_id"), F.lit("~copy")).alias("conv_id"),
        "turn_idx",
        F.concat(F.lit("  "), F.upper(F.col("text")), F.lit(" "))
        .alias("text"),
    )
    return conversation_dedup(t.unionByName(copies))


def q_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-increment composite end to end: snapshot diff (same
    derived old/new split as corpus_diff) -> only the added/changed
    docs near-dup join (minhash-LSH, verify-before-emit)
    against the retained corpus -> per-incoming-doc verdict
    (dup_of best match / unique). The composition the incremental
    operators exist for, oracle-checked as one chain."""
    from pdfextraction_spark.functions.dedup import incremental_update

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 5)
    new = docs.filter(F.col("doc_id") % 7 != 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    return incremental_update(old, new, threshold=0.2)
