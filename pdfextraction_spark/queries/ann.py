"""Similarity-search queries: brute-force / LSH / IVF / PQ / IVF-PQ
top-k, including the persisted-index search path."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._shared import _t


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the first 5 query vectors."""
    from pdfextraction_spark.functions.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=10)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN with Hamming-1 multiprobe: deterministic
    md5-derived integer hyperplanes + quantized projections make the
    bucket ids engine-exact, so the DuckDB oracle rebuilds the
    identical candidate sets and ranking."""
    from pdfextraction_spark.functions.similarity import lsh_bucket_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucket_topk(emb, queries, k=10, bits=4)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic strided seed centroids and 0 Lloyd
    iterations — the oracle-exact configuration (assignment = argmax
    of round(cosine, 6), computed by the Arrow-batch numpy UDFs and
    reproducible in SQL). Lloyd refinement stays available
    (lloyd_iters>0) and is recall-pinned in pytest."""
    from pdfextraction_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4,
                    lloyd_iters=0)


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jegou et al. 2011): each dim-64
    vector becomes 8 sub-space codes against deterministic seed
    codebooks — the compression half of IVF-PQ, a 32x storage
    reduction at billion-vector scale. Codes exported comma-joined
    (driver canonicalization needs scalar columns)."""
    from pdfextraction_spark.functions.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=8, k=16, dim=64)
    return pq_encode(emb, books).select(
        "vec_id",
        F.array_join(
            F.transform(F.col("codes"), lambda c: c.cast("string")), ","
        ).alias("codes"),
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search: asymmetric distance over CODES ONLY — per query an
    exact 8x16 sub-distance table, candidate distance = 8 table
    lookups (independent of dim). The IVF-PQ search half; recall vs
    brute force pinned in pytest."""
    from pdfextraction_spark.functions.similarity import (
        pq_adc_topk,
        pq_train_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=8, k=16, dim=64)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(emb, queries, books, k=10)


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition — the search stack a 10^9-vector corpus
    actually runs: IVF probing restricts candidates to n_probe
    inverted lists, ADC over PQ codes ranks them in O(m) integer
    lookups per candidate. Oracle config: lloyd_iters=0 seeds for
    both quantizers (n_centroids == k so coarse centroids and the
    codebook seed sample coincide — mirrored by the shared `seed`
    CTE in the SQL); production runs Lloyd-trained codebooks through
    the same Arrow-batch numpy UDFs (recall pinned in pytest)."""
    from pdfextraction_spark.functions.similarity import (
        ivfpq_topk,
        pq_train_codebooks,
        train_ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=8, k=16, dim=64)
    cents = train_ivf_centroids(emb, n_centroids=16, lloyd_iters=0)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(emb, queries, books, centroids=cents, k=10,
                      n_probe=4)


def q_ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search over the PERSISTED index (sources/ann_index.py):
    build writes the coded corpus partitioned by list_id (the
    inverted-list file layout — probes become PartitionFilters on the
    scan), search restores the quantizers and probes only the matched
    directories. Same oracle config as ann_ivfpq_topk (lloyd_iters=0
    seeds, n_centroids == k), so the DuckDB chain re-derives the
    identical results from the raw embeddings table — the persistence
    round-trip is what this row certifies."""
    import hashlib
    import os

    from pdfextraction_spark.sources.ann_index import (
        build_ann_index,
        ivfpq_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    # repo root (two levels above this package module) — the same
    # .ann_index_cache/ location the pre-refactor entry file used,
    # kept out of the package tree and gitignored
    root = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    path = os.path.join(root, ".ann_index_cache", tag)
    idx = build_ann_index(
        emb, path, n_centroids=16, m=8, k=16, dim=64,
        lloyd_iters=0, pq_lloyd_iters=0,
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk_indexed(idx, queries, k=10, n_probe=4)
