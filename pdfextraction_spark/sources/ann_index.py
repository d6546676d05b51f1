"""Persistent IVF-PQ index — the deployment shape of the ANN stack.

A 10^9-vector deployment builds the index ONCE (coarse centroids +
PQ codebooks + the coded corpus) and serves many search batches
against it; rebuilding per batch would re-pay the training and the
full-corpus encode every time. This module persists the index as a
plain parquet layout and restores it for search:

    <path>/centroids.parquet   (list_id int, c array<double>)
    <path>/codebooks.parquet   (j int, code int, vec array<double>)
    <path>/meta.parquet        (m, k, dim, n_centroids, n_vectors)
    <path>/coded/              (vec_id long, codes array<int>)
                               PARTITIONED BY list_id

The partitioning IS the inverted-list file layout, Spark-native:
each coarse list is its own parquet partition directory, so a search
that probes n_probe lists filters ``list_id IN (...)`` and the scan
prunes to exactly those directories (``PartitionFilters`` in the
plan, asserted in tests) — the corpus outside the probed lists is
never read, which is what makes serving reads O(probed fraction)
instead of O(corpus).

Build, append and search reuse the exact ivfpq_topk machinery
(_ivfpq_coded, _probe_rows, _adc_tables, _adc_search — single homes
for the tie/rounding contracts), so indexed results are row-identical
to the in-memory composition; pinned in tests. Centroid/codebook collects
are bounded metadata (n_centroids x dim + m x k x d_sub doubles) —
the same stance as the IVF training collect.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.similarity import (
    _adc_search,
    _adc_tables,
    _ivfpq_coded,
    _probe_rows,
    pq_quantization_mse,
    pq_train_codebooks,
    train_ivf_centroids,
)


def _write_meta(spark: SparkSession, path: str, m: int, k: int,
                dim: int, n_centroids: int, n_vectors: int,
                quant_mse: float, ver: int = 0,
                mode: str = "overwrite") -> None:
    """Single home for the meta row. Build overwrites ver=0; APPEND
    adds a ver=N+1 row with mode('append') — a concurrent reader sees
    either the old file set or old+new (each a complete row), never a
    torn/deleted meta, and the loader takes the max-ver row. (An
    in-place overwrite here would delete-then-write under a live
    reader — the race this versioning removes.)"""
    spark.createDataFrame(
        [(ver, m, k, dim, n_centroids, n_vectors, float(quant_mse))],
        "ver int, m int, k int, dim int, n_centroids int, "
        "n_vectors long, quant_mse double",
    ).coalesce(1).write.mode(mode).parquet(
        os.path.join(path, "meta.parquet"))


def _read_meta(spark: SparkSession, path: str):
    """Latest meta row (max ver; pre-versioning files count as 0)."""
    df = spark.read.parquet(os.path.join(path, "meta.parquet"))
    if "ver" not in df.columns:
        return df.collect()[0]
    return df.orderBy(F.col("ver").desc()).limit(1).collect()[0]


@dataclass
class AnnIndex:
    """Handle over a persisted IVF-PQ index: small quantizer arrays
    in memory, the coded corpus as a lazy partitioned read."""

    path: str
    centroids: List[List[float]]
    codebooks: List[List[List[float]]]
    spark: SparkSession = field(repr=False)

    def coded(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "coded"))


def build_ann_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    lloyd_iters: int = 1,
    pq_lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[List[List[float]]] = None,
    codebooks: Optional[List[List[List[float]]]] = None,
) -> AnnIndex:
    """Train both quantizers, encode + coarse-assign the corpus in
    one pass, and persist the whole index under ``path``.

    The coded write is the only corpus-sized job (one scan -> one
    partitioned write, the same Arrow-batch encode + coarse
    assignment ivfpq_topk runs); everything else is bounded metadata.

    Pass ``centroids``/``codebooks`` to build with FROZEN quantizers
    instead of training — the rebuild-after-appends shape (and the
    yardstick the build+append ≡ rebuild equality test pins)."""
    spark = embeddings.sparkSession
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_centroids, id_col=id_col, vec_col=vec_col,
            lloyd_iters=lloyd_iters,
        )
    if codebooks is None:
        codebooks = pq_train_codebooks(
            embeddings, m=m, k=k, dim=dim, id_col=id_col,
            vec_col=vec_col, lloyd_iters=pq_lloyd_iters,
        )
    coded = _ivfpq_coded(embeddings, centroids, codebooks, id_col,
                         vec_col)
    coded.select("vec_id", "codes", "list_id").write.partitionBy(
        "list_id"
    ).mode("overwrite").parquet(os.path.join(path, "coded"))
    spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(centroids)],
        "list_id int, c array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids.parquet"))
    spark.createDataFrame(
        [(j, ci, list(cvec))
         for j, book in enumerate(codebooks)
         for ci, cvec in enumerate(book)],
        "j int, code int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebooks.parquet"))
    # row count from the just-written coded parquet (footer metadata
    # scan — no second decode pass over the corpus) doubles as a
    # write sanity check
    n_vectors = spark.read.parquet(
        os.path.join(path, "coded")).count()
    # build-time quantization MSE: the staleness yardstick later
    # appends compare against (one scan + avg — corpus-scale safe)
    build_mse = pq_quantization_mse(embeddings, codebooks,
                                    vec_col=vec_col)
    _write_meta(spark, path, m=m, k=k, dim=dim,
                n_centroids=len(centroids), n_vectors=n_vectors,
                quant_mse=build_mse)
    return AnnIndex(path=path, centroids=centroids,
                    codebooks=codebooks, spark=spark)


def load_ann_index(spark: SparkSession, path: str) -> AnnIndex:
    """Restore the quantizer arrays (bounded collects, exact — parquet
    doubles are lossless) and hand back the lazy coded-corpus read."""
    cents = spark.read.parquet(
        os.path.join(path, "centroids.parquet")
    ).orderBy("list_id").collect()
    centroids = [list(map(float, r.c)) for r in cents]
    rows = spark.read.parquet(
        os.path.join(path, "codebooks.parquet")
    ).orderBy("j", "code").collect()
    meta = _read_meta(spark, path)
    codebooks: List[List[List[float]]] = [[] for _ in range(meta.m)]
    for r in rows:
        if not 0 <= r.j < meta.m:
            raise ValueError(
                f"corrupt index at {path}: codebook row j={r.j} "
                f"outside [0, {meta.m}) — refusing a torn write "
                "(Python negative indexing would silently file it "
                "under the wrong subspace)")
        codebooks[r.j].append(list(map(float, r.vec)))
    if any(len(b) != meta.k for b in codebooks):
        raise ValueError(f"corrupt index at {path}: codebook shape "
                         f"mismatch vs meta (m={meta.m}, k={meta.k})")
    if len(centroids) != meta.n_centroids:
        raise ValueError(
            f"corrupt index at {path}: {len(centroids)} centroids on "
            f"disk vs meta n_centroids={meta.n_centroids} — a probe "
            "against a different centroid set than the one that "
            "partitioned the coded corpus would silently return "
            "wrong neighbors")
    return AnnIndex(path=path, centroids=centroids,
                    codebooks=codebooks, spark=spark)


def append_to_ann_index(
    index: AnnIndex,
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental index maintenance: encode a new batch with the
    index's FROZEN quantizers and append it to the matching
    inverted-list partitions — a crawl increment lands in the served
    index without re-paying training or the full-corpus encode.
    (`mode("append")` + `partitionBy(list_id)` writes only the new
    files into each probed directory; existing files are untouched,
    so a concurrent search never sees a torn list. The meta row is
    versioned-append for the same reason — see _write_meta.)

    SINGLE APPENDER: concurrent appends to one index would both read
    the same meta.n_vectors and lose an increment, so the whole append
    holds the index writer lock (same mechanism as the extraction
    job); a second concurrent append fails fast with WriterLockHeld.
    Concurrent SEARCHES stay lock-free. If a crash lands between the
    coded append and the meta append, meta.n_vectors goes stale-low —
    it is advisory; the coded parquet is the row-count source of
    truth.

    Caller contract: batch ids must be new (append does not dedup
    against the corpus — run `incremental_update`/`corpus_diff`
    upstream, the crawl-increment pipeline shape).

    Returns the staleness report: ``batch_quant_mse`` (the new
    batch's quantization MSE under the frozen codebooks) vs
    ``build_quant_mse`` (recorded in meta at build time) and their
    ratio — a batch whose ratio drifts well above 1 is no longer
    well-represented by the frozen quantizers (retrain signal).
    """
    from .manifest import writer_lock

    spark = index.spark
    with writer_lock(index.path):
        meta = _read_meta(spark, index.path)
        coded = _ivfpq_coded(embeddings, index.centroids,
                             index.codebooks, id_col, vec_col)
        coded.select("vec_id", "codes", "list_id").write.partitionBy(
            "list_id"
        ).mode("append").parquet(os.path.join(index.path, "coded"))
        n_appended = embeddings.count()
        batch_mse = pq_quantization_mse(embeddings, index.codebooks,
                                        vec_col=vec_col)
        build_mse = float(meta.asDict().get("quant_mse") or 0.0)
        prev_ver = int(meta.asDict().get("ver") or 0)
        _write_meta(spark, index.path, m=meta.m, k=meta.k,
                    dim=meta.dim, n_centroids=meta.n_centroids,
                    n_vectors=meta.n_vectors + n_appended,
                    quant_mse=build_mse, ver=prev_ver + 1,
                    mode="append")
    return {
        "n_appended": int(n_appended),
        "n_vectors": int(meta.n_vectors + n_appended),
        "batch_quant_mse": batch_mse,
        "build_quant_mse": build_mse,
        "staleness_ratio": (batch_mse / build_mse
                            if build_mse > 0 else float("inf")
                            if batch_mse > 0 else 1.0),
    }


def ivfpq_topk_indexed(
    index: AnnIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ search over a PERSISTED index: probe lists and ADC
    tables are computed for the (bounded) query batch in one
    Arrow-batch pass and checkpointed; the probed list ids are
    collected and pushed into the coded-corpus scan as a
    ``list_id IN (...)`` partition filter — only the probed
    inverted-list directories are read. Scoring and ranking are the
    shared ADC tail (_adc_search), so output rows match the in-memory
    ivfpq_topk bit-for-bit (pinned in tests).

    ``exclude_self=True`` (the in-memory ivfpq_topk contract) drops a
    candidate whose vec_id EQUALS the query id — correct when the
    queries are corpus rows (self-search). Pass ``exclude_self=False``
    when the query ids come from a DIFFERENT keyspace: a numeric
    coincidence would otherwise silently delete a true neighbor."""
    q = _probe_rows(
        queries, index.centroids, n_probe, query_id_col, vec_col,
        _adc_tables(index.codebooks, vec_col),
    ).localCheckpoint()  # consumed twice: the IN-filter collect + join
    probed = sorted(
        r.list_id for r in q.select("list_id").distinct().collect()
    )
    coded = index.coded().filter(F.col("list_id").isin(probed))
    return _adc_search(coded, q, k, "list_id", exclude_self)
