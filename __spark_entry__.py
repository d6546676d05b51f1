"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on the
deterministic transcripts fixture. ``queries()`` is the ORDERED driver
registry (one entry per implemented operator family from SURVEY.md §2
plus the training-data additions); the query bodies live in
``pdfextraction_spark/queries/`` by family and the DuckDB oracles in
``pdfextraction_spark/oracle/driver_oracles.py`` under the same keys.
Extraction queries over the synthesized transcripts fixture are
rows-only checks (their correctness gate is the pytest golden-equality
suite).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdfextraction_spark.queries import (  # noqa: F401
    q_ann_ivf,
    q_ann_ivfpq,
    q_ann_ivfpq_indexed,
    q_ann_lsh,
    q_ann_topk,
    q_apply_corrections,
    q_asof_latest_click,
    q_audio_features,
    q_chunk_documents,
    q_classify_blocks,
    q_cluster_reps,
    q_contamination,
    q_context_windows,
    q_conv_dedup,
    q_conv_schema,
    q_corpus_diff,
    q_corpus_token_stats,
    q_cosine_blocked,
    q_cosine_near_join,
    q_cosine_near_pairs,
    q_curation_funnel,
    q_curation_funnel_v2,
    q_dataset_split,
    q_dedup_clusters,
    q_dedup_exact,
    q_doc_fingerprint,
    q_dup_rate_by_source,
    q_extract_metrics,
    q_extract_tables,
    q_extract_turns,
    q_extraction_anomalies,
    q_fence_json,
    q_final_json,
    q_format_pairs,
    q_group_stats,
    q_hash_sample,
    q_hot_shingles,
    q_hypertable_rollup,
    q_image_features,
    q_incremental_update,
    q_json_extract,
    q_length_quantiles,
    q_lm_perplexity,
    q_longest_wins,
    q_merge_conv_fields,
    q_merge_tables,
    q_minhash_lsh,
    q_minhash_lsh_join,
    q_mixture_weights,
    q_monthly_rollup,
    q_ngram_jaccard,
    q_ngram_jaccard_join,
    q_ordered_accumulate,
    q_pack_chunks,
    q_ppl_buckets,
    q_pq_adc_topk,
    q_pq_encode,
    q_quota_sample,
    q_range_band_join,
    q_redact_pii,
    q_render_pages,
    q_repetition_stats,
    q_schema_norm,
    q_semantic_dedup,
    q_sessionize,
    q_sft_packed,
    q_sft_samples,
    q_simhash_pairs,
    q_simhash_sketch,
    q_spacing_stats,
    q_table_anomalies,
    q_template_apply,
    q_text_guards,
    q_tfidf_topk,
    q_token_stats,
    q_topk_recent,
    q_training_filter,
    q_trigram_lang,
    q_usage_costs,
    q_video_frames,
    q_windowed_sums,
    q_winnow,
    q_winnow_containment,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over the xs transcripts
    fixture (driver smoke-checks rows >= 0, stable schema)."""
    from pdfextraction_spark.pipeline import extract_dataframe
    from pdfextraction_spark.sources.transcripts import ensure_fixture_parquet

    turns = spark.read.parquet(ensure_fixture_parquet("xs"))
    return extract_dataframe(turns)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order matters: the driver's correctness check stamps the
    # FIRST 50 names only. Each round rotates the names that sat past
    # the window to the front, so every family gets fresh driver
    # evidence; the names pushed to the back are still value-checked by
    # tools/check_correctness.py full sweeps + pytest.
    return {
        # --- past the 50-name window in the previous order (r5
        # stamps), rotated to the front ---
        "ngram_jaccard": q_ngram_jaccard,
        "ann_cosine_topk": q_ann_topk,
        "cluster_representatives": q_cluster_reps,
        "ngram_jaccard_join": q_ngram_jaccard_join,
        "minhash_lsh_join": q_minhash_lsh_join,
        "cosine_near_join": q_cosine_near_join,
        "pq_encode": q_pq_encode,
        "pq_adc_topk": q_pq_adc_topk,
        "ann_ivfpq_topk": q_ann_ivfpq,
        "chunk_documents": q_chunk_documents,
        "pack_chunks": q_pack_chunks,
        "curation_funnel": q_curation_funnel,
        "curation_funnel_v2": q_curation_funnel_v2,
        "hot_shingles": q_hot_shingles,
        "dup_rate_by_source": q_dup_rate_by_source,
        "corpus_diff": q_corpus_diff,
        "winnow_containment": q_winnow_containment,
        "tfidf_topk": q_tfidf_topk,
        "dataset_split": q_dataset_split,
        "length_quantiles": q_length_quantiles,
        "semantic_dedup": q_semantic_dedup,
        "conv_dedup": q_conv_dedup,
        "incremental_update": q_incremental_update,
        "mixture_weights": q_mixture_weights,
        "context_windows": q_context_windows,
        "sft_samples": q_sft_samples,
        "training_filter": q_training_filter,
        "ann_ivfpq_indexed": q_ann_ivfpq_indexed,
        "sft_packed": q_sft_packed,
        "text_guards": q_text_guards,
        "usage_costs": q_usage_costs,
        "lm_perplexity": q_lm_perplexity,
        "ppl_buckets": q_ppl_buckets,
        # --- the previous order's first 50, kept in order ---
        "template_apply": q_template_apply,
        "render_pages": q_render_pages,
        "cosine_near_pairs": q_cosine_near_pairs,
        "monthly_rollup": q_monthly_rollup,
        "extract_turns": q_extract_turns,
        "extract_metrics": q_extract_metrics,
        "merge_conv_fields": q_merge_conv_fields,
        "extract_tables": q_extract_tables,
        "table_anomalies": q_table_anomalies,
        "spacing_stats": q_spacing_stats,
        "conv_schema": q_conv_schema,
        "classify_blocks": q_classify_blocks,
        "merge_tables": q_merge_tables,
        "final_json": q_final_json,
        "schema_norm": q_schema_norm,
        "extraction_anomalies": q_extraction_anomalies,
        "apply_corrections": q_apply_corrections,
        # ---------- 50-name driver window ends here ----------
        "image_features": q_image_features,
        "audio_features": q_audio_features,
        "video_frames": q_video_frames,
        "fence_json": q_fence_json,
        "minhash_lsh_pairs": q_minhash_lsh,
        "simhash_sketch": q_simhash_sketch,
        "simhash_pairs": q_simhash_pairs,
        "ann_lsh_topk": q_ann_lsh,
        "ann_ivf_topk": q_ann_ivf,
        "cosine_near_pairs_blocked": q_cosine_blocked,
        "dedup_clusters": q_dedup_clusters,
        "hash_sample": q_hash_sample,
        "redact_pii": q_redact_pii,
        "repetition_stats": q_repetition_stats,
        "contamination_hits": q_contamination,
        "corpus_token_stats": q_corpus_token_stats,
        "quota_sample": q_quota_sample,
        "sessionize_events": q_sessionize,
        "longest_wins_merge": q_longest_wins,
        "topk_recent": q_topk_recent,
        "windowed_sums": q_windowed_sums,
        "group_stats": q_group_stats,
        "ordered_accumulate": q_ordered_accumulate,
        "token_stats": q_token_stats,
        "json_extract": q_json_extract,
        "format_pairs": q_format_pairs,
        "asof_latest_click": q_asof_latest_click,
        "trigram_lang": q_trigram_lang,
        "hypertable_rollup": q_hypertable_rollup,
        "range_band_join": q_range_band_join,
        "dedup_exact": q_dedup_exact,
        "doc_fingerprint": q_doc_fingerprint,
        "winnow_fingerprints": q_winnow,
    }


def oracle_sql() -> dict[str, str]:
    from pdfextraction_spark.oracle.driver_oracles import (
        oracle_sql as _impl,
    )

    return _impl()
