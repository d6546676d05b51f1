"""Conversation-level merge — the engine's only wide operator.

Mirrors the reference's multi-page result merger
(/root/reference/services/result_merger.py):

- J5/U1 field merge (:93-120): same field name across turns -> the
  longest non-null value wins; ties go to the earliest turn (the
  reference replaces only on strictly-greater length, so first-seen
  wins ties); any repeated non-null occurrence flags a conflict.
- A9 table-row accumulation (:122-163): per-conversation ordered
  accumulation with source-turn bookkeeping, order fixed by
  pre-sorting on turn (result_merger.py:19-20) — expressed as
  array_sort(collect_list(struct(turn_idx, ...))).

Both are single hash-shuffles on conv_id with partial aggregation
(map-side combine) — Catalyst-native; no custom UDAF needed
(SURVEY.md §2.4/§2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import CLUSTER_SEP, EMPTY_SENTINEL


def parse_field_pairs(extracted: DataFrame) -> DataFrame:
    """Explode 'Field:\\tvalue' pairs out of extracted_text lines.

    Output: (conv_id, turn_idx, field, value, pos) — value NULL for the
    [EMPTY] sentinel. Pure built-ins: split/explode/posexplode."""
    lines = extracted.select(
        "conv_id",
        "turn_idx",
        F.posexplode(F.split(F.col("extracted_text"), "\n")).alias("line_pos", "line"),
    )
    parts = lines.select(
        "conv_id",
        "turn_idx",
        "line_pos",
        F.posexplode(F.split(F.col("line"), CLUSTER_SEP)).alias("part_pos", "part"),
    ).filter(F.col("part").contains(":\t"))
    return parts.select(
        "conv_id",
        "turn_idx",
        (F.col("line_pos") * 1000 + F.col("part_pos")).alias("pos"),
        F.substring_index("part", ":\t", 1).alias("field"),
        F.when(
            F.substring_index("part", ":\t", -1) == EMPTY_SENTINEL, F.lit(None)
        ).otherwise(F.substring_index("part", ":\t", -1)).alias("value"),
    )


def merge_conversation_fields(extracted: DataFrame) -> DataFrame:
    """Longest-wins field merge per conversation (J5/U1).

    Output: (conv_id, field, value, source_turn, conflict_detected,
    n_occurrences)."""
    pairs = parse_field_pairs(extracted).filter(
        F.col("value").isNotNull() & (F.trim("value") != "")
    )
    pick = F.struct(
        F.length("value").alias("l"),
        (-F.col("turn_idx")).alias("t"),
        (-F.col("pos")).alias("p"),
    )
    return pairs.groupBy("conv_id", "field").agg(
        F.max_by("value", pick).alias("value"),
        F.max_by("turn_idx", pick).alias("source_turn"),
        (F.count("*") > 1).alias("conflict_detected"),
        F.count("*").alias("n_occurrences"),
    )


def merge_conversation_tables(tables: DataFrame) -> DataFrame:
    """Cross-turn table accumulation with source metadata
    (result_merger.py:122-163): rows from tables with the same identity
    accumulate across turns; metadata records total rows, contributing
    turns, per-turn row counts and the multi-turn flag.

    Table identity is the headers signature (the reference keys on the
    LLM-assigned table_name, result_merger.py:128-129; headers are the
    deterministic analogue — the reference keeps the FIRST page's
    headers for the collection, :133-137, which the signature makes
    trivially consistent). The map/array metadata columns are
    serialized to scalar strings ('turn:count' CSV) so downstream
    sinks and the driver canonicalizer see flat columns.

    Two-level aggregation, both hash-partial: (conv, headers, turn)
    row counts, then (conv, headers) accumulation — at cluster scale
    the second shuffle is tiny (one row per table per turn)."""
    # both levels group on the headers ARRAY (never a joined
    # signature — header text containing the separator must not
    # conflate two tables); the output column serializes US-joined
    # per the scalar contract only at the very end
    per_turn = tables.groupBy("conv_id", "headers", "turn_idx").agg(
        F.count("*").alias("n_rows")
    )
    ordered = F.array_sort(F.collect_list(F.struct("turn_idx", "n_rows")))
    return (
        per_turn.groupBy("conv_id", "headers")
        .agg(
            F.sum("n_rows").alias("total_rows"),
            F.array_join(
                F.transform(ordered, lambda s: s["turn_idx"].cast("string")),
                ",",
            ).alias("source_turns"),
            F.array_join(
                F.transform(
                    ordered,
                    lambda s: F.concat_ws(
                        ":",
                        s["turn_idx"].cast("string"),
                        s["n_rows"].cast("string"),
                    ),
                ),
                ",",
            ).alias("rows_by_turn"),
            (F.count("*") > 1).alias("spans_multiple_turns"),
        )
        .withColumn("headers", F.array_join("headers", "\x1f"))
        .select("conv_id", "headers", "total_rows", "source_turns",
                "rows_by_turn", "spans_multiple_turns")
    )
