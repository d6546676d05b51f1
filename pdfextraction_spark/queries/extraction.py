"""Extraction-pipeline queries over the deterministic transcripts
fixture (golden-equality family) plus the multimodal feature
queries — the reference-parity surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._shared import _fixture_turns


def q_extract_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship extraction, driver-checkable: spans serialized to
    'label:start:end|...' so text AND span offsets are value-hashed
    against the loop-oracle golden parquet."""
    from pdfextraction_spark.pipeline import extract_dataframe

    ex = extract_dataframe(_fixture_turns(spark, sf_dir))
    span_str = F.array_join(
        F.transform(
            "spans", lambda s: F.concat_ws(":", s["label"], s["start"], s["end"])
        ),
        "|",
    )
    return ex.withColumn("spans", span_str)


def q_extract_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdfextraction_spark.pipeline import extract_dataframe

    ex = extract_dataframe(_fixture_turns(spark, sf_dir))
    return ex.groupBy("payload_kind").agg(
        F.count("*").alias("n_turns"),
        F.sum("blocks_kept").alias("blocks_kept"),
        F.sum("blocks_dropped").alias("blocks_dropped"),
        F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
    )


def q_merge_conv_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdfextraction_spark.operators.merge import merge_conversation_fields
    from pdfextraction_spark.pipeline import extract_dataframe

    ex = extract_dataframe(_fixture_turns(spark, sf_dir))
    return merge_conversation_fields(ex)


def q_extract_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 coordinate table extraction (J3/J4/W3/A4/A5/F2-F4 families,
    coordinate_table_extractor.py) over pdf_layout turns.

    Array columns are serialized to scalar strings for the driver's
    canonicalizer (US-delimited; NUL marks an empty cell) — the native
    array API stays on the operator itself."""
    from pdfextraction_spark.operators.tables import extract_tables

    t = extract_tables(_fixture_turns(spark, sf_dir))
    return t.select(
        "conv_id",
        "turn_idx",
        "table_idx",
        F.array_join("headers", "\x1f").alias("headers"),
        F.array_join("columns", "\x1f").alias("columns"),
        "row_idx",
        F.array_join("cells", "\x1f", "\x00").alias("cells"),
    )


def q_spacing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 word-spacing statistics (spatial_preprocessor.py:422-463)
    per pdf_layout turn."""
    from pdfextraction_spark.operators.stats import spacing_stats_turns

    st = spacing_stats_turns(_fixture_turns(spark, sf_dir))
    # round: the vectorized kernel and the loop oracle sum in different
    # orders, so raw doubles can differ in the last ulp
    return st.select(
        "conv_id",
        "turn_idx",
        F.round("avg_spacing", 4).alias("avg_spacing"),
        F.round("median_spacing", 4).alias("median_spacing"),
        F.round("spacing_std", 4).alias("spacing_std"),
    )


def q_table_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 row-structure anomaly check (result_merger.py:233-242):
    tables whose rows carry differing non-null cell counts."""
    from pdfextraction_spark.operators.tables import extract_tables

    t = extract_tables(_fixture_turns(spark, sf_dir))
    cells_filled = F.size(F.filter("cells", lambda c: c.isNotNull()))
    return (
        t.groupBy("conv_id", "turn_idx", "table_idx")
        .agg(
            F.count("*").alias("n_rows"),
            (F.count_distinct(cells_filled) > 1).alias("anomaly"),
        )
    )


def q_conv_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 simplified schema view (openai_service.py:428-486): field
    names only, per conversation."""
    from pdfextraction_spark.operators.merge import merge_conversation_fields
    from pdfextraction_spark.pipeline import extract_dataframe

    ex = extract_dataframe(_fixture_turns(spark, sf_dir))
    return merge_conversation_fields(ex).groupBy("conv_id").agg(
        F.array_join(F.array_sort(F.collect_set("field")), ",").alias("form_fields"),
        F.count("*").alias("n_fields"),
    )


def q_classify_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-1 structure classification (openai_service.py:256-283,
    prompts.py:14-40) made deterministic: form/table/mixed per
    decodable pdf_layout turn from field-line + table-region evidence,
    in one mapInArrow pass (one decode per envelope, no join)."""
    from pdfextraction_spark.operators.classify import classify_turns

    return classify_turns(_fixture_turns(spark, sf_dir))


def q_final_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-conversation JSON assembly
    (result_merger.py:168-210 create_final_json_output): fields +
    tables + processing summary, byte-reproducible serialization."""
    from pdfextraction_spark.operators.assemble import (
        assemble_conversation_json,
    )
    from pdfextraction_spark.operators.tables import extract_tables
    from pdfextraction_spark.pipeline import extract_dataframe

    turns = _fixture_turns(spark, sf_dir)
    return assemble_conversation_json(
        extract_dataframe(turns), extract_tables(turns)
    )


def q_merge_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 cross-turn table accumulation with source metadata
    (result_merger.py:122-163)."""
    from pdfextraction_spark.operators.merge import merge_conversation_tables
    from pdfextraction_spark.operators.tables import extract_tables

    return merge_conversation_tables(extract_tables(_fixture_turns(spark, sf_dir)))


def q_extraction_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed anomaly records (result_merger.py:212-244
    detect_conflicts_and_anomalies): field conflicts + multi-turn
    row-structure inconsistencies as one routable record stream —
    upgrades the r2 boolean flags to the reference's typed shape."""
    from pdfextraction_spark.operators.anomalies import extraction_anomalies
    from pdfextraction_spark.operators.tables import extract_tables
    from pdfextraction_spark.pipeline import extract_dataframe

    turns = _fixture_turns(spark, sf_dir)
    return extraction_anomalies(
        extract_dataframe(turns), extract_tables(turns)
    )


def q_apply_corrections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrections overlay (app.py:822 validated-JSON precedence):
    deterministic human-override fixture applied over the merged
    fields — override wins, machine value retained as provenance,
    human-added fields appear with null machine provenance."""
    from pdfextraction_spark.operators.corrections import (
        apply_corrections,
        fixture_corrections,
    )
    from pdfextraction_spark.operators.merge import merge_conversation_fields
    from pdfextraction_spark.pipeline import extract_dataframe

    turns = _fixture_turns(spark, sf_dir)
    merged = merge_conversation_fields(extract_dataframe(turns))
    return apply_corrections(merged, fixture_corrections(turns))


def q_template_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multipage template propagation (multipage_processor.py:72-159):
    derive each conversation's extraction template from its validated
    page (first field-bearing turn, the deterministic stand-in for the
    user's pick) plus the human-correction fields, then apply it to
    every layout page — per-page values, missing fields surfaced as
    found=false, correction override on the validation page, lineage
    stamped with the source page + template version."""
    from pdfextraction_spark.operators.corrections import (
        fixture_corrections,
        fixture_validated_pages,
        template_apply,
    )
    from pdfextraction_spark.pipeline import extract_dataframe

    turns = _fixture_turns(spark, sf_dir)
    ex = extract_dataframe(turns)
    return template_apply(
        ex, fixture_validated_pages(ex), fixture_corrections(turns)
    ).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "field", "value", "source", "found",
        F.col("created_from_turn").cast("long").alias("created_from_turn"),
        "template_version",
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image path: real PNG decode -> pixel stats +
    average-hash over the deterministic media fixture; golden computed
    by decoding the same blobs without Spark."""
    from pdfextraction_spark.functions.multimodal import (
        gen_media_fixture,
        image_features,
    )

    return image_features(gen_media_fixture(spark), num_partitions=8)


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio path: real PCM-WAV decode -> duration/RMS/ZCR/
    peak over the deterministic media fixture."""
    from pdfextraction_spark.functions.multimodal import (
        audio_features,
        gen_media_fixture,
    )

    return audio_features(gen_media_fixture(spark), num_partitions=8)


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video path: REAL animated-GIF decode (pure LZW
    codec, validated against Java ImageIO) -> per-sampled-frame pixel
    stats + content digest; undecodable containers degrade to the
    deterministic byte-digest fake (decoded=false)."""
    from pdfextraction_spark.functions.multimodal import (
        gen_media_fixture,
        sample_frames,
    )

    return sample_frames(gen_media_fixture(spark), every_k=5,
                         num_partitions=8)


def q_schema_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-2 field-schema normalization (openai_service.py:688-718):
    three historical payload shapes -> one canonical serialized
    schema, via pure from_json shape probing."""
    from fixtures.golden import SCHEMA_SAMPLES
    from pdfextraction_spark.functions.schema_norm import normalized_schema_str

    df = spark.createDataFrame(SCHEMA_SAMPLES, "sample_id int, payload string")
    return df.select(
        "sample_id", normalized_schema_str(F.col("payload")).alias("normalized")
    )


def q_fence_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16/X17 markdown-fence JSON extraction + repair
    (openai_service.py:115-220) over tool-output turns."""
    from pdfextraction_spark.functions.text import fenced_json, repair_json

    turns = _fixture_turns(spark, sf_dir)
    fenced = fenced_json(F.col("text"))
    parsed = F.from_json(
        repair_json(fenced), "status string, items array<string>, count int"
    )
    return (
        turns.filter(fenced != "")
        .select(
            "conv_id",
            "turn_idx",
            parsed["status"].alias("status"),
            parsed["count"].alias("count"),
            F.size(parsed["items"]).alias("n_items"),
        )
    )


def q_text_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 truncation guards + X21 preview ellipsis
    (openai_service.py:821,829,898; multipage_processor.py:28):
    the reference's text[:4000]/text[:3000] caps and the
    200-char + '...' preview, as pure column expressions over the
    raw transcripts scan. The engine keeps full text in its data
    path by default; these are the parity knobs, surfaced so their
    semantics stay driver-checked."""
    from pdfextraction_spark.functions.text import (
        clip_text,
        preview_text,
        ws_token_count,
    )

    t = _fixture_turns(spark, sf_dir)
    txt = F.coalesce(F.col("text"), F.lit(""))
    return t.select(
        "conv_id",
        "turn_idx",
        preview_text(txt).alias("preview"),
        F.length(clip_text(txt, 4000)).cast("long").alias("clipped_4000_len"),
        F.length(clip_text(txt, 3000)).cast("long").alias("clipped_3000_len"),
        ws_token_count(txt).cast("long").alias("word_count"),
    )


def q_usage_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19 cost arithmetic (openai_service.py:222-254 _track_usage):
    per-call cost from the model pricing table with unknown-model
    fallback, rolled up per model (A7 session-cost pattern).

    Usage synthesis from the transcripts fixture: every assistant
    turn is one LLM call — completion tokens = its own whitespace
    token count, prompt tokens = the PREVIOUS turn's count (lag over
    the conversation window), model assigned deterministically from
    md5(conv_id) so one bucket lands outside the pricing table and
    exercises the fallback rate. Costs are exact BIGINT nanodollars
    (see functions/costs.py) — the reference's per-call
    round(total, 6) is a lossy display step the engine deliberately
    skips in its accounting path."""
    from pyspark.sql import Window

    from pdfextraction_spark.functions.costs import cost_summary, estimate_costs
    from pdfextraction_spark.functions.text import ws_token_count

    t = _fixture_turns(spark, sf_dir)
    txt = F.coalesce(F.col("text"), F.lit(""))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    models = ["gpt-3.5-turbo", "gpt-4o-mini", "gpt-4o", "gpt-4",
              "experimental-model"]
    pick = F.ascii(F.substring(F.md5(F.col("conv_id")), 1, 1)) % 5
    model = F.element_at(F.array(*[F.lit(m) for m in models]), pick + 1)
    calls = (
        t.withColumn("wc", ws_token_count(txt))
        .withColumn("output_tokens", F.col("wc").cast("long"))
        .withColumn(
            "input_tokens",
            F.coalesce(F.lag("wc").over(w), F.lit(0)).cast("long"),
        )
        .withColumn("model", model)
        .filter(F.col("role") == "assistant")
    )
    return cost_summary(estimate_costs(calls), by="model")


def q_render_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 page render (vision_extractor.py:22-61) — scalar facts of
    the rendered PNGs (dims at the dpi/72 scaling rule, ink mass,
    word count). Value-checked against the golden render facts
    (fixtures/golden.py _render_golden): ink recomputed there by an
    independent coordinate-compression box-union sweep, never the
    engine's per-box canvas fill; pixel-level pins (exact ink on
    crafted pages, dpi scaling law, PNG round-trip) live in
    tests/test_render.py."""
    from pdfextraction_spark.functions.render import render_pages

    pages = render_pages(_fixture_turns(spark, sf_dir), dpi=36)
    return pages.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("dpi").cast("long").alias("dpi"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_words").cast("long").alias("n_words"),
        "ink_pixels",
        "rendered",
        F.coalesce(F.length("png"), F.lit(0)).cast("long").alias("png_bytes"),
    )
