"""Relational operator queries (SURVEY.md §2 core surface):
sessionization, merges, window aggregations, rollups, range/as-of
joins — each over the driver sf tables with a DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._shared import _t


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2/W3 sessionization (gap-detection over ordered sequences,
    spatial_preprocessor.py:184-296) on the events stream: 30-min gap
    starts a new session."""
    ev = _t(spark, sf_dir, "events")
    # parquet timestamps are NTZ; cast via timestamp for epoch seconds
    epoch = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch - F.lag(epoch).over(w)
    brk = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max(epoch) - F.min(epoch)).alias("dur_sec"),
    )


def q_longest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/U1 conflict merge (result_merger.py:93-120): per source, the
    longest document wins; ties to the smallest doc_id; conflicts
    flagged when >1 distinct text."""
    docs = _t(spark, sf_dir, "documents")
    pick = F.struct(F.length("text").alias("l"), (-F.col("doc_id")).alias("i"))
    return docs.groupBy("source").agg(
        F.max_by("doc_id", pick).alias("best_doc_id"),
        F.max(F.length("text")).cast("long").alias("best_len"),
        F.count("*").alias("n_docs"),
        # min != max == count_distinct > 1 (no two-phase distinct
        # rewrite / second shuffle); both ignore null texts, but on an
        # all-null source min != max is null where the count is false
        F.coalesce(F.min("text") != F.max("text"), F.lit(False))
        .alias("conflict_detected"),
    )


def q_topk_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8/O4 top-k (storage.py:169-173): 10 most recent events."""
    return (
        _t(spark, sf_dir, "events")
        .orderBy(F.desc("ts"), F.asc("event_id"))
        .limit(10)
        .select("event_id", "ts", "event_type")
    )


def q_windowed_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 windowed cost analysis (cost_tracker.py:108-164): time-range
    filter then per-type sums."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-02"))
            & (F.col("ts") < F.lit("2024-01-05"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def q_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3 grouped min/max/avg stats (word-spacing & bbox analogues)
    on lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )


def q_ordered_accumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 ordered row accumulation (result_merger.py:122-144): line
    items accumulated in line-number order per order. A line with a
    null quantity is left out of ``acc`` and ``mixed_rows``, and an
    order with no quantity at all has ``acc`` null, as in the oracle's
    ``string_agg`` and ``COUNT(DISTINCT ..)``."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("int")
    acc = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(q.isNotNull(), F.struct(
                        F.col("l_linenumber").alias("ln"), q.alias("q"),
                    ))
                )
            ),
            lambda s: F.concat_ws(":", s["ln"].cast("string"), s["q"].cast("string")),
        ),
        ",",
    )
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.when(F.count(q) > 0, acc).alias("acc"),
            # "more than one distinct value" as min != max, which
            # avoids Spark's two-phase distinct-aggregate rewrite: that
            # shuffled the 600k-row table TWICE (plan had two Exchange +
            # four ObjectHashAggregate nodes; now one Exchange). min and
            # max skip nulls as count_distinct does; on an all-null
            # order both are null, hence the coalesce to false
            F.coalesce(F.min(q) != F.max(q), F.lit(False)).alias("mixed_rows"),
        )
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/X22 + training-data text analysis: whitespace + BPE-ish
    token counts, punctuation/stopword ratios, quality score, lang-ID."""
    from pdfextraction_spark.functions import text as X

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.ws_token_count(t).cast("long").alias("n_ws_tokens"),
        X.bpe_token_count(t).cast("long").alias("n_bpe_tokens"),
        F.round(X.punct_ratio(t), 4).alias("punct_ratio"),
        F.round(X.stopword_ratio(t), 4).alias("stopword_ratio"),
        F.round(X.quality_score(t), 4).alias("quality"),
        X.is_english(t).alias("is_en"),
        (X.ws_token_count(t) >= 3).alias("table_hint"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15/X16 JSON payload parsing (openai_service.py:72-157) on
    events.props."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy((k % 10).alias("k_mod")).agg(
        F.count("*").alias("n"), F.max(k).alias("max_k")
    )


def q_format_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14 field:value formatting + broadcast dim join: every nation
    formatted against its region (the engine's 'Field:\\tvalue'
    contract, spatial_preprocessor.py:174)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("n_nationkey").alias("nationkey"),
            F.concat(F.col("n_name"), F.lit(":\t"), F.col("r_name")).alias("formatted"),
        )
    )


def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: one pass produces hourly
    and daily rollups via GROUPING SETS (Catalyst plans a single
    shuffle with partial aggregation)."""
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("hour", F.date_format("ts", "HH"))
    )
    return (
        ev.groupingSets(
            [[F.col("day"), F.col("hour")], [F.col("day")]],
            F.col("day"),
            F.col("hour"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def q_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join (J3's word->column assignment, relationally):
    events bucketed into value bands via a broadcast interval table."""
    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 50.0), ("high", 50.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def q_asof_latest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (relational form of the reference's nearest-neighbor
    pairing, J2/J3): each 'error' event matched to the latest same-user
    'click' at or before it.

    Uses the union+window formulation (one shuffle per input, no
    per-key pair materialization) — the range-join form in the same
    module is the small-N cross-check; on skewed keys it is per-key
    quadratic (see SF_GROWTH skewed-asof row)."""
    from pdfextraction_spark.operators.asof import asof_join_union_window

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    return asof_join_union_window(
        errors, clicks, key="user_id", left_id="event_id"
    )


def q_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A7-style summary rollup with a shuffle join: revenue per
    nation-month (orders x customer, broadcast nation)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
