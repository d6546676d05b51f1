"""Physical-plan audits: the properties that make the engine hold at
100 TB must survive refactors — filter pushdown to the scan, column
pruning, broadcast of small dims, map-side partial aggregation, and
at most ONE exchange in the extraction pipeline: a hash repartition
on (conv_id, turn_idx) to ``defaultParallelism``, planned only when
the scan is undersplit (fewer splits that own rows than
``defaultParallelism``), none for a scan-parallel input."""

import re

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _extraction_exchanges(plan: str, n: int) -> int:
    """Exchanges of the extraction gate's shape in ``plan``."""
    return len(re.findall(
        rf"Exchange hashpartitioning\(conv_id#\d+, turn_idx#\d+, {n}\)",
        plan))


def _nodes(tree):
    """Every node of a Catalyst tree (a plan or an expression)."""
    stack = [tree]
    while stack:
        node = stack.pop()
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def _inlined_emptiness_tests(plan) -> list:
    """``size(e) > 0`` terms of Filter conditions in ``plan`` whose
    ``e`` is not an attribute: the emptiness test that F.explode infers
    (or an explicit size filter states) for a staged array, pushed
    below the staging with the staged expression (a higher-order-
    function chain, or a plain split()) inlined into it."""
    return [
        e.toString()
        for node in _nodes(plan) if node.nodeName() == "Filter"
        for e in _nodes(node.condition())
        if e.nodeName() == "GreaterThan"
        and e.left().nodeName() == "Size"
        and e.right().toString() == "0"
        and e.left().child().nodeName() != "AttributeReference"
    ]


def _canon(df):
    pdf = df.toPandas()
    for c in pdf.columns:
        pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.slow
class TestPlans:
    def test_filter_pushdown_and_pruning(self, spark):
        import __spark_entry__ as em

        plan = _plan(em.q_windowed_sums(spark, "/root/testdata/sf0.001"))
        assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts" in plan
        assert "ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>" in plan

    def test_small_dim_broadcast(self, spark):
        import __spark_entry__ as em

        plan = _plan(em.q_format_pairs(spark, "/root/testdata/sf0.001"))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_partial_aggregation(self, spark):
        import __spark_entry__ as em

        plan = _plan(em.q_group_stats(spark, "/root/testdata/sf0.001"))
        # partial + final HashAggregate around a single exchange
        assert plan.count("HashAggregate") == 2
        assert plan.count("Exchange") == 1

    def test_extraction_single_shuffle_pruned_scan(self, spark, xs_parquet):
        from pdfextraction_spark.pipeline import extract_dataframe

        turns = spark.read.parquet(xs_parquet)
        plan = _plan(extract_dataframe(turns))
        # the single-file fixture scans undersplit: one hash exchange
        # on the turn key, sized to the cores, and no sort
        assert plan.count("Exchange") == 1
        assert _extraction_exchanges(
            plan, spark.sparkContext.defaultParallelism) == 1
        assert re.search(r"\bSort\b", plan) is None
        # tool is pruned at the scan; ts passes through for event-time
        assert "tool" not in plan.split("ReadSchema:")[1]
        assert ("ReadSchema: struct<conv_id:string,turn_idx:int,"
                "role:string,text:string,ts:timestamp") in plan

    def test_extraction_skips_exchange_on_wide_scans(
            self, spark, xs_parquet, tmp_path_factory):
        """Per-turn extraction is row-local, so when the scan already
        yields >= defaultParallelism partitions the exchange is skipped
        (guide: remove shuffles outright) — and the wide copy extracts
        to the same values as the undersplit single file, which keeps
        the exchange (the contract the gate rests on)."""
        import pandas as pd

        from pdfextraction_spark.pipeline import extract_dataframe

        single = spark.read.parquet(xs_parquet)
        wide = str(tmp_path_factory.mktemp("fixtures") / "transcripts_wide")
        single.repartition(8).write.parquet(wide)
        auto = extract_dataframe(spark.read.parquet(wide))
        assert "Exchange" not in _plan(auto)  # scan-parallel: no shuffle
        shuffled = extract_dataframe(single)
        assert _plan(shuffled).count("Exchange") == 1

        pd.testing.assert_frame_equal(_canon(auto), _canon(shuffled))

    def test_ann_broadcasts_queries(self, spark):
        import __spark_entry__ as em

        plan = _plan(em.q_ann_topk(spark, "/root/testdata/sf0.001"))
        assert "BroadcastNestedLoopJoin" in plan

    def test_table_merge_partial_aggs(self, spark, xs_parquet):
        """Both merge levels must run map-side partial aggregation;
        the second shuffle is tiny (one row per table per turn)."""
        from pdfextraction_spark.operators.merge import merge_conversation_tables
        from pdfextraction_spark.operators.tables import extract_tables

        plan = _plan(
            merge_conversation_tables(extract_tables(spark.read.parquet(xs_parquet)))
        )
        # 2 aggregation levels x (partial + final); collect_list is
        # ObjectHashAggregate ("HashAggregate" matches both kinds)
        assert plan.count("HashAggregate") == 4
        assert plan.count("ObjectHashAggregate") == 2
        # input scan reads only what the operator needs
        assert "ReadSchema: struct<conv_id:string,turn_idx:int,text:string>" in plan

    def test_classify_no_extra_exchange(self, spark, xs_parquet):
        """classify_turns: one narrow mapInArrow stage over the turns —
        each envelope is decoded once for both evidence kernels, so
        there is no extraction exchange, no aggregation and no join."""
        from pdfextraction_spark.operators.classify import classify_turns

        plan = _plan(classify_turns(spark.read.parquet(xs_parquet)))
        assert "Exchange" not in plan
        assert "MapInArrow" in plan

    def test_stoplist_broadcasts_only_hot_set(self, spark):
        """ngram_jaccard: the (tiny) hot-shingle stoplist is broadcast;
        corpus-sized tables (sizes, hot-set arrays) must NOT be."""
        import __spark_entry__ as em

        plan = _plan(em.q_ngram_jaccard(spark, "/root/testdata/sf0.001"))
        # anti-join + semi-join against the broadcast stoplist
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_pair_ops_read_materialized_stages(self, spark):
        """The dedup pair operators materialize their shingle table /
        sketch / bucket rows at call time; the FINAL plan must
        therefore consume the checkpointed rows, never re-scan the
        source parquet per join branch (the re-evaluation the round-6
        stage cuts removed — a parquet scan reappearing here means a
        branch silently re-derives the corpus-wide chain)."""
        from pdfextraction_spark.functions.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
            simhash_near_pairs,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        for op in (ngram_jaccard_pairs, minhash_lsh_pairs,
                   simhash_near_pairs):
            plan = _plan(op(docs))
            assert "Scan parquet" not in plan, op.__name__

    def test_repetition_pruned_scan_partial_aggs(self, spark):
        """repetition_stats must scan only (doc_id, text) — lang/
        source/n_chars pruned — and its gram count must partial-
        aggregate map-side."""
        import __spark_entry__ as em

        plan = _plan(em.q_repetition_stats(spark, "/root/testdata/sf0.001"))
        read = plan.split("ReadSchema:")[1].split("\n")[0]
        assert "doc_id" in read and "text" in read
        assert "lang" not in read and "source" not in read
        # gram-level and doc-level aggregations both split partial/final
        assert plan.count("HashAggregate") >= 4

    def test_contamination_pruned_scan_single_corpus_pass(self, spark):
        """Decontamination scans only (doc_id, text) and joins the
        eval gram set by broadcast — corpus grams are aggregated in
        ONE pass (no second lineage for totals)."""
        import __spark_entry__ as em

        plan = _plan(em.q_contamination(spark, "/root/testdata/sf0.001"))
        for read in plan.split("ReadSchema:")[1:]:
            head = read.split("\n")[0]
            assert "lang" not in head and "n_chars" not in head
        assert "BroadcastHashJoin" in plan
        # one corpus-side distinct + one per-doc aggregate, each
        # partial+final; a doubled lineage would add more
        assert plan.count("Scan parquet") == 2  # corpus + eval sides

    def test_chunking_is_narrow(self, spark):
        """chunk_documents claims zero shuffles — assert no Exchange;
        pack_chunks adds exactly the one shard-window Exchange."""
        from pdfextraction_spark.functions.chunking import (
            chunk_documents,
            pack_chunks,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        chunks = chunk_documents(docs, chunk_tokens=8, stride=6)
        assert _plan(chunks).count("Exchange") == 0
        packed = pack_chunks(chunks, capacity=32, n_shards=4)
        assert _plan(packed).count("Exchange") == 1

    def test_pq_encode_is_narrow_and_pruned(self, spark):
        """PQ encoding is a pure projection pipeline: no Exchange, and
        the scan reads only (vec_id, embedding)."""
        from pdfextraction_spark.functions.similarity import (
            pq_encode,
            pq_train_codebooks,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        books = pq_train_codebooks(emb, m=8, k=8, dim=64)
        plan = _plan(pq_encode(emb, books))
        assert plan.count("Exchange") == 0
        # '*(n) ' prefixes mark whole-stage-codegen spans in toString
        assert plan.lstrip().startswith("*(")

    def test_adc_broadcasts_query_tables(self, spark):
        """ADC search joins the per-query tables by broadcast — the
        coded corpus never shuffles for scoring (only the final top-k
        window exchanges by query_id)."""
        from pyspark.sql import functions as SF

        from pdfextraction_spark.functions.similarity import (
            pq_adc_topk,
            pq_train_codebooks,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        books = pq_train_codebooks(emb, m=8, k=8, dim=64)
        queries = emb.filter(SF.col("vec_id") < 3).select(
            SF.col("vec_id").alias("query_id"), "embedding"
        )
        plan = _plan(pq_adc_topk(emb, queries, books, k=5))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


@pytest.mark.slow
class TestRound4Plans:
    def test_dataset_split_zero_shuffle(self, spark):
        """The split is a pure projection — no Exchange anywhere, so
        Catalyst can push it under later joins/scans."""
        import __spark_entry__ as em

        plan = _plan(em.q_dataset_split(spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan
        assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan

    def test_tfidf_term_join_unhinted(self, spark):
        """TF x DF joins on term: a web vocabulary is too large to
        FORCE-broadcast, so the code must not pin a broadcast hint —
        the optimizer stays free to pick SMJ at corpus scale (at
        fixture scale AQE legitimately broadcasts the tiny DF side,
        so asserting the physical join kind here would fight the
        optimizer; the absence of a ResolvedHint is the invariant)."""
        import __spark_entry__ as em

        df = em.q_tfidf_topk(spark, "/root/testdata/sf0.001")
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed
        assert "Join" in _plan(df)

    def test_length_quantiles_pruned_scan(self, spark):
        """Quantile summary reads only (lang, text) — the scan must
        not drag the other document columns."""
        import __spark_entry__ as em

        plan = _plan(em.q_length_quantiles(spark,
                                           "/root/testdata/sf0.001"))
        assert "ReadSchema: struct<text:string,lang:string>" in plan

    def test_ivfpq_broadcasts_probe_tables(self, spark):
        """IVF-PQ joins the coded corpus to the (probe x ADC-table)
        side by list_id — the bounded query side must broadcast; the
        corpus never shuffles for the candidate join."""
        import __spark_entry__ as em

        plan = _plan(em.q_ann_ivfpq(spark, "/root/testdata/sf0.001"))
        assert "BroadcastHashJoin" in plan

    def test_mixture_weights_broadcast_totals(self, spark):
        """Per-source agg plus a single-row totals side: the totals
        cross join must broadcast, never shuffle the source rows a
        second time for it."""
        import __spark_entry__ as em

        plan = _plan(em.q_mixture_weights(spark,
                                          "/root/testdata/sf0.001"))
        assert "BroadcastNestedLoopJoin" in plan or \
            "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "ReadSchema: struct<text:string,source:string>" in plan

    def test_semantic_dedup_join_keyed_on_list(self, spark):
        """The within-cluster prune self-joins on list_id only —
        cluster size bounds the quadratic; no cross join appears."""
        import __spark_entry__ as em

        plan = _plan(em.q_semantic_dedup(spark,
                                         "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_context_windows_vectorized_shape(self, spark):
        """ONE hash Exchange (repartition by conv) + an in-partition
        sort + one MapInPandas stage — never a per-group FlatMapGroups
        dispatch."""
        from pdfextraction_spark.functions.chunking import context_windows

        turns = spark.createDataFrame(
            [("a", 0, "x y"), ("a", 1, "z"), ("b", 0, "w")],
            "conv_id string, turn_idx int, text string",
        )
        plan = _plan(context_windows(turns, budget=4))
        assert plan.count("Exchange") == 1
        assert "MapInPandas" in plan
        assert "FlatMapGroupsInPandas" not in plan

    def test_incremental_update_all_equi_joins(self, spark):
        """The composite is equi-joins end to end (diff outer join,
        membership semi/anti, band bucket join, verify joins) — a
        cartesian anywhere would be the quadratic the asymmetric
        design exists to avoid."""
        import __spark_entry__ as em

        plan = _plan(em.q_incremental_update(spark,
                                             "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_usage_costs_pricing_dim_broadcast(self, spark):
        """X19: the pricing table is a 4-row dim — it must ride a
        BroadcastHashJoin (a shuffle join keyed on `model` would
        shuffle the whole usage stream through 5 hot keys)."""
        import __spark_entry__ as em

        plan = _plan(em.q_usage_costs(spark, "/root/testdata/sf0.001"))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_render_pages_no_shuffle(self, spark):
        """S4: one page renders independently of every other page —
        the raster stage must stay narrow (zero Exchange)."""
        import __spark_entry__ as em

        plan = _plan(em.q_render_pages(spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan
        assert "MapInPandas" in plan

    def test_lm_exact_path_broadcasts_model(self, spark):
        from pdfextraction_spark.functions.lm import (
            perplexity_score, train_unigram_lm,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        lm, oov, _ = train_unigram_lm(docs, vocab_size=20)
        plan = _plan(perplexity_score(docs, lm, oov))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


@pytest.mark.slow
def test_extraction_keeps_exchange_when_tiny_files_pack(
        spark, tmp_path, xs_parquet):
    """The auto shuffle gate counts planned scan partitions, not files.
    Tiny files that Spark bin-packs into one split scan as one task, so
    the exchange must stay to give the kernel parallelism. The opposite
    layout, a few files whose row groups Spark splits into at least
    ``defaultParallelism`` partitions, needs no exchange and gives the
    same values as the shuffled single-file fixture."""
    import pandas as pd
    import pyarrow.parquet as pq

    from pdfextraction_spark.pipeline import extract_dataframe

    n_cores = spark.sparkContext.defaultParallelism
    src = tmp_path / "tiny_files"
    src.mkdir()
    for i in range(2 * n_cores):
        pd.DataFrame({
            "conv_id": [f"c{i}"], "turn_idx": pd.array([0], "int32"),
            "role": ["user"], "text": [f"turn {i}"],
            "tool": [None], "ts": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]"),
        }).to_parquet(src / f"part-{i:05d}.parquet", index=False)
    # pack every file into one split regardless of core count
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        turns = spark.read.parquet(str(src))
        assert len(turns.inputFiles()) >= n_cores
        assert turns.rdd.getNumPartitions() == 1
        out = extract_dataframe(turns)
        assert _extraction_exchanges(_plan(out), n_cores) == 1
        assert out.count() == 2 * n_cores
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")

    # the undersplit single file, shuffled, before the split size shrinks
    shuffled = extract_dataframe(spark.read.parquet(xs_parquet))
    assert _plan(shuffled).count("Exchange") == 1
    want = _canon(shuffled)

    # two files of many row groups, split by a small partition size
    table = pq.read_table(xs_parquet)
    big = tmp_path / "few_big_files"
    big.mkdir()
    half = table.num_rows // 2
    rows_per_group = max(1, half // (4 * n_cores))
    for i, part in enumerate((table.slice(0, half), table.slice(half))):
        pq.write_table(part, big / f"part-{i:05d}.parquet",
                       row_group_size=rows_per_group)
    total = sum(f.stat().st_size for f in big.iterdir())
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(1024, total // (2 * n_cores))))
    try:
        turns = spark.read.parquet(str(big))
        assert len(turns.inputFiles()) == 2 < n_cores
        assert turns.rdd.getNumPartitions() >= n_cores
        auto = extract_dataframe(turns)
        assert "Exchange" not in _plan(auto)
        got = _canon(auto)
        assert len(got) == table.num_rows
        pd.testing.assert_frame_equal(got, want)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


@pytest.mark.slow
def test_extraction_exchanges_single_row_group_file(
        spark, tmp_path, xs_parquet):
    """Spark plans a byte-range split per ``maxPartitionBytes`` of a
    file, but a row group is read by the one split that holds its
    midpoint. A single-row-group file read at a split size that plans
    ``defaultParallelism`` splits or more still runs every row in one
    task, so the gate, which counts the splits that own rows, keeps
    the exchange, and the values equal the default read's."""
    import pandas as pd
    import pyarrow.parquet as pq

    from pdfextraction_spark.operators.partitioning import (
        prepare_for_extraction,
    )
    from pdfextraction_spark.pipeline import extract_dataframe

    n_cores = spark.sparkContext.defaultParallelism
    table = pq.read_table(xs_parquet)
    one = tmp_path / "one_row_group.parquet"
    pq.write_table(table, one, row_group_size=table.num_rows)
    assert pq.read_metadata(one).num_row_groups == 1
    want = _canon(extract_dataframe(spark.read.parquet(xs_parquet)))

    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(1024, one.stat().st_size // (2 * n_cores))))
    try:
        turns = spark.read.parquet(str(one))
        assert turns.rdd.getNumPartitions() >= n_cores
        rows = turns.rdd.glom().map(len).collect()
        assert sorted(rows)[-1] == table.num_rows  # one split owns them
        assert prepare_for_extraction(turns)[1] == 1
        out = extract_dataframe(turns)
        assert _extraction_exchanges(_plan(out), n_cores) == 1
        got = _canon(out)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.slow
@pytest.mark.parametrize("name", [
    "hot_shingles", "simhash_sketch", "simhash_pairs", "repetition_stats",
    "contamination_hits", "chunk_documents", "pack_chunks",
    "curation_funnel", "curation_funnel_v2", "lm_perplexity",
    "winnow_containment", "corpus_token_stats",
])
def test_staged_arrays_explode_without_reinlined_filter(
        spark, monkeypatch, name):
    """No emptiness filter re-inlines a staged array: neither the
    final plan nor any plan a query checkpoints while it is built (the
    winnow_containment fingerprint table is cut by a localCheckpoint,
    so its final plan alone would hide the filter) may test ``size(e)
    > 0`` on an ``e`` that is not an attribute. That filter re-runs
    the staged expression per row: O(words^2) per doc for shingles,
    O(len^2 * window) md5 calls for winnowing, one more split() per
    text for corpus_token_stats."""
    import __spark_entry__ as em

    frame_cls = type(spark.range(1))
    checkpoint = frame_cls.localCheckpoint
    plans = []

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    df = em.queries()[name](spark, "/root/testdata/sf0.001")
    plans.append(df._jdf.queryExecution().optimizedPlan())
    found = [t for p in plans for t in _inlined_emptiness_tests(p)]
    assert not found, found[0][:300]
