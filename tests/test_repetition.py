"""Gopher-style repetition stats, benchmark decontamination, and quota
sampling: hand-computed answers on crafted docs + DuckDB cross-engine
parity (including the production dup-5-gram config the sf driver query
doesn't exercise)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from pdfextraction_spark.functions.repetition import (
    contamination_hits,
    ngram_repetition_stats,
)
from pdfextraction_spark.functions.sampling import quota_sample
from pdfextraction_spark.oracle import portable_sql as P


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        """'a b a b a b' (11 chars): 2-grams 'a b'x3 + 'b a'x2 ->
        top2 = 3*3/11, dup2 = (9+6)/11 (overlap counted per
        occurrence, can exceed 1), 2 distinct repeating grams."""
        docs = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "x")], "doc_id long, text string"
        )
        out = {
            r.doc_id: r
            for r in ngram_repetition_stats(
                docs, top_ns=(2,), dup_ns=(2,)
            ).collect()
        }
        assert out[1].total_chars == 11
        assert out[1].top2_frac == round(9 / 11, 6)
        assert out[1].dup2_frac == round(15 / 11, 6)
        assert out[1].dup2_grams == 2
        # a doc too short for any 2-gram still gets a (zeroed) row
        assert out[2].top2_frac == 0.0
        assert out[2].dup2_frac == 0.0
        assert out[2].dup2_grams == 0

    def test_dup5_production_config(self, spark):
        """The production dup-gram n: a doc whose opening 5 tokens
        repeat verbatim has exactly one duplicated 5-gram."""
        text = "w1 w2 w3 w4 w5 w1 w2 w3 w4 w5"
        docs = spark.createDataFrame(
            [(1, text)], "doc_id long, text string"
        )
        row = ngram_repetition_stats(
            docs, top_ns=(5,), dup_ns=(5,)
        ).collect()[0]
        gram_len = len("w1 w2 w3 w4 w5")
        assert row.dup5_grams == 1
        assert row.dup5_frac == round(2 * gram_len / len(text), 6)
        assert row.top5_frac == round(2 * gram_len / len(text), 6)

    def test_duckdb_parity_dup5(self, spark, tmp_path):
        """Cross-engine parity for the dup-5 config on docs with real
        repetition (the sf fixture has none at n=5)."""
        rows = [
            (1, "spam spam spam spam spam spam spam spam spam spam"),
            (2, "a b c d e f g h i j a b c d e f g h i j"),
            (3, "unique tokens only here now"),
            (4, "xy"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = (
            ngram_repetition_stats(docs, top_ns=(2,), dup_ns=(5,))
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register(
            "documents",
            docs.toPandas(),
        )
        want = (
            con.execute(
                P.ngram_repetition_stats_sql(top_ns=(2,), dup_ns=(5,))
            )
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        for c in ("total_chars", "top2_frac", "dup5_frac", "dup5_grams"):
            assert list(got[c]) == list(want[c]), c


class TestContamination:
    def test_hand_computed(self, spark):
        docs = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "lorem ipsum dolor sit")],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(100, "quick brown fox jumps")], "doc_id long, text string"
        )
        out = contamination_hits(docs, ev, n=3).collect()
        assert len(out) == 1
        r = out[0]
        assert r.doc_id == 1
        assert r.hit_grams == 1        # 'quick brown fox'
        assert r.doc_grams == 2
        assert r.hit_frac == 0.5
        assert r.min_eval_id == 100

    def test_duplicate_grams_counted_once(self, spark):
        """A gram repeated inside the doc or the eval set still counts
        as ONE shared gram (both sides are distinct sets)."""
        docs = spark.createDataFrame(
            [(1, "p q r p q r")], "doc_id long, text string"
        )
        ev = spark.createDataFrame(
            [(7, "p q r"), (8, "p q r")], "doc_id long, text string"
        )
        r = contamination_hits(docs, ev, n=3).collect()[0]
        assert r.hit_grams == 1
        assert r.min_eval_id == 7

    def test_eval_side_broadcast(self, spark):
        """The eval gram set must ride a broadcast join — the corpus
        side never shuffles for the collision probe."""
        docs = spark.createDataFrame(
            [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(50)],
            "doc_id long, text string",
        )
        ev = docs.filter(F.col("doc_id") < 3)
        plan = contamination_hits(
            docs, ev, n=3
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestQuotaSample:
    @pytest.fixture()
    def docs(self, spark):
        return spark.createDataFrame(
            [(i, "en" if i % 3 else "de") for i in range(40)],
            "doc_id long, lang string",
        )

    def test_exact_quota_and_determinism(self, docs):
        out = quota_sample(docs, k=4, stratum_col="lang").toPandas()
        assert out.groupby("lang").size().to_dict() == {"de": 4, "en": 4}
        assert set(out.sample_rank) == {1, 2, 3, 4}
        # content-deterministic: identical winners after repartition
        again = quota_sample(
            docs.repartition(7), k=4, stratum_col="lang"
        ).toPandas()
        key = ["doc_id", "lang", "sample_rank"]
        assert sorted(map(tuple, out[key].values.tolist())) == sorted(
            map(tuple, again[key].values.tolist())
        )

    def test_small_stratum_keeps_all(self, spark):
        df = spark.createDataFrame(
            [(1, "fr"), (2, "fr"), (3, "en")], "doc_id long, lang string"
        )
        out = quota_sample(df, k=5, stratum_col="lang").toPandas()
        assert len(out) == 3

    def test_quota_shrink_is_prefix(self, docs):
        """Shrinking k keeps a prefix of the ranked winners — no
        resampling churn when the budget drops."""
        k3 = quota_sample(docs, k=3, stratum_col="lang").toPandas()
        k2 = quota_sample(docs, k=2, stratum_col="lang").toPandas()
        ids3 = set(k3[k3.sample_rank <= 2].doc_id)
        assert set(k2.doc_id) == ids3


class TestCorpusTokenStats:
    def test_hand_computed(self, spark):
        """4-doc corpus: 'zz' appears in 1 doc (df=1 -> rare at
        threshold 2), 'aa' in all 4 (df=4 -> common)."""
        from pdfextraction_spark.functions.repetition import (
            corpus_token_stats,
        )

        docs = spark.createDataFrame(
            [
                (1, "aa aa zz"),
                (2, "aa bb"),
                (3, "aa bb"),
                (4, "aa"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r
            for r in corpus_token_stats(docs, rare_df_max=2).collect()
        }
        # doc 1: 3 occurrences, 2 types, 1 rare occurrence (zz df=1)
        assert out[1].n_tokens == 3
        assert out[1].n_types == 2
        assert out[1].ttr == round(2 / 3, 6)
        assert out[1].n_rare_tokens == 1
        assert out[1].rare_ratio == round(1 / 3, 6)
        # doc 2: bb has df=2 (docs 2,3) -> rare at threshold 2
        assert out[2].n_rare_tokens == 1
        assert out[4].rare_ratio == 0.0

    def test_duckdb_parity(self, spark):
        from pdfextraction_spark.functions.repetition import (
            corpus_token_stats,
        )

        docs = spark.createDataFrame(
            [(i, " ".join(f"t{j}" for j in range(i % 7, i % 7 + 5)))
             for i in range(30)],
            "doc_id long, text string",
        )
        got = (
            corpus_token_stats(docs, rare_df_max=4)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        want = (
            con.execute(P.corpus_token_stats_sql(rare_df_max=4))
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        for c in ("n_tokens", "n_types", "ttr", "n_rare_tokens",
                  "rare_ratio"):
            assert list(got[c]) == list(want[c]), c

    def test_df_model_not_broadcast(self, spark):
        """The DF model side must NOT be broadcast (the rare tail is
        most of the vocabulary at scale) — assert the token join is a
        shuffle join under a tiny autoBroadcast threshold the model
        would otherwise fit."""
        from pdfextraction_spark.functions.repetition import (
            corpus_token_stats,
        )

        docs = spark.createDataFrame(
            [(i, f"w{i} w{i+1} shared") for i in range(100)],
            "doc_id long, text string",
        )
        plan = corpus_token_stats(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


class TestCurationFunnel:
    def test_exact_dup_canonicalized_and_composes(self, spark, tmp_path):
        """The sf fixture has no exact text duplicates, so the
        funnel's dedup stage is structural there — prove it bites on
        a crafted corpus: two identical high-quality docs keep only
        the min id, and the repetition gate drops the spammy doc."""
        import os

        import __spark_entry__ as e

        # stopword-rich, zero repeated 2-grams (any repetition would
        # trip the funnel's own top2 gate — by design)
        good = ("the alpha and beta of gamma is delta for epsilon on "
                "zeta with eta as theta was iota at kappa by lam an "
                "mu be nu this xi that omicron or pi in rho to sigma "
                "a tau it upsilon")
        # stopword-bearing so it PASSES the quality/language gate and
        # dies specifically on the top-2-gram repetition gate
        spam = "the buy now deal " * 40
        pdf = spark.createDataFrame(
            [
                (1, good, "en", "src0", len(good)),
                (2, good, "en", "src0", len(good)),   # exact dup of 1
                (3, good + " tail", "en", "src1", len(good) + 5),
                (4, spam, "en", "src1", len(spam)),   # top2-gram heavy
            ],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).toPandas()
        d = tmp_path / "funnel_sf"
        os.makedirs(d, exist_ok=True)
        pdf.to_parquet(str(d / "documents.parquet"), index=False)
        out = e.q_curation_funnel(spark, str(d)).toPandas()
        ids = set(out.doc_id)
        assert 1 in ids          # canonical survives
        assert 2 not in ids      # exact dup removed
        assert 3 in ids          # distinct text survives
        assert 4 not in ids      # repetition gate
    def test_deterministic_across_partitioning(self, spark):
        import __spark_entry__ as e

        a = e.q_curation_funnel(spark, "/root/testdata/sf0.001") \
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        b = e.q_curation_funnel(spark, "/root/testdata/sf0.001") \
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        assert a.equals(b)

    def test_near_dup_stage_keeps_best_copy(self, spark, tmp_path):
        """v2's stage 2b must collapse a planted NEAR-dup pair (which
        exact dedup cannot touch) and keep the higher-quality copy —
        v1 keeps both, proving the stage is what removes it."""
        import os

        import __spark_entry__ as e
        from pyspark.sql import functions as F
        from pdfextraction_spark.functions import text as X

        good = ("the alpha and beta of gamma is delta for epsilon on "
                "zeta with eta as theta was iota at kappa by lam an "
                "mu be nu this xi that omicron or pi in rho to sigma "
                "a tau it upsilon")
        # 2 token insertions out of ~45: 3-gram Jaccard ~0.8, well
        # above the 0.2 stage threshold; longer text -> higher quality
        near = good.replace("alpha", "alpha prime") \
                   .replace("kappa", "kappa prime")
        control = ("a quiet fox and the old dog walk by this green "
                   "river to find some warm food for their small "
                   "friends near that wooden bridge on an east hill "
                   "where every bird can rest")
        rows = [
            (1, good, "en", "s0", len(good)),
            (5, near, "en", "s0", len(near)),
            (9, control, "en", "s1", len(control)),
        ]
        schema = ("doc_id long, text string, lang string, "
                  "source string, n_chars long")
        d = tmp_path / "nd_sf"
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame(rows, schema).toPandas().to_parquet(
            str(d / "documents.parquet"), index=False
        )
        v1 = set(e.q_curation_funnel(spark, str(d)).toPandas().doc_id)
        v2 = set(e.q_curation_funnel_v2(spark, str(d)).toPandas().doc_id)
        assert {1, 5, 9} <= v1          # v1 keeps both near-dups
        assert 9 in v2
        assert len(v2 & {1, 5}) == 1    # v2 collapses the pair
        q = {
            r.doc_id: r.q for r in spark.createDataFrame(rows, schema)
            .select("doc_id",
                    F.round(X.quality_score(F.col("text")), 4).alias("q"))
            .collect()
        }
        best = 1 if (q[1], -1) > (q[5], -5) else 5
        assert v2 & {1, 5} == {best}    # keep-best, not min-id


class TestRandomizedParity:
    def test_repetition_family_fuzz_vs_duckdb(self, spark):
        """Randomized cross-engine parity: 3 seeds x 80 docs with
        adversarial shapes (empty strings, single tokens, double
        spaces -> empty tokens, heavy repeats) through ALL THREE
        corpus ops vs their DuckDB mirrors."""
        import numpy as np

        from pdfextraction_spark.functions.repetition import (
            corpus_token_stats,
            ngram_repetition_stats,
        )

        vocab = ["a", "bb", "ccc", "dd", "e", "the", "spam"]
        for seed in (7, 11, 13):
            rng = np.random.default_rng(seed)
            rows = []
            for i in range(80):
                n = int(rng.integers(0, 25))
                words = list(rng.choice(vocab, size=n))
                text = " ".join(words)
                if n and rng.random() < 0.2:
                    text = text + "  " + text   # double space + repeat
                rows.append((i, text))
            docs = spark.createDataFrame(rows, "doc_id long, text string")
            con = duckdb.connect()
            con.register("documents", docs.toPandas())

            got = (ngram_repetition_stats(docs, top_ns=(2,), dup_ns=(3,))
                   .toPandas().sort_values("doc_id").reset_index(drop=True))
            want = (con.execute(P.ngram_repetition_stats_sql(
                        top_ns=(2,), dup_ns=(3,)))
                    .df().sort_values("doc_id").reset_index(drop=True))
            for c in ("total_chars", "top2_frac", "dup3_frac",
                      "dup3_grams"):
                assert list(got[c]) == list(want[c]), (seed, c)

            got = (corpus_token_stats(docs, rare_df_max=3)
                   .toPandas().sort_values("doc_id").reset_index(drop=True))
            want = (con.execute(P.corpus_token_stats_sql(rare_df_max=3))
                    .df().sort_values("doc_id").reset_index(drop=True))
            for c in ("n_tokens", "n_types", "ttr", "n_rare_tokens",
                      "rare_ratio"):
                assert list(got[c]) == list(want[c]), (seed, c)

            ev = docs.filter(F.col("doc_id") % 5 == 0)
            corpus = docs.filter(F.col("doc_id") % 5 != 0)
            got = (contamination_hits(corpus, ev, n=2)
                   .toPandas().sort_values("doc_id").reset_index(drop=True))
            want = (con.execute(P.contamination_hits_sql(n=2, eval_mod=5))
                    .df().sort_values("doc_id").reset_index(drop=True))
            assert len(got) == len(want), seed
            for c in ("hit_grams", "doc_grams", "hit_frac",
                      "min_eval_id"):
                assert list(got[c]) == list(want[c]), (seed, c)


class TestChunking:
    def test_hand_computed(self, spark):
        """10 tokens, chunk 4, stride 3 -> starts 0,3,6 (last window
        reaches the end); 3 tokens -> single chunk."""
        from pdfextraction_spark.functions.chunking import chunk_documents

        docs = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b c")],
            "doc_id long, text string",
        )
        out = chunk_documents(docs, chunk_tokens=4, stride=3).toPandas()
        d1 = out[out.doc_id == 1].sort_values("chunk_idx")
        assert list(d1.chunk_idx) == [0, 1, 2]
        assert list(d1.chunk_text) == [
            "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9",
        ]
        assert list(d1.n_tokens) == [4, 4, 4]
        d2 = out[out.doc_id == 2]
        assert list(d2.chunk_text) == ["a b c"]
        assert list(d2.n_tokens) == [3]

    def test_last_window_reaches_end_not_suffix(self, spark):
        """11 tokens, chunk 4, stride 3 -> starts 0,3,6,9; final chunk
        is the 2-token tail, never a strict suffix duplicate."""
        from pdfextraction_spark.functions.chunking import chunk_documents

        docs = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(11)))],
            "doc_id long, text string",
        )
        out = chunk_documents(docs, chunk_tokens=4, stride=3) \
            .toPandas().sort_values("chunk_idx")
        assert list(out.n_tokens) == [4, 4, 4, 2]
        assert out.iloc[-1].chunk_text == "t9 t10"

    def test_duckdb_parity_fuzz(self, spark):
        import numpy as np

        from pdfextraction_spark.functions.chunking import chunk_documents

        rng = np.random.default_rng(3)
        rows = [
            (i, " ".join(f"w{rng.integers(0, 9)}"
                         for _ in range(int(rng.integers(0, 40)))))
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        key = ["doc_id", "chunk_idx"]
        got = (chunk_documents(docs, chunk_tokens=8, stride=5)
               .toPandas().sort_values(key).reset_index(drop=True))
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        want = (con.execute(P.chunk_documents_sql(chunk_tokens=8,
                                                  stride=5))
                .df().sort_values(key).reset_index(drop=True))
        for c in ("n_tokens", "chunk_text"):
            assert list(got[c]) == list(want[c]), c

    def test_bad_stride_rejected(self, spark):
        from pdfextraction_spark.functions.chunking import chunk_documents

        docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            chunk_documents(docs, chunk_tokens=4, stride=0)
        with pytest.raises(ValueError):
            chunk_documents(docs, chunk_tokens=4, stride=5)


class TestPacking:
    def test_contiguous_layout_per_shard(self, spark):
        """Within a shard, (bin_id, bin_offset) must advance exactly by
        n_tokens in (doc_id, chunk_idx) order — no gaps, no overlap."""
        from pdfextraction_spark.functions.chunking import (
            chunk_documents,
            pack_chunks,
        )

        docs = spark.createDataFrame(
            [(i, " ".join(f"w{j}" for j in range(i % 13 + 1)))
             for i in range(50)],
            "doc_id long, text string",
        )
        out = pack_chunks(
            chunk_documents(docs, chunk_tokens=5, stride=4),
            capacity=16, n_shards=4,
        ).toPandas().sort_values(["shard", "doc_id", "chunk_idx"])
        for _, grp in out.groupby("shard"):
            pos = 0
            for _, r in grp.iterrows():
                assert r.bin_id * 16 + r.bin_offset == pos
                pos += r.n_tokens

    def test_deterministic_across_partitioning(self, spark):
        from pdfextraction_spark.functions.chunking import (
            chunk_documents,
            pack_chunks,
        )

        docs = spark.createDataFrame(
            [(i, " ".join("x" for _ in range(i % 9 + 1)))
             for i in range(40)],
            "doc_id long, text string",
        )
        key = ["doc_id", "chunk_idx"]
        a = pack_chunks(chunk_documents(docs, 4, 3), capacity=8,
                        n_shards=4).toPandas() \
            .sort_values(key).reset_index(drop=True)
        b = pack_chunks(chunk_documents(docs.repartition(7), 4, 3),
                        capacity=8, n_shards=4).toPandas() \
            .sort_values(key).reset_index(drop=True)
        assert a.equals(b)

    def test_shard_balance_under_mega_doc_skew(self, spark):
        """Shard assignment is per-DOC (all of a mega-document's
        chunks land in one shard), so a skewed corpus is the
        worst case for packing balance. Planted mega-doc family: the
        content-hash shard spread must keep every shard's bin count
        within a small factor of the mean — the skew guarantee the
        mega-conversation salting test pins for extraction."""
        from pdfextraction_spark.functions.chunking import (
            chunk_documents,
            pack_chunks,
        )

        rows = [(i, " ".join(f"w{i}x{j}" for j in range(8)))
                for i in range(200)]
        # 16 mega docs, each ~50x the token mass of a small doc —
        # the family carries ~80% of all tokens
        rows += [(1000 + i, " ".join(f"m{i}t{j}" for j in range(400)))
                 for i in range(16)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = pack_chunks(
            chunk_documents(docs, chunk_tokens=8, stride=8),
            capacity=64, n_shards=8,
        ).toPandas()
        bins = out.groupby("shard").bin_id.nunique()
        assert len(bins) == 8          # every shard used
        assert bins.max() <= 2.5 * bins.mean()
        # token-mass balance, the quantity that actually gates the
        # slowest packing task
        mass = out.groupby("shard").n_tokens.sum()
        assert mass.max() <= 2.5 * mass.mean()


class TestTfidf:
    def test_hand_computed(self, spark):
        import math

        from pdfextraction_spark.functions.repetition import tfidf_topk

        docs = spark.createDataFrame(
            [(1, "apple banana apple"),
             (2, "banana cherry"),
             (3, "cherry durian cherry durian")],
            "doc_id long, text string",
        )
        out = tfidf_topk(docs, k=2).toPandas()
        # df: apple 1, banana 2, cherry 2, durian 1; N=3
        idf = {t: math.log((1 + 3) / (1 + d)) + 1
               for t, d in {"apple": 1, "banana": 2,
                            "cherry": 2, "durian": 1}.items()}
        top1 = out[(out.doc_id == 1) & (out["rank"] == 1)].iloc[0]
        assert top1.term == "apple"
        assert abs(top1.tfidf - round(2 * idf["apple"], 6)) < 1e-9
        # doc 2: banana vs cherry have identical tf and df -> tie
        # broken by term asc
        d2 = out[out.doc_id == 2].sort_values("rank")
        assert list(d2.term) == ["banana", "cherry"]
        d3 = out[(out.doc_id == 3) & (out["rank"] == 1)].iloc[0]
        # durian (tf 2, df 1) outscores cherry (tf 2, df 2)
        assert d3.term == "durian"
        assert abs(d3.tfidf - round(2 * idf["durian"], 6)) < 1e-9

    def test_deterministic_and_k_bound(self, spark):
        from pdfextraction_spark.functions.repetition import tfidf_topk

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        a = tfidf_topk(docs, k=3).toPandas() \
            .sort_values(["doc_id", "rank"]).reset_index(drop=True)
        b = tfidf_topk(docs.repartition(7), k=3).toPandas() \
            .sort_values(["doc_id", "rank"]).reset_index(drop=True)
        assert a.equals(b)
        assert (a.groupby("doc_id")["rank"].count() <= 3).all()


class TestDatasetSplit:
    def test_proportions_and_stability(self, spark):
        from pyspark.sql import functions as F

        from pdfextraction_spark.functions.sampling import dataset_split

        docs = spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet")
        out = dataset_split(docs, train=0.8, val=0.1).toPandas()
        frac = out.split.value_counts(normalize=True)
        assert abs(frac["train"] - 0.8) < 0.06
        assert abs(frac.get("val", 0) - 0.1) < 0.05
        assert abs(frac.get("test", 0) - 0.1) < 0.05
        # content stability: the assignment of a doc must not change
        # when the corpus around it changes (anti-contamination)
        sub = dataset_split(
            docs.filter(F.col("doc_id") % 3 == 0), train=0.8, val=0.1
        ).toPandas().set_index("doc_id").split
        full = out.set_index("doc_id").split
        assert (full.loc[sub.index] == sub).all()

    def test_validation(self, spark):
        import pytest as _pytest

        from pdfextraction_spark.functions.sampling import dataset_split

        docs = spark.range(3).withColumnRenamed("id", "doc_id")
        with _pytest.raises(ValueError):
            dataset_split(docs, train=0.0)
        with _pytest.raises(ValueError):
            dataset_split(docs, train=0.8, val=0.3)


class TestLengthQuantiles:
    def test_matches_numpy_r7(self, spark):
        import numpy as np

        from pdfextraction_spark.functions.repetition import (
            corpus_length_quantiles,
        )

        rows = [(i, "x " * (i % 17 + 1), "en" if i % 2 else "de")
                for i in range(60)]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string")
        out = corpus_length_quantiles(docs).toPandas() \
            .set_index("stratum")
        for lang in ("en", "de"):
            chars = np.array([len(t) for _, t, lg in rows
                              if lg == lang])
            toks = np.array(
                [len(t.strip().split()) for _, t, lg in rows
                 if lg == lang])
            assert out.loc[lang, "n_docs"] == len(chars)
            for p in (25, 50, 75, 90):
                # numpy default interpolation is R-7 — the same
                # convention Spark percentile / DuckDB quantile_cont use
                assert abs(out.loc[lang, f"p{p}_chars"]
                           - round(float(np.percentile(chars, p)), 4)) \
                    < 1e-9
                assert abs(out.loc[lang, f"p{p}_tokens"]
                           - round(float(np.percentile(toks, p)), 4)) \
                    < 1e-9


CTX_COLS = ["conv_id", "turn_idx", "n_tokens", "ctx_start_idx",
            "ctx_n_turns", "ctx_tokens", "truncated"]


def _context_windows_ref(rows, budget):
    """Loop reference for context_windows: each turn's context walks
    back over earlier turns while the running token total still fits
    ``budget``; a turn over budget on its own is its own (truncated)
    context. NULL or blank text is 0 tokens."""
    import pandas as pd

    convs = {}
    for conv, idx, text in rows:
        convs.setdefault(conv, []).append((idx, len((text or "").split())))
    out = []
    for conv, turns in convs.items():
        turns.sort()
        for i, (idx, tok) in enumerate(turns):
            j, total = i, tok
            while j > 0 and total + turns[j - 1][1] <= budget:
                j -= 1
                total += turns[j][1]
            out.append((conv, idx, tok, turns[j][0], i - j + 1, total,
                        tok > budget))
    return pd.DataFrame(out, columns=CTX_COLS)


def _assert_context_windows_match_ref(got, rows, budget):
    import pandas as pd

    key = ["conv_id", "turn_idx"]
    got = got[CTX_COLS].sort_values(key).reset_index(drop=True)
    want = (_context_windows_ref(rows, budget).sort_values(key)
            .reset_index(drop=True).astype(got.dtypes.to_dict()))
    pd.testing.assert_frame_equal(got, want)


class TestContextWindows:
    """Per-turn context assembly (chat-training budgeted history),
    checked against the loop reference ``_context_windows_ref``."""

    ROWS = [
        # conv A: token counts 3,4,5,200,2 — budget 10 exercises
        # multi-turn windows, window shrink, and the truncation clamp
        ("A", 0, "w w w"),
        ("A", 1, "x x x x"),
        ("A", 2, "y y y y y"),
        ("A", 3, " ".join(["z"] * 200)),
        ("A", 4, "q q"),
        ("B", 7, ""),          # empty text -> 0 tokens
        ("B", 9, "a b"),
    ]

    def _turns(self, spark):
        return spark.createDataFrame(
            self.ROWS, "conv_id string, turn_idx int, text string")

    def test_hand_computed(self, spark):
        from pdfextraction_spark.functions.chunking import context_windows

        out = (
            context_windows(self._turns(spark), budget=10)
            .toPandas().set_index(["conv_id", "turn_idx"]).sort_index()
        )
        # A0: just itself (3); A1: 3+4=7 fits; A2: 4+5=9 fits, +3=12
        # doesn't; A3: 200 > 10 -> truncated self-window; A4: 2 fits,
        # 200+2 doesn't -> starts at itself
        assert out.loc[("A", 0), "ctx_start_idx"] == 0
        assert out.loc[("A", 1), "ctx_start_idx"] == 0
        assert out.loc[("A", 1), "ctx_tokens"] == 7
        assert out.loc[("A", 2), "ctx_start_idx"] == 1
        assert out.loc[("A", 2), "ctx_tokens"] == 9
        assert out.loc[("A", 2), "ctx_n_turns"] == 2
        assert bool(out.loc[("A", 3), "truncated"])
        assert out.loc[("A", 3), "ctx_n_turns"] == 1
        assert out.loc[("A", 3), "ctx_tokens"] == 200
        assert out.loc[("A", 4), "ctx_start_idx"] == 4
        assert not bool(out.loc[("A", 4), "truncated"])
        # B: empty turn contributes 0 tokens; non-contiguous turn_idx
        assert out.loc[("B", 9), "ctx_start_idx"] == 7
        assert out.loc[("B", 9), "ctx_n_turns"] == 2
        assert out.loc[("B", 9), "ctx_tokens"] == 2
        assert (~out.drop(index=[("A", 3)]).truncated).all()

    def test_vectorized_parity(self, spark):
        from pdfextraction_spark.functions.chunking import context_windows

        _assert_context_windows_match_ref(
            context_windows(self._turns(spark), budget=10).toPandas(),
            self.ROWS, 10)

    def test_vectorized_parity_fuzz(self, spark):
        import numpy as np

        from pdfextraction_spark.functions.chunking import context_windows

        rng = np.random.default_rng(31)
        rows = []
        for c in range(20):
            n = int(rng.integers(1, 40))
            for i in range(n):
                k = int(rng.integers(0, 30))
                rows.append((f"c{c}", i, " ".join(["t"] * k)))
        t = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string")
        got = context_windows(t, budget=25).toPandas()
        _assert_context_windows_match_ref(got, rows, 25)
        # window-start is monotone within a conversation
        for _, g in got.groupby("conv_id"):
            s = g.sort_values("turn_idx").ctx_start_idx.to_numpy()
            assert (np.diff(s) >= 0).all()


class TestMixtureWeights:
    def test_uniform_and_explicit_targets(self, spark):
        from pdfextraction_spark.functions.sampling import mixture_weights

        docs = spark.createDataFrame(
            [(1, "a " * 10, "web"), (2, "b " * 30, "web"),
             (3, "c " * 20, "code"), (4, "d " * 40, "books")],
            "doc_id long, text string, source string",
        )
        # uniform: 3 sources, budget 60 -> 20 tokens each
        u = mixture_weights(docs, budget_tokens=60).toPandas() \
            .set_index("source")
        assert u.loc["web", "n_tokens"] == 40
        assert (u.target_tokens == 20).all()
        assert u.loc["web", "sample_rate"] == 0.5
        assert u.loc["code", "epochs"] == 1.0
        assert u.loc["books", "sample_rate"] == 0.5
        # explicit 2:1:1 target mix, budget 80 -> 40/20/20
        t = mixture_weights(
            docs, budget_tokens=80,
            targets={"web": 2.0, "code": 1.0, "books": 1.0},
        ).toPandas().set_index("source")
        assert t.loc["web", "target_tokens"] == 40
        assert t.loc["web", "weight"] == 0.5
        assert t.loc["code", "target_tokens"] == 20
        assert t.loc["code", "epochs"] == 1.0
        assert t.loc["books", "sample_rate"] == 0.5

    def test_unlisted_source_gets_zero(self, spark):
        from pdfextraction_spark.functions.sampling import mixture_weights

        docs = spark.createDataFrame(
            [(1, "a b c", "web"), (2, "d e", "spam")],
            "doc_id long, text string, source string",
        )
        out = mixture_weights(
            docs, budget_tokens=100, targets={"web": 1.0}
        ).toPandas().set_index("source")
        assert out.loc["spam", "weight"] == 0.0
        assert out.loc["spam", "target_tokens"] == 0
        assert out.loc["spam", "sample_rate"] == 0.0
        assert out.loc["web", "target_tokens"] == 100


class TestReviewFixesR4:
    def test_vectorized_parity_across_arrow_batches(self, spark):
        """The mapInPandas carry path: with 16-row Arrow batches a
        128-turn conversation spans 8+ batches, a 16-turn one closes
        exactly ON a batch boundary, and singletons land between —
        the held-pieces carry must reassemble every case exactly.
        10-row batches also close a held conversation in the middle
        of a batch that goes on to start the next one."""
        from pdfextraction_spark.functions.chunking import context_windows

        rows = []
        for c, n in [("a", 128), ("b", 16), ("c", 1), ("d", 47),
                     ("e", 16), ("f", 3)]:
            for i in range(n):
                rows.append((c, i, " ".join(["t"] * ((i * 7) % 13))))
        t = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string"
        ).repartition(2)
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        for batch in ("16", "10"):
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", batch)
            try:
                got = context_windows(t, budget=20).toPandas()
            finally:
                spark.conf.set(
                    "spark.sql.execution.arrow.maxRecordsPerBatch", old)
            # every turn present exactly once despite the batch cuts
            assert len(got) == 128 + 16 + 1 + 47 + 16 + 3
            _assert_context_windows_match_ref(got, rows, 20)

    def test_context_windows_null_text_is_zero_tokens(self, spark):
        from pdfextraction_spark.functions.chunking import context_windows

        rows = [("A", 0, "a b c"), ("A", 1, None), ("A", 2, "d e")]
        t = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string")
        got = context_windows(t, budget=10).toPandas()
        out = got.set_index("turn_idx").sort_index()
        # NULL turn counts 0 tokens; the running sum must NOT restart
        assert out.loc[1, "n_tokens"] == 0
        assert out.loc[2, "ctx_start_idx"] == 0
        assert out.loc[2, "ctx_tokens"] == 5
        _assert_context_windows_match_ref(got, rows, 10)

    def test_context_windows_vectorized_long_keys(self, spark):
        from pdfextraction_spark.functions.chunking import context_windows

        rows = [(10**12, 0, "a b"), (10**12, 1, "c d e"),
                (7, 5, "x y z w")]
        t = spark.createDataFrame(
            rows, "conv_id long, turn_idx long, text string")
        got = context_windows(t, budget=4).toPandas()
        assert got.conv_id.dtype.kind == "i"  # keys keep the input type
        assert got.turn_idx.dtype.kind == "i"
        _assert_context_windows_match_ref(got, rows, 4)

    def test_mixture_weights_zero_token_source(self, spark):
        import duckdb
        import numpy as np

        from pdfextraction_spark.functions.sampling import mixture_weights
        from pdfextraction_spark.oracle import portable_sql as P

        docs = spark.createDataFrame(
            [(1, "a b c d", "web"), (2, "   ", "empty")],
            "doc_id long, text string, source string",
        )
        out = mixture_weights(docs, budget_tokens=10).toPandas() \
            .set_index("source")
        assert out.loc["empty", "n_tokens"] == 0
        assert out.loc["empty", "epochs"] == 0.0
        assert out.loc["empty", "sample_rate"] == 0.0
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        exp = con.execute(P.mixture_weights_sql(budget_tokens=10)) \
            .df().set_index("source")
        for c in ("epochs", "sample_rate", "weight"):
            assert np.allclose(out[c].sort_index(), exp[c].sort_index())


class TestMixtureTargetsCoverage:
    def test_absent_target_source_gets_explicit_row(self, spark):
        from pdfextraction_spark.functions.sampling import mixture_weights

        docs = spark.createDataFrame(
            [(1, "a b c d", "web")],
            "doc_id long, text string, source string",
        )
        out = mixture_weights(
            docs, budget_tokens=100,
            targets={"web": 1.0, "wiki": 1.0},
        ).toPandas().set_index("source").sort_index()
        # the requested-but-missing component is VISIBLE, not dropped
        assert set(out.index) == {"web", "wiki"}
        assert out.loc["wiki", "n_docs"] == 0
        assert out.loc["wiki", "n_tokens"] == 0
        assert out.loc["wiki", "target_tokens"] == 50
        assert out.loc["wiki", "sample_rate"] == 0.0
        assert out.loc["web", "target_tokens"] == 50
