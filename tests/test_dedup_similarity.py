"""Dedup + similarity operator verification (the non-SQL-checkable
ops): MinHash-LSH candidates vs exact Jaccard ground truth, LSH-ANN
recall vs brute force, SimHash sanity, conversation merge semantics
vs the reference merger's rules."""

import numpy as np
import pandas as pd
import pytest

from pdfextraction_spark.functions import dedup as D
from pdfextraction_spark.functions import similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    """Synthetic near-dup corpus: base docs + mutated copies."""
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    did = 0
    for b in range(30):
        base = list(rng.choice(vocab, size=40))
        rows.append((did, " ".join(base))); did += 1
        if b % 2 == 0:  # near-dup: mutate 3 tokens
            mut = list(base)
            for j in rng.integers(0, 40, size=3):
                mut[int(j)] = vocab[int(rng.integers(0, 200))]
            rows.append((did, " ".join(mut))); did += 1
        if b % 5 == 0:  # exact dup
            rows.append((did, " ".join(base))); did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.cache().count()
    return df


def _duckdb_oracle(emb, sql):
    """Run a portable_sql oracle over ``emb`` registered as the
    ``embeddings`` table (pandas result)."""
    import duckdb

    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())
    return con.execute(sql).fetchdf()


@pytest.fixture(scope="module")
def emb(spark):
    """Clustered embeddings (30 centroids x 10 points, small noise) —
    real embedding spaces have strong neighbors; for isotropic random
    vectors sign-LSH recall is provably ~(1-theta/pi)^bits ~ chance."""
    rng = np.random.default_rng(11)
    cents = rng.standard_normal((30, 32))
    vecs = np.concatenate(
        [c + 0.15 * rng.standard_normal((10, 32)) for c in cents]
    ).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.cache().count()
    return df


@pytest.mark.slow
class TestDedup:
    def test_exact_dedup_counts(self, docs):
        out = D.exact_dedup(docs).toPandas()
        n_docs = docs.count()
        assert out["dup_count"].sum() == n_docs
        assert (out["dup_count"] >= 2).sum() >= 6  # planted exact dups

    def test_minhash_lsh_finds_near_dups(self, docs):
        truth = D.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
        # r=2, b=16 -> catch prob 1-(1-s^2)^16 = 0.99 at s=0.5
        got = D.minhash_lsh_pairs(docs, threshold=0.5,
                                  num_hashes=32, bands=16).toPandas()
        t = set(zip(truth.id_a, truth.id_b))
        g = set(zip(got.id_a, got.id_b))
        assert t, "fixture must contain near-dup pairs"
        # candidates are verified by exact jaccard -> no false positives
        assert g <= t
        assert len(g) / len(t) >= 0.9
        # jaccard values agree exactly where both report the pair
        merged = truth.merge(got, on=["id_a", "id_b"], suffixes=("_t", "_g"))
        assert (merged["jaccard_t"] == merged["jaccard_g"]).all()

    def test_signatures_accept_precomputed_shingles(self, docs):
        """minhash_signatures(shingles=...) — the share-the-shingle-
        table contract the LSH operators rely on — must yield exactly
        the signatures of the self-shingling path."""
        base = D.minhash_signatures(docs, num_hashes=8).toPandas()
        sh = D.with_shingles(docs)
        via = D.minhash_signatures(docs, num_hashes=8,
                                   shingles=sh).toPandas()
        b = base.sort_values("doc_id").reset_index(drop=True)
        v = via.sort_values("doc_id").reset_index(drop=True)
        assert (b["doc_id"] == v["doc_id"]).all()
        assert all(
            list(x) == list(y)
            for x, y in zip(b["signature"], v["signature"])
        )

    def test_pair_ops_empty_corpus(self, spark):
        """Every pair operator must return an EMPTY frame with its
        documented schema on an empty corpus — the eager stage
        materializations run at call time, so an empty input exercises
        them all (a crash here would take down an incremental job
        whose batch diff happens to be empty)."""
        empty = spark.createDataFrame([], "doc_id long, text string")
        assert D.ngram_jaccard_pairs(empty).count() == 0
        assert D.minhash_lsh_pairs(empty).count() == 0
        assert D.simhash_near_pairs(empty).count() == 0
        assert D.winnow_containment_pairs(empty).count() == 0
        out = D.incremental_update(empty, empty)
        assert out.count() == 0
        assert set(out.columns) == {
            "doc_id", "status", "verdict", "dup_of", "jaccard"}

    def test_bucket_cap_bounds_pairs_keeps_component(self, spark):
        """Saturated-bucket dial (crawl-mirror failure mode): a
        120-member near-identical cluster makes the true pair output
        itself quadratic (C(120,2)=7140 pairs); bucket_cap=8 must cut
        the emitted pair list to ~cap x size while the capped pairs
        still connect the WHOLE cluster into one component — the
        property clustering consumers (components/representatives)
        actually need."""
        from pdfextraction_spark.operators.graph import (
            connected_components,
        )

        rng = np.random.default_rng(3)
        vocab = [f"w{i}" for i in range(500)]
        base = list(rng.choice(vocab, size=60))
        rows = []
        for i in range(120):  # the planted mirror cluster: ids 0..119
            mut = list(base)
            j = int(rng.integers(0, 60))
            mut[j] = vocab[int(rng.integers(0, 500))]
            rows.append((i, " ".join(mut)))
        for i in range(120, 220):  # background singletons
            rows.append(
                (i, " ".join(rng.choice(vocab, size=40))))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        full = D.minhash_lsh_pairs(docs, threshold=0.5,
                                   num_hashes=32, bands=16).toPandas()
        capped = D.minhash_lsh_pairs(docs, threshold=0.5,
                                     num_hashes=32, bands=16,
                                     bucket_cap=8).toPandas()
        n_cluster_full = len(full[(full.id_a < 120) & (full.id_b < 120)])
        n_cluster_capped = len(
            capped[(capped.id_a < 120) & (capped.id_b < 120)])
        assert n_cluster_full >= 6500  # ~all-pairs without the cap
        assert n_cluster_capped < n_cluster_full / 4
        # capped pairs are a subset of the verified truth
        assert (set(zip(capped.id_a, capped.id_b))
                <= set(zip(full.id_a, full.id_b)))
        # ... and still connect the whole cluster into ONE component
        nodes = docs.select("doc_id")
        edges = spark.createDataFrame(
            capped[["id_a", "id_b"]], "id_a long, id_b long")
        comp = connected_components(nodes, edges).toPandas()
        cluster = comp[comp.node < 120]
        assert cluster.component.nunique() == 1
        assert (cluster.component == 0).all()

    def test_simhash_exact_dups_collide(self, docs, spark):
        sh = D.simhash_portable60(docs).toPandas()
        texts = docs.toPandas().set_index("doc_id")["text"]
        by_text = {}
        for _, r in sh.iterrows():
            by_text.setdefault(texts[r.doc_id], []).append(r.simhash)
        for t, hashes in by_text.items():
            assert len(set(hashes)) == 1  # identical text -> identical hash
        pairs = D.simhash_near_pairs(docs, max_hamming=0).toPandas()
        assert len(pairs) >= 6  # exact dups at hamming 0


def _mean_recall(truth, approx, n_queries=10):
    """Mean per-query top-k recall of ``approx`` against ``truth``."""
    rs = []
    for q in range(n_queries):
        t = set(truth[truth.query_id == q].vec_id)
        g = set(approx[approx.query_id == q].vec_id)
        rs.append(len(t & g) / len(t))
    return float(np.mean(rs))


@pytest.fixture(scope="module")
def top10(emb):
    """Queries 0-9 of ``emb`` with their exact and 4-bit sign-LSH
    top-10 (pandas), computed once for the recall tests."""
    from pyspark.sql import functions as F

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = S.brute_force_topk(emb, queries, k=10).toPandas()
    lsh = S.lsh_bucket_topk(emb, queries, k=10, bits=4, dim=32).toPandas()
    return queries, bf, lsh


@pytest.mark.slow
class TestSimilarity:
    def test_lsh_recall_vs_brute_force(self, top10):
        """Multiprobe LSH keeps top-10 recall high and scores its
        candidates exactly."""
        _, bf, lsh = top10
        assert _mean_recall(bf, lsh) >= 0.8
        # approx sims must be a subset of exact sims (same scorer)
        merged = bf.merge(lsh, on=["query_id", "vec_id"],
                          suffixes=("_t", "_g"))
        assert (merged["sim_t"] == merged["sim_g"]).all()

    def test_brute_force_self_consistency(self, emb):
        from pyspark.sql import functions as F

        queries = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = S.brute_force_topk(emb, queries, k=5).toPandas()
        assert list(out["rank"]) == [1, 2, 3, 4, 5]
        assert (out["sim"].diff().dropna() <= 0).all()  # descending


@pytest.mark.slow
class TestConversationMerge:
    def test_longest_wins_and_conflicts(self, spark):
        """result_merger.py:93-120 semantics: longest non-null value
        wins; repeated non-null occurrences flag a conflict; ties go to
        the earliest turn."""
        from pdfextraction_spark.operators.merge import (
            merge_conversation_fields,
        )

        rows = [
            ("c1", 0, "Emp Id:\t123"),
            ("c1", 1, "Emp Id:\t12345    Status:\t[EMPTY]"),
            ("c1", 2, "Status:\tA"),
            ("c2", 0, "Phone:\t509-121-3247"),
            ("c2", 1, "Phone:\t509-121-3247"),
            ("c3", 0, "Dept:\tB2    Dept:\tA1"),  # tie length, same turn
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, extracted_text string"
        )
        out = {
            (r.conv_id, r.field): r
            for r in merge_conversation_fields(df).collect()
        }
        assert out[("c1", "Emp Id")].value == "12345"
        assert out[("c1", "Emp Id")].conflict_detected
        assert out[("c1", "Emp Id")].source_turn == 1
        # [EMPTY] -> null, not an occurrence
        assert out[("c1", "Status")].value == "A"
        assert not out[("c1", "Status")].conflict_detected
        # identical repeated value still flags (reference marks any re-see)
        assert out[("c2", "Phone")].conflict_detected
        # tie on length within one turn -> earliest position wins
        assert out[("c3", "Dept")].value == "B2"


@pytest.mark.slow
class TestIVF:
    def test_ivf_recall_vs_brute_force(self, emb):
        from pyspark.sql import functions as F

        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        bf = S.brute_force_topk(emb, queries, k=10).toPandas()
        ivf = S.ivf_topk(emb, queries, k=10, n_centroids=16,
                         n_probe=4).toPandas()
        recalls = []
        for q in range(10):
            t = set(bf[bf.query_id == q].vec_id)
            g = set(ivf[ivf.query_id == q].vec_id)
            recalls.append(len(t & g) / len(t))
        # clustered corpus: the query's own cluster list is probed
        assert np.mean(recalls) >= 0.6
        merged = bf.merge(ivf, on=["query_id", "vec_id"], suffixes=("_t", "_g"))
        assert (merged["sim_t"] == merged["sim_g"]).all()

    def test_vectorized_assignment_matches_duckdb(self, emb):
        """The numpy-matmul assignment and probe UDFs must reproduce
        the DuckDB oracle's IVF search (argmax / top-n_probe of
        round(cosine, 6), first-wins ties) on this fixture: same
        rows, ranks and sims. The per-vector list_ids are pinned
        against the oracle by the SemDeDup parity test."""
        from pyspark.sql import functions as F

        from pdfextraction_spark.oracle import portable_sql as P

        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        key = ["query_id", "rank"]
        got = (S.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4,
                          lloyd_iters=0).toPandas()
               .sort_values(key).reset_index(drop=True))
        exp = (_duckdb_oracle(emb, P.ann_ivf_topk_sql(
                   n_centroids=16, n_probe=4, k=10, n_queries=5))
               .sort_values(key).reset_index(drop=True))
        assert len(got) == 50
        assert list(got.query_id) == list(exp.query_id)
        assert list(got.vec_id) == list(exp.vec_id)
        assert list(got["rank"]) == list(exp["rank"])
        assert np.allclose(got.sim, exp.sim)


@pytest.mark.slow
def test_asof_join_formulations_agree(spark):
    """Range-join+agg and union+window as-of forms must be identical."""
    from pdfextraction_spark.operators.asof import asof_join, asof_join_union_window

    rng = np.random.default_rng(5)
    rows_l = [(i, int(rng.integers(0, 20)), int(rng.integers(0, 10000)))
              for i in range(500)]
    rows_r = [(int(rng.integers(0, 20)), int(rng.integers(0, 10000)))
              for _ in range(800)]
    left = spark.createDataFrame(rows_l, "event_id long, user_id long, ts long")
    right = spark.createDataFrame(rows_r, "user_id long, ts long")
    a = asof_join(left, right, key="user_id", left_id="event_id") \
        .orderBy("event_id").toPandas()
    b = asof_join_union_window(left, right, key="user_id", left_id="event_id") \
        .orderBy("event_id").toPandas()
    assert len(a) == len(b)
    assert (a["event_id"].to_numpy() == b["event_id"].to_numpy()).all()
    assert (a["asof_ts"].to_numpy() == b["asof_ts"].to_numpy()).all()


def test_simhash_banded_recall_exact(spark, docs):
    """Banded blocking (bands = d+1) must find EVERY pair within
    Hamming distance d of the 60-bit sketch — pigeonhole guarantee —
    verified against an exact all-pairs Hamming join."""
    import itertools

    d = 12
    sims = {r.doc_id: r.simhash
            for r in D.simhash_portable60(docs).collect()}

    def ham(a, b):  # 60-bit sketches are non-negative longs
        return bin(sims[a] ^ sims[b]).count("1")

    exact = {
        (a, b, ham(a, b))
        for a, b in itertools.combinations(sorted(sims), 2)
        if ham(a, b) <= d
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_near_pairs(docs, max_hamming=d).collect()
    }
    assert len(exact) > 0
    assert got == exact


def test_ngram_stoplist_skew_equivalence(spark):
    """Hot-shingle stoplist: on a corpus where every doc shares one
    boilerplate sentence (the quadratic-join hazard), the df-filtered
    blocking returns byte-identical pairs to the unfiltered run —
    candidate generation shrinks, reported Jaccard stays exact."""
    rng = np.random.default_rng(99)
    vocab = [f"t{i}" for i in range(4000)]
    boiler = " ".join(f"b{i}" for i in range(12))
    rows = []
    did = 0
    for b in range(300):
        tail = list(rng.choice(vocab, size=30, replace=False))
        rows.append((did, boiler + " " + " ".join(tail))); did += 1
        if b % 10 == 0:  # planted near-dup
            mut = list(tail)
            mut[5] = vocab[int(rng.integers(0, 4000))]
            rows.append((did, boiler + " " + " ".join(mut))); did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.cache().count()
    try:
        hot = {r.sh for r in D.hot_shingles(df, max_df=50).collect()}
        assert "b0 b1 b2" in hot  # boilerplate shingles are caught
        assert all(s.startswith("b") for s in hot)
        with_stop = sorted(
            map(tuple, D.ngram_jaccard_pairs(df, threshold=0.3,
                                             max_shingle_df=50).collect())
        )
        without = sorted(
            map(tuple, D.ngram_jaccard_pairs(df, threshold=0.3,
                                             max_shingle_df=10**9).collect())
        )
        assert with_stop == without
        assert len(with_stop) == 30  # exactly the planted pairs
    finally:
        df.unpersist()


@pytest.mark.slow
def test_multiprobe_and_lloyd_improve_recall(emb, top10):
    """Lloyd-refined IVF centroids must dominate seed-only centroids
    on the clustered corpus (same candidates scored by the same exact
    scorer). The multiprobe LSH recall is checked on the same top-10
    jobs by TestSimilarity.test_lsh_recall_vs_brute_force."""
    queries, bf, _ = top10

    def mean_recall(approx):
        return _mean_recall(bf, approx)

    seed_only = mean_recall(
        S.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4,
                   lloyd_iters=0).toPandas())
    refined = mean_recall(
        S.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4,
                   lloyd_iters=2).toPandas())
    assert refined >= seed_only - 0.05  # never materially worse
    assert refined >= 0.7


@pytest.mark.slow
def test_cosine_near_pairs_blocked_vs_exact(emb):
    """LSH-blocked near-dup pairs: no false positives (exact verify),
    high recall vs the exact all-pairs form on the clustered corpus,
    identical cos_sim where both report."""
    exact = S.cosine_near_pairs(emb, threshold=0.85, blocked=False,
                                dim=32).toPandas()
    blocked = S.cosine_near_pairs(emb, threshold=0.85, blocked=True,
                                  bits=6, dim=32).toPandas()
    t = set(zip(exact.id_a, exact.id_b))
    g = set(zip(blocked.id_a, blocked.id_b))
    assert t, "clustered fixture must contain near pairs"
    assert g <= t  # exact verify -> no false positives
    assert len(g) / len(t) >= 0.8
    merged = exact.merge(blocked, on=["id_a", "id_b"], suffixes=("_t", "_g"))
    assert (merged["cos_sim_t"] == merged["cos_sim_g"]).all()


class TestAsymmetricJoin:
    def test_cross_side_equals_restricted_self_pairs(self, spark, docs):
        """ngram_jaccard_join(A, B) must equal ngram_jaccard_pairs over
        the union restricted to cross-side pairs (same threshold) —
        the asymmetric form is a subset computation, not a different
        similarity."""
        from pyspark.sql import functions as F

        a = docs.filter(F.col("doc_id") % 3 == 0)
        b = docs.filter(F.col("doc_id") % 3 != 0)
        joined = {
            (r.left_id, r.right_id, r.jaccard)
            for r in D.ngram_jaccard_join(a, b, threshold=0.5).collect()
        }
        self_pairs = D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
        expected = set()
        for r in self_pairs:
            sa, sb = r.id_a % 3 == 0, r.id_b % 3 == 0
            if sa != sb:  # cross-side only
                l, rr = (r.id_a, r.id_b) if sa else (r.id_b, r.id_a)
                expected.add((l, rr, r.jaccard))
        assert joined == expected
        assert len(joined) > 0

    def test_no_same_side_pairs(self, spark, docs):
        from pyspark.sql import functions as F

        a = docs.filter(F.col("doc_id") % 3 == 0)
        b = docs.filter(F.col("doc_id") % 3 != 0)
        out = D.ngram_jaccard_join(a, b, threshold=0.3).toPandas()
        assert (out.left_id % 3 == 0).all()
        assert (out.right_id % 3 != 0).all()

    def test_hot_shingle_exactness_across_sides(self, spark):
        """A shingle made hot by the UNION df is excluded from
        candidate generation on BOTH sides but added back into the
        intersection count, keeping the reported Jaccard exact."""
        boiler = "common boiler plate line here now"
        rows_a = [(1, boiler + " alpha beta gamma delta")]
        rows_b = [(100 + i, boiler + f" tail{i} x{i} y{i} z{i}")
                  for i in range(6)]
        a = spark.createDataFrame(rows_a, "doc_id long, text string")
        b = spark.createDataFrame(rows_b, "doc_id long, text string")
        # max_shingle_df=3: the boilerplate shingles (df=7) are hot
        got = {
            (r.left_id, r.right_id): r.jaccard
            for r in D.ngram_jaccard_join(
                a, b, threshold=0.0, max_shingle_df=3
            ).collect()
        }
        # exact jaccard computed off raw shingle sets
        import itertools

        def shset(text):
            t = text.lower().split()
            return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

        for (la, ta), (lb, tb) in itertools.product(rows_a, rows_b):
            sa, sb = shset(ta), shset(tb)
            j = round(len(sa & sb) / len(sa | sb), 6)
            if (la, lb) in got:
                assert got[(la, lb)] == j

    def test_minhash_join_recall_vs_exact(self, spark, docs):
        """LSH-blocked asymmetric join: emitted pairs are a verified
        subset of the exact asymmetric join with high recall (r=2,
        b=16 -> ~0.99 catch probability at s=0.5)."""
        from pyspark.sql import functions as F

        a = docs.filter(F.col("doc_id") % 3 == 0)
        b = docs.filter(F.col("doc_id") % 3 != 0)
        exact = {
            (r.left_id, r.right_id, r.jaccard)
            for r in D.ngram_jaccard_join(a, b, threshold=0.5).collect()
        }
        lsh = {
            (r.left_id, r.right_id, r.jaccard)
            for r in D.minhash_lsh_join(a, b, threshold=0.5,
                                        num_hashes=32,
                                        bands=16).collect()
        }
        assert exact, "fixture must contain cross-side near-dups"
        assert lsh <= exact          # verify-before-emit: no FPs
        assert len(lsh) / len(exact) >= 0.9

    def test_cosine_join_recall_vs_exact(self, spark, emb):
        """Asymmetric embedding join: emitted pairs are exact-cosine
        verified; recall measured vs the exact cross-side pair set."""
        from pyspark.sql import functions as F

        a = emb.filter(F.col("vec_id") % 4 == 0)
        b = emb.filter(F.col("vec_id") % 4 != 0)
        exact_all = S.cosine_near_pairs(
            emb, threshold=0.85, blocked=False, dim=32
        ).toPandas()
        exact = {
            (l, r, c) if l % 4 == 0 else (r, l, c)
            for l, r, c in zip(exact_all.id_a, exact_all.id_b,
                               exact_all.cos_sim)
            if (l % 4 == 0) != (r % 4 == 0)
        }
        got = {
            (r.left_id, r.right_id, r.cos_sim)
            for r in S.cosine_near_join(
                a, b, threshold=0.85, bits=4, dim=32
            ).collect()
        }
        assert exact, "fixture must contain cross-side near pairs"
        assert got <= exact
        assert len(got) / len(exact) >= 0.6  # 4-bit + multiprobe


@pytest.mark.slow
class TestPQ:
    def test_codes_shape_and_determinism(self, emb):
        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        assert len(books) == 8 and len(books[0]) == 16
        assert len(books[0][0]) == 4  # dim/m
        coded = S.pq_encode(emb, books).toPandas()
        assert len(coded) == emb.count()
        assert coded.codes.map(len).eq(8).all()
        assert coded.codes.map(lambda cs: all(1 <= c <= 16
                                              for c in cs)).all()
        again = S.pq_encode(emb.repartition(5), books).toPandas()
        a = coded.sort_values("vec_id").reset_index(drop=True)
        b = again.sort_values("vec_id").reset_index(drop=True)
        assert (a.codes.map(tuple) == b.codes.map(tuple)).all()

    def test_adc_recall_vs_brute_force(self, emb):
        """PQ approximation must keep most true neighbors: clustered
        fixture, m=8 sub-quantizers of the 32-dim space."""
        from pyspark.sql import functions as F

        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        bf = S.brute_force_topk(emb, queries, k=10).toPandas()
        pq = S.pq_adc_topk(emb, queries, books, k=10).toPandas()
        recalls = []
        for q in range(10):
            t = set(bf[bf.query_id == q].vec_id)
            g = set(pq[pq.query_id == q].vec_id)
            recalls.append(len(t & g) / len(t))
        assert np.mean(recalls) >= 0.5
        # within each query the approx distances are non-decreasing
        for q in range(10):
            d = list(pq[pq.query_id == q].sort_values("rank")
                     .approx_dist_micros)
            assert d == sorted(d)

    def test_ivf_pq_composition(self, emb):
        """IVF-PQ end to end: IVF probing shrinks the candidate set,
        ADC ranks the survivors by codes — composed from the two
        oracle-green halves; recall stays useful while candidates
        drop well below the corpus."""
        from pyspark.sql import functions as F

        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        cents = S.train_ivf_centroids(emb, n_centroids=16,
                                      lloyd_iters=0)
        assigned = S._coarse_assigned(
            emb, cents, "vec_id", "embedding"
        ).select("vec_id", "list_id")
        corpus = emb.join(assigned, "vec_id")
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        bf = S.brute_force_topk(emb, queries, k=10).toPandas()
        q_assigned = {
            r.vec_id: r.list_id for r in assigned.filter(
                F.col("vec_id") < 5).collect()
        }
        recalls, cand_counts = [], []
        for qid, lid in q_assigned.items():
            cand = corpus.filter(F.col("list_id") == lid)
            cand_counts.append(cand.count())
            q1 = queries.filter(F.col("query_id") == qid)
            pq = S.pq_adc_topk(cand, q1, books, k=10).toPandas()
            t = set(bf[bf.query_id == qid].vec_id)
            recalls.append(len(t & set(pq.vec_id)) / len(t))
        assert max(cand_counts) < emb.count() / 2
        assert sum(recalls) / len(recalls) >= 0.5

    def test_vectorized_encode_equality(self, emb):
        """The Arrow/numpy encoder must produce exactly the DuckDB
        oracle's codes (6dp-rounded squared L2, first-wins argmin)
        for the seed codebooks, and ADC search over those codes the
        oracle's integer distances and ranks."""
        from pyspark.sql import functions as F

        from pdfextraction_spark.oracle import portable_sql as P

        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        got = (S.pq_encode(emb, books).toPandas()
               .sort_values("vec_id").reset_index(drop=True))
        exp = (_duckdb_oracle(emb, P.pq_encode_sql(m=8, k=16, dim=32))
               .sort_values("vec_id").reset_index(drop=True))
        assert list(got.vec_id) == list(exp.vec_id)
        assert list(got.codes.map(lambda cs: ",".join(map(str, cs)))) \
            == list(exp.codes)

        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        key = ["query_id", "vec_id", "approx_dist_micros", "rank"]
        a = (S.pq_adc_topk(emb, queries, books, k=10).toPandas()[key]
             .sort_values(key).reset_index(drop=True))
        b = (_duckdb_oracle(emb, P.pq_adc_topk_sql(
                 m=8, k_cent=16, dim=32, k=10, n_queries=5))[key]
             .sort_values(key).reset_index(drop=True))
        assert len(a) == 50
        assert a.astype("int64").equals(b.astype("int64"))

    def test_vectorized_encode_large_k(self, emb):
        """k=256 — the PQ-standard codebook size — encodes every
        vector to in-range codes."""
        books = S.pq_train_codebooks(emb, m=8, k=256, dim=32)
        # fixture has 300 vectors; strided seeding caps distinct seeds,
        # but the codebook shape is what matters for the path
        assert len(books[0]) == 256
        out = S.pq_encode(emb, books).toPandas()
        assert len(out) == emb.count()
        assert out.codes.map(
            lambda cs: all(1 <= c <= 256 for c in cs)).all()

    @staticmethod
    def _quantization_mse(emb, books):
        """Mean squared reconstruction error of the codebooks over the
        fixture — the quantity Lloyd monotonically non-increases."""
        import pandas as pd  # noqa: F401

        rows = emb.orderBy("vec_id").toPandas()
        M = np.array([np.asarray(v, dtype=np.float64)
                      for v in rows.embedding])
        B = np.asarray(books, dtype=np.float64)  # (m, k, d_sub)
        m, _, d_sub = B.shape
        err = 0.0
        for j in range(m):
            sub = M[:, j * d_sub:(j + 1) * d_sub]
            diff = sub[:, None, :] - B[j][None, :, :]
            d = (diff ** 2).sum(-1)
            err += d.min(axis=1).sum()
        return err / M.shape[0]

    def test_lloyd_training_dominates_seeds(self, emb):
        """Per-subspace Lloyd refinement must beat the strided seed
        codebooks: strictly lower quantization MSE, and ADC recall vs
        brute force at least as good."""
        from pyspark.sql import functions as F

        seed = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        trained = S.pq_train_codebooks(emb, m=8, k=16, dim=32,
                                       lloyd_iters=2)
        mse_seed = self._quantization_mse(emb, seed)
        mse_trained = self._quantization_mse(emb, trained)
        assert mse_trained < mse_seed
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        bf = S.brute_force_topk(emb, queries, k=10).toPandas()

        def recall(books):
            pq = S.pq_adc_topk(emb, queries, books, k=10).toPandas()
            rs = []
            for q in range(10):
                t = set(bf[bf.query_id == q].vec_id)
                rs.append(len(t & set(pq[pq.query_id == q].vec_id))
                          / len(t))
            return np.mean(rs)

        assert recall(trained) >= recall(seed)

    def test_lloyd_vectorized_parity(self, emb):
        """The distributed Lloyd steps must train what a plain NumPy
        Lloyd iteration trains from the same seeds: per-subspace
        (PQ) and whole-vector (IVF) nearest assignment under the
        6dp-rounded first-wins policy, member means, empty cells
        keeping their previous centroid."""
        rows = emb.orderBy("vec_id").toPandas()
        M = np.array([np.asarray(v, dtype=np.float64)
                      for v in rows.embedding])

        seed = np.asarray(S.pq_train_codebooks(emb, m=8, k=16, dim=32))
        want = seed.copy()
        for j in range(8):
            sub = M[:, j * 4:(j + 1) * 4]
            d = np.round(((sub[:, None, :] - seed[j][None]) ** 2)
                         .sum(-1), 6)
            code = np.argmin(d, axis=1)
            for c in np.unique(code):
                want[j, c] = sub[code == c].mean(axis=0)
        got = S.pq_train_codebooks(emb, m=8, k=16, dim=32,
                                   lloyd_iters=1)
        assert np.allclose(np.asarray(got), want, atol=1e-12)

        cents = np.asarray(S.train_ivf_centroids(emb, n_centroids=16,
                                                 lloyd_iters=0))
        cos = np.round(
            (M @ cents.T)
            / (np.linalg.norm(M, axis=1)[:, None]
               * np.linalg.norm(cents, axis=1)[None, :]), 6)
        lid = np.argmax(cos, axis=1)
        want_c = cents.copy()
        for c in np.unique(lid):
            want_c[c] = M[lid == c].mean(axis=0)
        got_c = S.train_ivf_centroids(emb, n_centroids=16,
                                      lloyd_iters=1)
        assert np.allclose(np.asarray(got_c), want_c, atol=1e-12)

    def test_ivfpq_topk(self, emb):
        """The composed ivfpq_topk function (driver query shape): the
        seed config (coarse centroids == the k=16 codebook seed
        sample, as the oracle ties them) reproduces the DuckDB
        oracle's rows exactly; with trained codebooks recall vs brute
        force stays useful and ADC distances are non-decreasing in
        rank."""
        from pyspark.sql import functions as F

        from pdfextraction_spark.oracle import portable_sql as P

        cents = S.train_ivf_centroids(emb, n_centroids=16,
                                      lloyd_iters=0)
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        seed_books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        key = ["query_id", "vec_id", "approx_dist_micros", "rank"]
        a = (S.ivfpq_topk(emb, queries, seed_books, centroids=cents,
                          k=10, n_probe=4).toPandas()[key]
             .sort_values(key).reset_index(drop=True))
        b = (_duckdb_oracle(emb, P.ann_ivfpq_topk_sql(
                 m=8, k_cent=16, dim=32, n_probe=4, k=10,
                 n_queries=5))[key]
             .sort_values(key).reset_index(drop=True))
        assert len(a) > 0
        assert a.astype("int64").equals(b.astype("int64"))

        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32,
                                     lloyd_iters=2)
        got = S.ivfpq_topk(emb, queries, books, centroids=cents,
                           k=10, n_probe=4).toPandas()
        bf = S.brute_force_topk(emb, queries, k=10).toPandas()
        recalls = []
        for q in range(5):
            t = set(bf[bf.query_id == q].vec_id)
            recalls.append(
                len(t & set(got[got.query_id == q].vec_id)) / len(t))
        assert np.mean(recalls) >= 0.5
        for q in range(5):
            d = list(got[got.query_id == q].sort_values("rank")
                     .approx_dist_micros)
            assert d == sorted(d)

    def test_default_paths_plan_arrow_udfs(self, emb, monkeypatch):
        """pq_encode with a PQ-standard k=256 codebook, ivf_topk,
        ivfpq_topk and semantic_dedup, each called with default
        arguments, plan the Arrow-batch numpy UDFs
        (ArrowEvalPython), never an m x k / n_centroids x dim literal
        expression tree. semantic_dedup checkpoints its assignment,
        so its plan is read where the checkpoint is taken."""
        from pyspark.sql import functions as F

        def plan_of(df):
            return df._jdf.queryExecution().executedPlan().toString()

        checkpointed = []
        frame_cls = type(emb)
        real_checkpoint = frame_cls.localCheckpoint

        def spy(df, *args, **kwargs):
            checkpointed.append(plan_of(df))
            return real_checkpoint(df, *args, **kwargs)

        monkeypatch.setattr(frame_cls, "localCheckpoint", spy)

        books256 = S.pq_train_codebooks(emb, m=8, k=256, dim=32)
        assert len(books256[0]) == 256
        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        cents = S.train_ivf_centroids(emb, n_centroids=16,
                                      lloyd_iters=0)
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        S.semantic_dedup(emb, threshold=0.9, centroids=cents)
        assert len(checkpointed) == 1
        plans = checkpointed + [plan_of(df) for df in (
            S.pq_encode(emb, books256),
            S.ivf_topk(emb, queries, k=5, centroids=cents),
            S.ivfpq_topk(emb, queries, books256, centroids=cents, k=5),
            S.ivfpq_topk(emb, queries, books, centroids=cents, k=5),
        )]
        for plan in plans:
            assert "ArrowEvalPython" in plan
            assert "array_position" not in plan


@pytest.mark.slow
class TestMalformedVectors:
    """One malformed vector must not fail the Arrow batch it rides in.
    Rows: a null vector (9001), a short one (9002, 10 of 32 values),
    one with a null element (9003, vector 7 with element 9 nulled)
    and one too wide (9004, vector 7 plus one value). IVF assignment
    and probing need exactly dim non-null values (else null list_id /
    null probes: the row joins no list); PQ nulls each code whose
    d_sub-wide slice is not fully present. ADC search needs a query's
    first dim values (else no table) and every code of a candidate
    (else no distance). Cosine top-k scores a null sim against a
    malformed vector (null, null element, other width), and a null
    sim is never ranked."""

    @pytest.fixture(scope="class")
    def dirty(self, emb):
        v7 = [float(x) for x in
              emb.filter("vec_id = 7").collect()[0].embedding]
        nulled = list(v7)
        nulled[9] = None
        bad = emb.sparkSession.createDataFrame(
            [(9001, None), (9002, [0.5] * 10), (9003, nulled),
             (9004, v7 + [1.0])],
            emb.schema,
        )
        return emb.unionByName(bad)

    def test_pq_codes_null_per_subspace(self, emb, dirty):
        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        codes = {r.vec_id: r.codes
                 for r in S.pq_encode(dirty, books).collect()}
        B = np.asarray(books)
        half = [int(np.argmin(np.round(((0.5 - B[j]) ** 2).sum(-1), 6)))
                + 1 for j in range(2)]
        assert codes[9001] == [None] * 8
        assert codes[9002] == half + [None] * 6
        assert codes[9003] == codes[7][:2] + [None] + codes[7][3:]
        assert codes[9004] == codes[7]
        assert all(None not in codes[i] for i in range(300))

        err = {r.vec_id: r.e for r in dirty.select(
            "vec_id",
            S.np_pq_recon_err_udf(books)(
                S._as_double(dirty.embedding)).alias("e"),
        ).collect()}
        assert err[9001] is None and err[9002] is None
        assert err[9003] is None
        assert err[9004] == err[7]
        assert all(err[i] is not None for i in range(300))

    def test_ivf_and_ivfpq_drop_malformed_rows(self, emb, dirty):
        from pyspark.sql import functions as F

        cents = S.train_ivf_centroids(emb, n_centroids=16,
                                      lloyd_iters=0)
        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        good_q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding")
        # malformed QUERY vectors get null probes: no result rows
        dirty_q = dirty.filter(
            (F.col("vec_id") < 5) | (F.col("vec_id") > 9000)
        ).select(F.col("vec_id").alias("query_id"), "embedding")

        def rows(df):
            return sorted(map(tuple, df.collect()))

        clean = rows(S.ivf_topk(emb, good_q, k=10, centroids=cents))
        assert len(clean) == 50
        assert rows(S.ivf_topk(dirty, dirty_q, k=10,
                               centroids=cents)) == clean
        clean_pq = rows(S.ivfpq_topk(emb, good_q, books,
                                     centroids=cents, k=10))
        assert rows(S.ivfpq_topk(dirty, good_q, books,
                                 centroids=cents, k=10)) == clean_pq
        assert rows(S.ivfpq_topk(dirty, dirty_q, books,
                                 centroids=cents, k=10)) == clean_pq

    def test_pq_adc_drops_malformed_rows(self, emb, dirty):
        from pyspark.sql import functions as F

        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        good_q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding")
        # 9001-9003 lack values of their first dim: as queries they get
        # no ADC table, as corpus rows a null code (no distance); 9004
        # codes as vector 7 and stays a candidate, so it is left out
        bad = dirty.filter("vec_id <> 9004")
        bad_q = bad.filter(
            (F.col("vec_id") < 5) | (F.col("vec_id") > 9000)
        ).select(F.col("vec_id").alias("query_id"), "embedding")
        got = S.pq_adc_topk(bad, bad_q, books, k=10).collect()
        want = S.pq_adc_topk(emb, good_q, books, k=10).collect()
        assert len(want) == 50
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    @pytest.mark.parametrize("bad", [float("nan"), float("inf"), 1e30])
    def test_adc_nonfinite_query_returns_no_rows(self, emb, bad):
        """A query with a NaN or inf element, or one whose distances
        overflow int64 micro-units, gets no ADC table: it returns no
        rows, and the other queries in its batch are unchanged (the
        search must not fail)."""
        from pyspark.sql import functions as F

        cents = S.train_ivf_centroids(emb, n_centroids=16,
                                      lloyd_iters=0)
        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        good_q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding")
        v7 = [float(x) for x in
              emb.filter("vec_id = 7").collect()[0].embedding]
        odd = emb.sparkSession.createDataFrame(
            [(9005, [bad] + v7[1:])],
            "query_id long, embedding array<float>")
        mixed_q = good_q.unionByName(odd)

        for search in (
            lambda qs: S.pq_adc_topk(emb, qs, books, k=10),
            lambda qs: S.ivfpq_topk(emb, qs, books, centroids=cents,
                                    k=10),
        ):
            want = sorted(map(tuple, search(good_q).collect()))
            assert len(want) == 50
            assert sorted(map(tuple, search(mixed_q).collect())) == want

    def test_cosine_topk_drop_malformed_rows(self, emb, dirty):
        """k exceeds the corpus, so every scored candidate would show:
        malformed corpus rows must not rank, and a malformed query
        returns no rows."""
        from pyspark.sql import functions as F

        def q(df):
            return df.select(F.col("vec_id").alias("query_id"),
                             "embedding")

        good_q = q(emb.filter(F.col("vec_id") < 5))
        dirty_q = q(dirty.filter(
            (F.col("vec_id") < 5) | (F.col("vec_id") > 9000)))
        for topk in (
            lambda e, qs: S.brute_force_topk(e, qs, k=400),
            lambda e, qs: S.lsh_bucket_topk(e, qs, k=400, bits=4, dim=32),
        ):
            clean = sorted(map(tuple, topk(emb, good_q).collect()))
            assert clean
            got = sorted(map(tuple, topk(dirty, dirty_q).collect()))
            assert got == clean

    def test_cosine_oracles_match_on_malformed_rows(self, dirty):
        """The DuckDB oracles of brute_force_topk, lsh_bucket_topk,
        ivf_topk and exact and blocked cosine_near_pairs run on the
        malformed rows and drop them as Spark does."""
        from pyspark.sql import functions as F

        from pdfextraction_spark.oracle import portable_sql as P

        queries = dirty.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding")
        for got, sql in (
            (S.brute_force_topk(dirty, queries, k=400),
             P.ann_cosine_topk_sql(k=400, n_queries=5)),
            (S.lsh_bucket_topk(dirty, queries, k=400, bits=4, dim=32),
             P.ann_lsh_topk_sql(bits=4, dim=32, k=400, n_queries=5)),
            (S.ivf_topk(dirty, queries, k=10, n_centroids=16, n_probe=4,
                        lloyd_iters=0),
             P.ann_ivf_topk_sql(n_centroids=16, n_probe=4, k=10,
                                n_queries=5)),
        ):
            key = ["query_id", "rank"]
            g = got.toPandas().sort_values(key).reset_index(drop=True)
            e = (_duckdb_oracle(dirty, sql)
                 .sort_values(key).reset_index(drop=True))
            assert len(g) > 0
            assert list(g["vec_id"]) == list(e["vec_id"])
            assert list(g["rank"]) == list(e["rank"])
            assert np.allclose(g["sim"], e["sim"])
        for blocked, sql in (
            (True, P.cosine_near_pairs_blocked_sql(threshold=0.6, bits=4,
                                                   dim=32)),
            (False, P.cosine_near_pairs_sql(threshold=0.6)),
        ):
            pairs = S.cosine_near_pairs(dirty, threshold=0.6,
                                        blocked=blocked, bits=4,
                                        dim=32).toPandas()
            exp = _duckdb_oracle(dirty, sql)
            assert len(pairs) > 0
            assert (set(zip(pairs.id_a, pairs.id_b))
                    == set(zip(exp.id_a, exp.id_b)))

    def test_nonfinite_sims_are_no_candidates(self, emb):
        """Vector 1 with an inf first element scores sim = NaN against
        every vector, and Spark and DuckDB both order NaN above every
        double. A NaN sim is no candidate: brute_force_topk and ivf_topk
        return no NaN row (query 1 returns none at all) and match their
        DuckDB oracles."""
        from pyspark.sql import functions as F

        from pdfextraction_spark.oracle import portable_sql as P

        odd = emb.sparkSession.createDataFrame(
            [(r.vec_id, [float("inf")] + r.embedding[1:] if r.vec_id == 1
              else r.embedding) for r in emb.collect()],
            emb.schema,
        )
        queries = odd.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding")
        for got, sql in (
            (S.brute_force_topk(odd, queries, k=10),
             P.ann_cosine_topk_sql(k=10, n_queries=5)),
            (S.ivf_topk(odd, queries, k=10, n_centroids=16, n_probe=4,
                        lloyd_iters=0),
             P.ann_ivf_topk_sql(n_centroids=16, n_probe=4, k=10,
                                n_queries=5)),
        ):
            key = ["query_id", "rank"]
            g = got.toPandas().sort_values(key).reset_index(drop=True)
            e = (_duckdb_oracle(odd, sql)
                 .sort_values(key).reset_index(drop=True))
            assert len(g) == 40
            assert not g["sim"].isna().any()
            assert 1 not in set(g["query_id"]) | set(g["vec_id"])
            assert list(g["query_id"]) == list(e["query_id"])
            assert list(g["vec_id"]) == list(e["vec_id"])
            assert list(g["rank"]) == list(e["rank"])
            assert np.allclose(g["sim"], e["sim"])

    def test_assignment_oracles_match_on_malformed_rows(self, dirty):
        """The DuckDB oracles of ivfpq_topk and semantic_dedup run on
        the malformed rows and match Spark: only rows with no null
        element and the centroids' width are assigned, and
        semantic_dedup keeps the others with a null list_id."""
        from pyspark.sql import functions as F

        from pdfextraction_spark.oracle import portable_sql as P

        queries = dirty.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding")
        books = S.pq_train_codebooks(dirty, m=8, k=16, dim=32)
        cents = S.train_ivf_centroids(dirty, n_centroids=16,
                                      lloyd_iters=0)
        key = ["query_id", "vec_id", "approx_dist_micros", "rank"]
        a = (S.ivfpq_topk(dirty, queries, books, centroids=cents, k=10,
                          n_probe=4).toPandas()[key]
             .sort_values(key).reset_index(drop=True))
        b = (_duckdb_oracle(dirty, P.ann_ivfpq_topk_sql(
                 m=8, k_cent=16, dim=32, n_probe=4, k=10,
                 n_queries=5))[key]
             .sort_values(key).reset_index(drop=True))
        assert len(a) == 50
        assert a.astype("int64").equals(b.astype("int64"))

        got = (S.semantic_dedup(dirty, threshold=0.9, n_centroids=8,
                                lloyd_iters=0).toPandas()
               .sort_values("vec_id").reset_index(drop=True))
        exp = (_duckdb_oracle(dirty, P.semantic_dedup_sql(
                   n_centroids=8, threshold=0.9))
               .sort_values("vec_id").reset_index(drop=True))

        def ids(col):
            return [None if pd.isna(x) else int(x) for x in col]

        assert len(got) == 304
        assert list(got.vec_id) == list(exp.vec_id)
        assert ids(got.list_id) == ids(exp.list_id)
        assert list(got.is_kept) == list(exp.is_kept)
        assert ids(exp.list_id[exp.vec_id > 9000]) == [None] * 4

    def test_semantic_dedup_keeps_unassigned(self, emb, dirty):
        cents = S.train_ivf_centroids(emb, n_centroids=8,
                                      lloyd_iters=0)
        clean = {r.vec_id: (r.list_id, r.is_kept) for r in
                 S.semantic_dedup(emb, threshold=0.9,
                                  centroids=cents).collect()}
        got = {r.vec_id: (r.list_id, r.is_kept) for r in
               S.semantic_dedup(dirty, threshold=0.9,
                                centroids=cents).collect()}
        for i in (9001, 9002, 9003, 9004):
            assert got.pop(i) == (None, True)
        assert got == clean

    def test_lloyd_steps_skip_malformed_rows(self, emb, dirty):
        cents = S.train_ivf_centroids(emb, n_centroids=16,
                                      lloyd_iters=0)
        assert np.allclose(
            S._lloyd_step(dirty, "embedding", cents),
            S._lloyd_step(emb, "embedding", cents), atol=1e-12)
        books = S.pq_train_codebooks(emb, m=8, k=16, dim=32)
        with_null = emb.unionByName(
            dirty.filter("vec_id = 9001"))
        assert np.allclose(
            S._pq_lloyd_step(with_null, "embedding", books),
            S._pq_lloyd_step(emb, "embedding", books), atol=1e-12)
        trained = np.asarray(
            S._pq_lloyd_step(dirty, "embedding", books))
        assert trained.shape == (8, 16, 4)
        assert np.isfinite(trained).all()


@pytest.mark.slow
class TestContainment:
    def _docs(self, spark):
        rng = np.random.default_rng(23)
        vocab = [f"tok{i}" for i in range(300)]
        long_doc = " ".join(rng.choice(vocab, size=160))
        # doc 1 is a 40-token excerpt of the 160-token doc 2 with a
        # tiny unique tail: containment(1 in 2) ~ 1 while the reverse
        # direction is ~ the excerpt's quarter share of doc 2
        words = long_doc.split()
        quote = " ".join(words[20:60]) + " uniq1 uniq2"
        other = " ".join(rng.choice(vocab, size=60))
        return spark.createDataFrame(
            [(1, quote), (2, long_doc), (3, other)],
            "doc_id long, text string",
        )

    def test_quote_containment_detected(self, spark):
        out = {
            (r.inner_id, r.outer_id): r.containment
            for r in D.winnow_containment_pairs(
                self._docs(spark), threshold=0.5
            ).collect()
        }
        assert out.get((1, 2), 0) >= 0.8      # the excerpt is contained
        assert (2, 1) not in out              # not symmetric
        assert not any(3 in p for p in out)   # unrelated doc clean

    def test_duckdb_parity(self, spark):
        import duckdb

        from pdfextraction_spark.oracle import portable_sql as P

        docs = self._docs(spark)
        got = sorted(
            (r.inner_id, r.outer_id, r.containment)
            for r in D.winnow_containment_pairs(
                docs, threshold=0.1
            ).collect()
        )
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        want = sorted(
            map(tuple,
                con.execute(
                    P.winnow_containment_sql(threshold=0.1)
                ).fetchall())
        )
        assert got == want

    def test_hot_fp_stoplist_keeps_exact_containment(self, spark):
        """With max_fp_df=1 every shared fp is 'hot': candidates can
        only come from cold collisions, so pairs sharing ONLY hot fps
        vanish — but any pair that still surfaces must report the
        SAME exact containment as the unstoplisted run."""
        docs = self._docs(spark)
        base = {
            (r.inner_id, r.outer_id): r.containment
            for r in D.winnow_containment_pairs(
                docs, threshold=0.1
            ).collect()
        }
        capped = {
            (r.inner_id, r.outer_id): r.containment
            for r in D.winnow_containment_pairs(
                docs, threshold=0.1, max_fp_df=2
            ).collect()
        }
        assert set(capped) <= set(base)
        for pair, c in capped.items():
            assert c == base[pair]


@pytest.mark.slow
class TestCorpusDiff:
    def test_statuses_and_normalized_unchanged(self, spark):
        """Whitespace/case-mangled re-crawls are UNCHANGED (shared
        normalized fingerprint); real edits are changed; one-sided
        ids are added/removed; unchanged docs are omitted."""
        old = spark.createDataFrame(
            [(1, "a b c"), (2, "same text"), (3, "will vanish")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, "  A   b  C "), (2, "same text edited"), (4, "fresh")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.status
               for r in D.corpus_diff(old, new).collect()}
        assert got == {2: "changed", 3: "removed", 4: "added"}

    def test_dup_rate_by_source(self, spark):
        """Two sources: s0 has 3 docs of which 2 share normalized
        text (rate 1/3); s1 all unique (rate 0)."""
        df = spark.createDataFrame(
            [(1, "a b", "s0"), (2, "  A  B ", "s0"), (3, "c", "s0"),
             (4, "d", "s1"), (5, "e", "s1")],
            "doc_id long, text string, source string",
        )
        got = {r.source: r for r in
               D.dup_rate_by_source(df).collect()}
        assert got["s0"].n_docs == 3 and got["s0"].n_unique == 2
        assert got["s0"].dup_rate == round(1 - 2 / 3, 6)
        assert got["s1"].dup_rate == 0.0


@pytest.mark.slow
class TestSemanticDedup:
    """SemDeDup-style within-cluster epsilon-ball prune."""

    def test_planted_near_identicals_pruned(self, spark):
        # 3 clusters x 5 members; in cluster 0 vectors 1 and 2 are
        # near-copies of vector 0 (cosine ~ 1) — both must be dropped,
        # the lowest-id copy kept
        rng = np.random.default_rng(23)
        cents = rng.standard_normal((3, 16))
        rows = []
        vid = 0
        for ci, c in enumerate(cents):
            for j in range(5):
                v = c + 2.0 * rng.standard_normal(16)
                if ci == 0 and j in (1, 2):
                    v = cents[0] * 3.0 + 0.001 * rng.standard_normal(16)
                if ci == 0 and j == 0:
                    v = cents[0] * 3.0
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")
        out = S.semantic_dedup(
            df, threshold=0.95, n_centroids=3, lloyd_iters=0
        ).toPandas().set_index("vec_id")
        assert len(out) == 15
        assert bool(out.loc[0, "is_kept"])        # first copy survives
        assert not bool(out.loc[1, "is_kept"])    # later copies pruned
        assert not bool(out.loc[2, "is_kept"])
        # everything outside the planted ball survives at 0.95
        assert out.loc[3:, "is_kept"].all()

    def test_every_vector_appears_once(self, emb):
        out = S.semantic_dedup(emb, threshold=0.9, n_centroids=8,
                               lloyd_iters=0).toPandas()
        assert len(out) == emb.count()
        assert out["vec_id"].is_unique
        assert set(out.columns) == {"vec_id", "list_id", "is_kept"}

    def test_vectorized_assignment_parity(self, emb):
        """Every vector's list_id and keep verdict equal the DuckDB
        oracle's (rounded-cosine argmax assignment, within-cluster
        epsilon-ball prune)."""
        from pdfextraction_spark.oracle import portable_sql as P

        got = (S.semantic_dedup(emb, threshold=0.9, n_centroids=8,
                                lloyd_iters=0).toPandas()
               .sort_values("vec_id").reset_index(drop=True))
        exp = (_duckdb_oracle(emb, P.semantic_dedup_sql(
                   n_centroids=8, threshold=0.9))
               .sort_values("vec_id").reset_index(drop=True))
        assert len(got) == 300
        assert list(got.vec_id) == list(exp.vec_id)
        assert list(got.list_id) == list(exp.list_id)
        assert list(got.is_kept) == list(exp.is_kept)
        assert (~got.is_kept).any()


class TestIncrementalUpdate:
    """Composite crawl-increment step: diff -> asymmetric near-dup
    join -> verdicts."""

    def test_planted_scenario(self, spark):
        base = " ".join(f"w{i}" for i in range(40))
        near = " ".join(
            f"w{i}" if i != 3 else "zz" for i in range(40))
        old = spark.createDataFrame(
            [(1, base), (2, "totally different text about other things"),
             (3, "this one will change")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, base), (2, "totally different text about other things"),
             (3, "this one has now changed"),
             (10, near),                      # added near-copy of doc 1
             (11, "novel content nothing like the corpus")],  # added
            "doc_id long, text string",
        )
        out = D.incremental_update(old, new, threshold=0.2) \
            .toPandas().set_index("doc_id").sort_index()
        # only added/changed docs appear
        assert set(out.index) == {3, 10, 11}
        assert out.loc[3, "status"] == "changed"
        assert out.loc[10, "status"] == "added"
        assert out.loc[10, "verdict"] == "dup_of"
        assert out.loc[10, "dup_of"] == 1
        assert out.loc[10, "jaccard"] > 0.2
        assert out.loc[11, "verdict"] == "unique"
        assert out.loc[11, "dup_of"] == -1
        assert out.loc[11, "jaccard"] == 0.0

    def test_unchanged_docs_never_probe(self, spark):
        """Byte-identical snapshots produce ZERO output rows — the
        no-op increment costs no near-dup work."""
        docs = spark.createDataFrame(
            [(i, f"text number {i} with words") for i in range(20)],
            "doc_id long, text string",
        )
        assert D.incremental_update(docs, docs).count() == 0

    def test_string_ids_keep_null_sentinel(self, spark):
        """STRING doc ids: the -1 unique sentinel is numeric-only — a
        coerced '-1' string would silently shift the dup_of column
        type, so unique docs keep NULL and dup_of stays the id's own
        type."""
        base = "the quick brown fox jumps over the lazy dog " * 3
        old = spark.createDataFrame(
            [("a", base)], "doc_id string, text string"
        )
        new = spark.createDataFrame(
            [("a", base),
             ("b", base + "extra tail words"),
             ("c", "novel content nothing like the corpus")],
            "doc_id string, text string",
        )
        out = D.incremental_update(old, new, threshold=0.2) \
            .toPandas().set_index("doc_id").sort_index()
        assert set(out.index) == {"b", "c"}
        assert out.loc["b", "verdict"] == "dup_of"
        assert out.loc["b", "dup_of"] == "a"
        assert out.loc["c", "verdict"] == "unique"
        assert out.loc["c", "dup_of"] is None or pd.isna(
            out.loc["c", "dup_of"])


@pytest.mark.slow
class TestAnnIndexPersistence:
    """Build-once/search-many: parquet index layout, partition-pruned
    probes, search equality vs the in-memory composition."""

    def test_roundtrip_search_equality(self, emb, tmp_path):
        from pdfextraction_spark.sources.ann_index import (
            build_ann_index,
            ivfpq_topk_indexed,
            load_ann_index,
        )

        spark = emb.sparkSession
        p = str(tmp_path / "ivfpq_index")
        built = build_ann_index(
            emb, p, n_centroids=8, m=8, k=16, dim=32,
            lloyd_iters=1, pq_lloyd_iters=1,
        )
        loaded = load_ann_index(spark, p)
        assert loaded.centroids == built.centroids
        assert loaded.codebooks == built.codebooks
        queries = emb.filter(emb.vec_id < 4).select(
            emb.vec_id.alias("query_id"), "embedding")
        got = ivfpq_topk_indexed(loaded, queries, k=5, n_probe=3) \
            .toPandas().sort_values(["query_id", "rank"]) \
            .reset_index(drop=True)
        want = S.ivfpq_topk(
            emb, queries, built.codebooks, centroids=built.centroids,
            k=5, n_probe=3,
        ).toPandas().sort_values(["query_id", "rank"]) \
            .reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got.astype(want.dtypes.to_dict()), want)

    def test_append_equals_rebuild(self, emb, tmp_path):
        """Incremental maintenance: build on 9 of every cluster's 10
        points, append the held-out tenth (same distribution — an
        id-range split would put whole UNSEEN clusters in the batch
        and trip the drift signal) with the FROZEN quantizers — search
        results must be bit-identical to a from-scratch build of the
        full corpus under the same quantizers (the rebuild a
        non-incremental pipeline would pay), and meta must carry the
        summed vector count."""
        from pdfextraction_spark.sources.ann_index import (
            append_to_ann_index,
            build_ann_index,
            ivfpq_topk_indexed,
            load_ann_index,
        )

        spark = emb.sparkSession
        old = emb.filter(emb.vec_id % 10 < 9)
        new = emb.filter(emb.vec_id % 10 == 9)
        p_inc = str(tmp_path / "idx_incremental")
        built = build_ann_index(
            old, p_inc, n_centroids=8, m=8, k=16, dim=32,
            lloyd_iters=1, pq_lloyd_iters=1,
        )
        stats = append_to_ann_index(load_ann_index(spark, p_inc), new)
        assert stats["n_appended"] == 30
        assert stats["n_vectors"] == 300
        assert stats["build_quant_mse"] > 0
        # same clustered distribution -> the frozen quantizers still
        # represent the batch (no drift)
        assert 0.5 < stats["staleness_ratio"] < 2.0
        # meta is a versioned append-only log now: the loader's
        # max-ver row carries the post-append count, and the build
        # row (ver=0) must still be present underneath
        from pdfextraction_spark.sources.ann_index import _read_meta

        meta = _read_meta(spark, p_inc)
        assert meta.n_vectors == 300 and meta.ver == 1
        all_meta = spark.read.parquet(p_inc + "/meta.parquet").collect()
        assert sorted(r.ver for r in all_meta) == [0, 1]
        # the CLI's ann-build report must read the MAX-VER meta row:
        # exercised against this appended 2-row log — a raw
        # collect()[0] could report the stale ver-0 row's pre-append
        # n_vectors (the round-5 latent trap)
        from pdfextraction_spark.cli import _ann_index_report

        report = _ann_index_report(spark, p_inc, 8)
        assert report["n_vectors"] == 300 and report["ver"] == 1
        p_full = str(tmp_path / "idx_rebuild")
        build_ann_index(
            emb, p_full, n_centroids=8, m=8, k=16, dim=32,
            centroids=built.centroids, codebooks=built.codebooks,
        )
        queries = emb.filter(emb.vec_id % 50 == 0).select(
            emb.vec_id.alias("query_id"), "embedding")

        def run(path):
            return ivfpq_topk_indexed(
                load_ann_index(spark, path), queries, k=5, n_probe=3
            ).toPandas().sort_values(["query_id", "rank"]) \
                .reset_index(drop=True)

        pd.testing.assert_frame_equal(run(p_inc), run(p_full))

    def test_append_staleness_signal(self, emb, tmp_path):
        """A drifted batch (shifted distribution) must show a
        quantization MSE well above build-time — the retrain signal
        the staleness ratio exists to surface."""
        from pdfextraction_spark.sources.ann_index import (
            append_to_ann_index,
            build_ann_index,
            load_ann_index,
        )

        from pyspark.sql import functions as F

        spark = emb.sparkSession
        p = str(tmp_path / "idx_drift")
        build_ann_index(emb, p, n_centroids=8, m=8, k=16, dim=32,
                        lloyd_iters=1, pq_lloyd_iters=1)
        drifted = emb.select(
            (emb.vec_id + 1000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(3.0) + F.lit(2.0)
            ).alias("embedding"),
        )
        stats = append_to_ann_index(load_ann_index(spark, p), drifted)
        assert stats["staleness_ratio"] > 3.0

    def test_probe_scan_partition_pruned(self, emb, tmp_path):
        from pdfextraction_spark.sources.ann_index import (
            build_ann_index,
            ivfpq_topk_indexed,
            load_ann_index,
        )

        spark = emb.sparkSession
        p = str(tmp_path / "ivfpq_index2")
        build_ann_index(emb, p, n_centroids=8, m=8, k=16, dim=32,
                        lloyd_iters=0, pq_lloyd_iters=0)
        loaded = load_ann_index(spark, p)
        queries = emb.filter(emb.vec_id < 2).select(
            emb.vec_id.alias("query_id"), "embedding")
        df = ivfpq_topk_indexed(loaded, queries, k=5, n_probe=2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the coded scan must carry the probed-list partition filter
        assert "PartitionFilters" in plan
        import re
        pf = [ln for ln in plan.splitlines()
              if "PartitionFilters" in ln and "list_id" in ln]
        assert pf, plan
        assert re.search(r"PartitionFilters: \[[^\]]*list_id", pf[0])


@pytest.mark.slow
class TestAnnIndexValidation:
    def test_truncated_centroids_rejected(self, emb, tmp_path):
        from pdfextraction_spark.sources.ann_index import (
            build_ann_index,
            load_ann_index,
        )

        spark = emb.sparkSession
        p = str(tmp_path / "idx")
        built = build_ann_index(emb, p, n_centroids=8, m=8, k=16,
                                dim=32, lloyd_iters=0, pq_lloyd_iters=0)
        # simulate a partial centroid write: drop the last row
        import os
        spark.createDataFrame(
            [(i + 1, c) for i, c in enumerate(built.centroids[:-1])],
            "list_id int, c array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(p, "centroids.parquet"))
        with pytest.raises(ValueError, match="centroids on"):
            load_ann_index(spark, p)


class TestConversationDedup:
    def test_mangled_copy_collapses_and_order_matters(self, spark):
        rows = [
            ("c1", 0, "Hello  there"), ("c1", 1, "general kenobi"),
            # whitespace/case-mangled re-ingest of c1
            ("c9", 0, "  hello THERE"), ("c9", 1, "GENERAL  kenobi "),
            # same turn texts as c1 but swapped order -> NOT a dup
            ("c2", 0, "general kenobi"), ("c2", 1, "Hello  there"),
            # turn-boundary aliasing: "hello there general"+"kenobi"
            ("c3", 0, "hello there general"), ("c3", 1, "kenobi"),
            ("c4", 0, None), ("c4", 1, "x"),
        ]
        t = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string")
        out = D.conversation_dedup(t).toPandas().set_index("conv_id")
        assert out.loc["c9", "canonical_id"] == "c1"
        assert not bool(out.loc["c9", "is_canonical"])
        assert out.loc["c1", "group_size"] == 2
        assert bool(out.loc["c1", "is_canonical"])
        for c in ("c2", "c3", "c4"):
            assert bool(out.loc[c, "is_canonical"])
            assert out.loc[c, "group_size"] == 1

    def test_separator_byte_cannot_alias_boundary(self, spark):
        # a literal \x1e inside a turn must NOT fake a turn boundary
        # (per-turn digests are joined, never raw text)
        rows = [("a", 0, "x\x1ey"), ("b", 0, "x"), ("b", 1, "y")]
        t = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string")
        out = D.conversation_dedup(t).toPandas().set_index("conv_id")
        assert bool(out.loc["a", "is_canonical"])
        assert bool(out.loc["b", "is_canonical"])
        assert (out.group_size == 1).all()
