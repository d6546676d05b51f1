"""Cross-engine parity for the md5-family sketches and the integer
sign-LSH planes: the Spark pipelines must produce EXACTLY what the
DuckDB oracle SQL (pdfextraction_spark/oracle/portable_sql.py) derives
from the same raw tables — this is the in-repo pin of the
correctness gate (tools/check_correctness.py) for the approximate
dedup/ANN queries (VERDICT r2 item 1), independent of the generated
test data.

Also pins that portable minhash, the one operator with a second
(xxhash64) family, keeps that family's contract: verified-exact
outputs with high recall; and pins SimHash banding's pigeonhole recall
and blocked cosine's recall at the registry queries' settings.
"""

import itertools

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from pdfextraction_spark.functions import dedup as D
from pdfextraction_spark.functions import similarity as S
from pdfextraction_spark.oracle import portable_sql as P


@pytest.fixture(scope="module")
def docs(spark):
    """Near-dup corpus with exact dups, 3-token mutants, and a few
    unicode/edge docs."""
    rng = np.random.default_rng(13)
    vocab = [f"w{i}" for i in range(150)]
    rows = []
    did = 0
    for b in range(20):
        base = list(rng.choice(vocab, size=30))
        rows.append((did, " ".join(base))); did += 1
        if b % 2 == 0:
            mut = list(base)
            for j in rng.integers(0, 30, size=3):
                mut[int(j)] = vocab[int(rng.integers(0, 150))]
            rows.append((did, " ".join(mut))); did += 1
        if b % 4 == 0:
            rows.append((did, " ".join(base))); did += 1
    rows += [(did, "naïve café résumé"), (did + 1, "x"), (did + 2, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    """Clustered 64-dim embeddings (the default plane dim)."""
    rng = np.random.default_rng(17)
    cents = rng.standard_normal((12, 64))
    vecs = np.concatenate(
        [c + 0.2 * rng.standard_normal((10, 64)) for c in cents]
    ).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.cache().count()
    return df


def _duck(views: dict):
    con = duckdb.connect()
    for name, pdf in views.items():
        con.register(name, pdf)
    return con


def _pairs_set(pdf, cols=("id_a", "id_b")):
    return set(map(tuple, pdf[list(cols)].itertuples(index=False)))


@pytest.mark.slow
class TestPortableDedupParity:
    def test_simhash_sketch_matches_duckdb(self, docs):
        got = (
            D.simhash_portable60(docs)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        con = _duck({"documents": docs.toPandas()})
        exp = con.execute(
            P.simhash_sketch_sql() + " ORDER BY doc_id"
        ).fetchdf()
        assert list(got["doc_id"]) == list(exp["doc_id"])
        assert list(got["simhash"]) == list(exp["simhash"])
        # 60-bit sketches stay positive on every engine
        assert (got["simhash"] >= 0).all()

    def test_simhash_pairs_match_duckdb(self, docs):
        got = D.simhash_near_pairs(docs, max_hamming=3).toPandas()
        con = _duck({"documents": docs.toPandas()})
        exp = con.execute(P.simhash_pairs_sql(max_hamming=3)).fetchdf()
        assert _pairs_set(got) == _pairs_set(exp)
        assert len(got) >= 5  # exact dups must collide at hamming 0

    def test_simhash_portable_pigeonhole_recall(self, docs):
        """Banded blocking with bands=d+1 must find EVERY pair within
        Hamming d of the 60-bit sketch, at the registry query's d=3
        (test_dedup_similarity.py checks d=12)."""
        sk = {r.doc_id: r.simhash
              for r in D.simhash_portable60(docs).collect()}
        truth = {(a, b) for a, b in itertools.combinations(sorted(sk), 2)
                 if bin(sk[a] ^ sk[b]).count("1") <= 3}
        got = D.simhash_near_pairs(docs, max_hamming=3).toPandas()
        assert _pairs_set(got) == truth

    def test_minhash_pairs_match_duckdb(self, docs):
        got = D.minhash_lsh_pairs(docs, threshold=0.2, portable=True).toPandas()
        con = _duck({"documents": docs.toPandas()})
        exp = con.execute(P.minhash_lsh_pairs_sql(threshold=0.2)).fetchdf()
        assert _pairs_set(got) == _pairs_set(exp)
        g = got.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        e = exp.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        assert np.allclose(g["jaccard"], e["jaccard"])
        assert len(got) >= 5

    def test_minhash_portable_keeps_contract(self, docs):
        """Portable and production hash families are different LSH
        draws but the same algorithm: both emit only verified-exact
        Jaccard pairs, so portable ⊆ exact truth with high recall."""
        truth = _pairs_set(
            D.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
        )
        got = _pairs_set(
            D.minhash_lsh_pairs(docs, threshold=0.5, num_hashes=32,
                                bands=16, portable=True).toPandas()
        )
        assert truth
        assert got <= truth
        assert len(got) / len(truth) >= 0.9


@pytest.mark.slow
class TestPortableAnnParity:
    def test_lsh_topk_matches_duckdb(self, emb):
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = (
            S.lsh_bucket_topk(emb, queries, k=10, bits=4)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        con = _duck({"embeddings": emb.toPandas()})
        exp = (
            con.execute(P.ann_lsh_topk_sql(bits=4, k=10, n_queries=5))
            .fetchdf().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        assert list(got["vec_id"]) == list(exp["vec_id"])
        assert np.allclose(got["sim"], exp["sim"])

    def test_ivf_topk_matches_duckdb(self, emb):
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = (
            S.ivf_topk(emb, queries, k=10, n_centroids=8, n_probe=3,
                       lloyd_iters=0)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        con = _duck({"embeddings": emb.toPandas()})
        exp = (
            con.execute(P.ann_ivf_topk_sql(n_centroids=8, n_probe=3,
                                           k=10, n_queries=5))
            .fetchdf().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        assert list(got["vec_id"]) == list(exp["vec_id"])
        assert np.allclose(got["sim"], exp["sim"])

    def test_blocked_cosine_matches_duckdb(self, emb):
        got = S.cosine_near_pairs(emb, threshold=0.6, blocked=True,
                                  bits=4).toPandas()
        con = _duck({"embeddings": emb.toPandas()})
        exp = con.execute(
            P.cosine_near_pairs_blocked_sql(threshold=0.6, bits=4)
        ).fetchdf()
        assert _pairs_set(got) == _pairs_set(exp)
        assert len(got) > 0

    def test_blocked_cosine_portable_recall(self, emb):
        """Blocked pairs at the registry query's bits=4 are a subset of
        the exact pairs; clustered data keeps recall high at the
        near-dup threshold (test_dedup_similarity.py checks bits=6)."""
        exact, got = (
            _pairs_set(S.cosine_near_pairs(emb, threshold=0.85,
                                           blocked=blocked, bits=4)
                       .toPandas())
            for blocked in (False, True)
        )
        assert exact
        assert got <= exact
        assert len(got) / len(exact) >= 0.6


@pytest.mark.slow
class TestRound4Parity:
    def test_semantic_dedup_matches_duckdb(self, emb):
        got = (
            S.semantic_dedup(emb, threshold=0.5, n_centroids=8,
                             lloyd_iters=0)
            .toPandas().sort_values("vec_id").reset_index(drop=True)
        )
        con = _duck({"embeddings": emb.toPandas()})
        exp = con.execute(
            "SELECT * FROM ("
            + P.semantic_dedup_sql(n_centroids=8, threshold=0.5)
            + ") ORDER BY vec_id"
        ).fetchdf()
        assert list(got["vec_id"]) == list(exp["vec_id"])
        assert list(got["list_id"]) == list(exp["list_id"])
        assert list(got["is_kept"]) == list(exp["is_kept"])
        # the clustered fixture has near-identical points per cluster
        assert (~got["is_kept"]).sum() >= 5

    def test_incremental_update_matches_duckdb(self, docs):
        from pyspark.sql import functions as SF

        old = docs.filter(SF.col("doc_id") % 11 != 5)
        new = docs.filter(SF.col("doc_id") % 7 != 3).withColumn(
            "text",
            SF.when(SF.col("doc_id") % 5 == 0,
                    SF.concat(SF.col("text"), SF.lit(" v2")))
            .otherwise(SF.col("text")),
        )
        got = (
            D.incremental_update(old, new, threshold=0.2, portable=True)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        con = _duck({"documents": docs.toPandas()})
        exp = con.execute(
            "SELECT * FROM ("
            + P.incremental_update_sql(threshold=0.2)
            + ") ORDER BY doc_id"
        ).fetchdf()
        for c in ("doc_id", "status", "verdict", "dup_of"):
            assert list(got[c]) == list(exp[c]), c
        assert np.allclose(got["jaccard"], exp["jaccard"])
        assert (got["verdict"] == "dup_of").any()
