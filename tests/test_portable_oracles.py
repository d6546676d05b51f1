"""Cross-engine parity for the md5-family sketches and the integer
sign-LSH planes: the Spark pipelines must produce EXACTLY what the
DuckDB oracle SQL (pdfextraction_spark/oracle/portable_sql.py) derives
from the same raw tables — this is the in-repo pin of the
correctness gate (tools/check_correctness.py) for the approximate
dedup/ANN queries (VERDICT r2 item 1), independent of the generated
test data.

Also pins the minhash hash itself (md5 base hash and every affine
permutation, Spark vs DuckDB vs hashlib) and its LSH contract:
verified-exact outputs with high recall against exact n-gram Jaccard;
and pins SimHash banding's pigeonhole recall and blocked cosine's
recall at the registry queries' settings.
"""

import hashlib
import itertools

import duckdb
import numpy as np
import pandas as pd
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


def test_minhash_coefficients_cannot_overflow():
    """a_i*h + b_i with h < p stays below 2^63 for every permutation,
    so neither engine's int64 arithmetic can wrap."""
    p = D.MINHASH_PRIME
    assert p == 2**31 - 1 and len(D.MINHASH_COEFFS) == 32
    assert all(1 <= a <= p - 1 and 0 <= b <= p - 1
               for a, b in D.MINHASH_COEFFS)
    a_max = max(a for a, _ in D.MINHASH_COEFFS)
    b_max = max(b for _, b in D.MINHASH_COEFFS)
    assert a_max * (p - 1) + b_max < 2**63


@pytest.mark.slow
def test_minhash_hash_matches_duckdb_and_hashlib(spark):
    """The base hash md5_prefix60(s) mod p and all 32 permutation
    minima agree between Spark (minhash_signatures), DuckDB
    (_minhash_sig_cte with one permutation per band) and hashlib, on
    ASCII and non-ASCII shingles."""
    p = D.MINHASH_PRIME
    docs = [
        (0, ["the quick brown", "fox"]),
        (1, ["naïve café résumé"]),
        (2, ["日本語 の テキスト", "ünïcödé ßtraße", "🙂 ok"]),
        (3, [""]),
        (4, ["a b c", "a b", "a"]),
    ]

    def base(s):
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % p

    want = {d: [min((a * base(s) + b) % p for s in sh)
                for a, b in D.MINHASH_COEFFS] for d, sh in docs}
    flat = [(d, s) for d, sh in docs for s in sh]
    sh_df = spark.createDataFrame(docs, "doc_id long, shingles array<string>")
    spark_base = {
        r.s: r.h for r in spark.createDataFrame(flat, "doc_id long, s string")
        .select("s", F.pmod(D.md5_prefix60(F.col("s")), F.lit(p)).alias("h"))
        .collect()}
    assert spark_base == {s: base(s) for _, s in flat}
    got = {r.doc_id: list(r.signature)
           for r in D.minhash_signatures(None, shingles=sh_df).collect()}
    assert got == want
    con = _duck({"sh": pd.DataFrame(flat, columns=["doc_id", "s"])})
    duck_base = dict(con.execute(
        "SELECT s, " + P._MD5_60.format(expr="s") + f" % {p} FROM sh"
    ).fetchall())
    assert duck_base == spark_base
    duck = {}
    for d, band, key in con.execute(
            f"WITH {P._minhash_sig_cte(32, 32)} SELECT * FROM sig").fetchall():
        duck.setdefault(d, [None] * 32)[band] = int(key)
    assert duck == want


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
        got = D.minhash_lsh_pairs(docs, threshold=0.2).toPandas()
        con = _duck({"documents": docs.toPandas()})
        exp = con.execute(P.minhash_lsh_pairs_sql(threshold=0.2)).fetchdf()
        assert _pairs_set(got) == _pairs_set(exp)
        g = got.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        e = exp.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        assert np.allclose(g["jaccard"], e["jaccard"])
        assert len(got) >= 5

    def test_minhash_portable_keeps_contract(self, docs):
        """The DuckDB oracle's minhash chain keeps the LSH contract on
        its own, not only parity with Spark at threshold 0.2: against
        exact n-gram Jaccard it emits only verified pairs (the same
        jaccard value) and r=2, b=16 finds >= 90% of the truth (catch
        probability 1-(1-s^2)^16 = 0.99 at s=0.5). The Spark operator's
        side is test_dedup_similarity's test_minhash_lsh_finds_near_dups."""
        truth = D.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
        con = _duck({"documents": docs.toPandas()})
        got = con.execute(P.minhash_lsh_pairs_sql(
            threshold=0.5, num_hashes=32, bands=16)).fetchdf()
        t, g = _pairs_set(truth), _pairs_set(got)
        assert t, "fixture must contain near-dup pairs"
        assert g <= t
        assert len(g) / len(t) >= 0.9
        merged = truth.merge(got, on=["id_a", "id_b"], suffixes=("_t", "_g"))
        assert np.allclose(merged["jaccard_t"], merged["jaccard_g"])


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
            D.incremental_update(old, new, threshold=0.2)
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
