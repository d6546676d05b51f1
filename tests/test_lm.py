"""Unigram-LM perplexity scoring (CCNet-style quality gate):
hand-computed model and scores on a tiny corpus, OOV pricing and the
ppl strata."""

import math

import pytest

from pdfextraction_spark.functions.lm import (
    perplexity_score,
    train_unigram_lm,
)


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "zebra quokka axolotl"),   # mostly-OOV zoo doc
        (4, "  The   CAT\tsat "),      # normalization: == "the cat sat"
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_train_hand_computed(tiny_docs):
    lm, oov_logp, n = train_unigram_lm(tiny_docs, vocab_size=4, alpha=1.0)
    # tokens: doc1 6, doc2 3, doc3 3, doc4 3 -> N = 15
    assert n == 15
    got = {r["token"]: r["logp"] for r in lm.collect()}
    # counts: the 4, sat 3, cat 2, on/mat/dog/zebra/quokka/axolotl 1
    # top-4 (count desc, token asc tie-break): the, sat, cat, axolotl
    assert set(got) == {"the", "sat", "cat", "axolotl"}
    denom = 15 + 1.0 * 5
    assert got["the"] == pytest.approx(math.log(5 / denom))
    assert got["sat"] == pytest.approx(math.log(4 / denom))
    assert got["cat"] == pytest.approx(math.log(3 / denom))
    assert got["axolotl"] == pytest.approx(math.log(2 / denom))
    # OOV mass 15 - (4+3+2+1) = 5, spread over 9 - 4 = 5 tail types
    assert oov_logp == pytest.approx(math.log(6 / denom) - math.log(5))


def test_score_hand_computed_and_oov(tiny_docs):
    lm, oov_logp, _ = train_unigram_lm(tiny_docs, vocab_size=4, alpha=1.0)
    out = {
        r["doc_id"]: r
        for r in perplexity_score(tiny_docs, lm, oov_logp).collect()
    }
    denom = 20.0
    # doc2 "the dog sat": logp(the) + oov(dog) + logp(sat)
    oov = math.log(6 / denom) - math.log(5)
    lp = (math.log(5 / denom) + oov + math.log(4 / denom)) / 3
    assert out[2]["n_tokens"] == 3
    assert out[2]["ppl"] == pytest.approx(math.exp(-lp))
    # doc3 "zebra quokka axolotl": zebra/quokka OOV, axolotl IS in
    # vocab (the count-1 tie-break picked it)
    lp3 = (2 * oov + math.log(2 / denom)) / 3
    assert out[3]["ppl"] == pytest.approx(math.exp(-lp3))
    # doc4 normalizes to "the cat sat" (case/tab/run-collapse), so its
    # price is the in-vocab chain exactly
    lp4 = (math.log(5 / denom) + math.log(3 / denom)
           + math.log(4 / denom)) / 3
    assert out[4]["n_tokens"] == 3
    assert out[4]["ppl"] == pytest.approx(math.exp(-lp4))
    # with the OOV type-spread the mostly-gibberish zoo doc prices
    # HIGHEST (without it, one OOV token cost the whole tail mass and
    # gibberish priced below prose, inverting a ppl cut)
    assert max(out, key=lambda d: out[d]["ppl"]) == 3


def test_zero_token_docs_dropped(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "   ")], "doc_id int, text string"
    )
    lm, oov_logp, _ = train_unigram_lm(docs, vocab_size=2)
    got = perplexity_score(docs, lm, oov_logp).collect()
    assert sorted(r["doc_id"] for r in got) == [1]


def test_ppl_buckets_terciles(spark):
    from pdfextraction_spark.functions.lm import ppl_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lm, oov_logp, _ = train_unigram_lm(docs, vocab_size=20)
    out = ppl_buckets(docs, lm, oov_logp).toPandas()
    n = len(out)
    sizes = out["bucket"].value_counts()
    # R-7 tercile cutoffs: each bucket holds ~n/3 (ties can shift a
    # few docs across an edge, never a whole stratum)
    for b in ("head", "middle", "tail"):
        assert abs(sizes[b] - n / 3) <= max(3, 0.05 * n), sizes
    # bucket order respects the score order exactly
    assert (out[out.bucket == "head"]["ppl"].max()
            <= out[out.bucket == "middle"]["ppl"].min() + 1e-12)
    assert (out[out.bucket == "middle"]["ppl"].max()
            <= out[out.bucket == "tail"]["ppl"].min() + 1e-12)
