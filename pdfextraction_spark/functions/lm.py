"""Unigram language-model perplexity scoring — the CCNet-style
quality gate (Wenzek et al. 2020: score web text with a corpus LM,
filter/stratify on perplexity). The reference pipeline has no LLM-free
quality model; this is a training-data addition in the same family as
quality_score/repetition (SURVEY.md §2 training-pipeline extensions).

Model: add-alpha-smoothed unigram LM over the top-V vocabulary, every
other token mapped to one OOV symbol carrying the aggregate tail
count, SPREAD UNIFORMLY over the tail types (the open-vocabulary
<unk> correction): a single unseen token costs
ln(tail_mass / tail_types), not the whole tail mass. Without the
spread, heavy-tailed corpora price one OOV occurrence at the entire
tail (~10% of all mass) — cheaper than a median in-vocab word — so a
document of pure gibberish would score BELOW normal prose and a ppl
quality gate would invert, keeping spam and cutting text.

Scale shape:
- training is one tokenize→count aggregation plus a global top-V
  (TakeOrderedAndProject — no full sort); the model is BOUNDED (V+1
  rows), so it broadcasts.
- scoring is explode → broadcast join → re-aggregate: one shuffle on
  doc_id, no Python, and the same plan shape the DuckDB oracle
  mirrors (a pandas_udf scorer with the model dict in a broadcast
  measured no faster at vocab 20 or 100k).

Tokenization single-home: norm_ws_lower + single-space split (the
exact-dedup family normalization), empty tokens dropped.
"""

from __future__ import annotations

import math
from typing import Tuple

from pyspark.sql import Column, DataFrame, functions as F

from .text import explode_rows, norm_ws_lower

DEFAULT_VOCAB = 10_000
DEFAULT_ALPHA = 1.0


def _tokens(col: Column) -> Column:
    # norm_ws_lower collapses runs to single spaces; a leading tab
    # survives trim as a leading space (family quirk), hence the
    # empty-token filter after the split
    return F.filter(F.split(norm_ws_lower(col), " "), lambda t: t != "")


def train_unigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = DEFAULT_VOCAB,
    alpha: float = DEFAULT_ALPHA,
) -> Tuple[DataFrame, float, int]:
    """Fit the LM on a corpus. Returns ``(lm, oov_logp, n_tokens)``
    where ``lm`` is a (token, logp) DataFrame of the top-``vocab_size``
    tokens (count desc, token asc tie-break — deterministic) and
    ``oov_logp`` prices every out-of-vocabulary token.

    logp(t) = ln((c_t + alpha) / (N + alpha * (V_real + 1))) with
    V_real = |vocab| actually realized (= min(vocab_size, distinct
    types)); the OOV symbol carries c = N - sum(top-V counts) spread
    over the tail types: oov_logp = ln((c_oov + alpha) / denom) -
    ln(max(T, 1)), T = distinct tokens - V_real (see module docstring
    for why the spread is load-bearing)."""
    toks = docs.select(
        F.explode(_tokens(F.col(text_col))).alias("token")
    )
    # ONE corpus pass: every later consumer (total mass, top-V, logp)
    # reads the checkpointed count table, never the corpus again
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint()
    vocab = counts.orderBy(F.col("c").desc(), F.col("token").asc()).limit(
        vocab_size
    )
    # bounded scalars off the checkpointed counts: total mass,
    # distinct types, in-vocab mass + in-vocab type count
    totals = counts.agg(
        F.sum("c").alias("mass"), F.count(F.lit(1)).alias("types")
    ).collect()[0]
    n_total = totals["mass"] or 0
    n_types = totals["types"] or 0
    vrow = vocab.agg(
        F.sum("c").alias("mass"), F.count(F.lit(1)).alias("types")
    ).collect()[0]
    in_vocab = vrow["mass"] or 0
    v_real = vrow["types"] or 0
    tail_types = max(n_types - v_real, 1)
    # REALIZED vocab size, not the requested one: on a corpus with
    # fewer than vocab_size distinct tokens the requested-V denominator
    # would mis-normalize the distribution (and price OOV with zero
    # actual tail mass); the oracle computes the same COUNT(*) FROM
    # vocab, so the two engines can never disagree here
    denom = n_total + alpha * (v_real + 1)
    lm = vocab.select(
        "token",
        F.log((F.col("c") + F.lit(alpha)) / F.lit(denom)).alias("logp"),
    )
    oov_logp = (
        math.log(((n_total - in_vocab) + alpha) / denom)
        - math.log(tail_types)
    )
    return lm, oov_logp, n_total


def perplexity_score(
    docs: DataFrame,
    lm: DataFrame,
    oov_logp: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document perplexity exp(-mean logp). Zero-token documents
    are dropped (no distribution to score). Output:
    (id_col, n_tokens, ppl)."""
    toks = docs.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("__toks")
    )
    # a zero-token doc explodes to no row, so it never reaches the
    # per-doc aggregate
    ex = explode_rows(toks, "__toks", "token", id_col)
    scored = ex.join(F.broadcast(lm), "token", "left").withColumn(
        "__lp", F.coalesce(F.col("logp"), F.lit(oov_logp))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.exp(-F.avg("__lp")).alias("ppl"),
    )


def ppl_buckets(
    docs: DataFrame,
    lm: DataFrame,
    oov_logp: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    probs: Tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet head/middle/tail stratification: split the corpus at the
    exact ppl percentiles in ``probs``. Scale shape: the cutoffs are
    TWO broadcast scalars (never a global ntile window — a single-
    partition sort is the anti-pattern this function exists to avoid);
    assignment is a plain CASE comparison."""
    # two consumers (cutoff agg + bucket projection): checkpoint the
    # slim per-doc scores so the scoring chain runs once (the family's
    # lineage-cut discipline)
    scores = perplexity_score(
        docs, lm, oov_logp, id_col=id_col, text_col=text_col,
    ).localCheckpoint()
    lo_p, hi_p = probs
    row = scores.agg(
        F.percentile("ppl", F.lit(lo_p)).alias("lo"),
        F.percentile("ppl", F.lit(hi_p)).alias("hi"),
    ).collect()[0]  # bounded: two scalars
    lo, hi = float(row["lo"]), float(row["hi"])
    bucket = (
        F.when(F.col("ppl") <= lo, F.lit("head"))
        .when(F.col("ppl") <= hi, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scores.withColumn("bucket", bucket)
