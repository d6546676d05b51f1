"""Intra-document repetition stats + benchmark decontamination.

Training-corpus quality gates from the public literature that the
token/quality family (functions/text.py) doesn't cover:

- ``ngram_repetition_stats``: the Gopher repetition filters (Rae et
  al. 2021, "Scaling Language Models", App. A1.1) adapted to word
  n-grams — fraction of characters covered by the most frequent
  n-gram (``top{n}_frac``) and by n-grams occurring >= 2 times
  (``dup{n}_frac``). Docs whose top2_frac/dup5_frac exceed a
  threshold are boilerplate/spam-like and get dropped before
  training.
- ``contamination_hits``: benchmark decontamination by exact n-gram
  collision (the GPT-3 appendix-C / Llama style check): a corpus doc
  is contaminated when it shares at least one word n-gram with any
  doc of the evaluation set. The eval side is benchmark-sized ->
  broadcast; the corpus side never self-joins.

Scale shape: everything is explode -> hash-partitioned aggregation
with map-side combine; per-doc gram lists are built with a staged
``transform`` over a bound token-array attribute (O(len x n) per row,
never re-evaluated — see the staging rule in functions/similarity.py).
Fractions divide exact integer character counts once at the end and
round to 6dp, so the DuckDB oracle (oracle/portable_sql.py) reproduces
them bit-for-bit — no float summation-order drift.

Production dials (documented, not defaulted here): dup-gram n of
5..10 and a 13-gram contamination window are the published configs;
the fixture-scale driver queries use smaller n so the synthetic corpus
has signal. For Spark-only pipelines, joining contamination on
``xxhash64(gram)`` instead of the gram string halves the shuffle
width (collision-safe at 64 bits for any real corpus).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .text import explode_rows


def word_ngrams(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams from a BOUND token-array
    attribute (callers must stage ``split(text, ' ')`` as a real
    column first — a non-attribute input under the interpreted
    ``transform`` would be re-evaluated per element). Empty array when
    the doc has fewer than ``n`` tokens. Stage the result as a column
    too and explode it with ``text.explode_rows``: a plain explode
    infers a ``size(...) > 0`` filter that Catalyst pushes below the
    stages with this transform inlined into it."""
    if n <= 1:
        return toks
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_repetition_stats(
    docs: DataFrame,
    top_ns: Sequence[int] = (2, 3),
    dup_ns: Sequence[int] = (5,),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc repetition profile.

    Output: (id, total_chars, then per n in ``top_ns`` a
    ``top{n}_frac``, per n in ``dup_ns`` a ``dup{n}_frac`` +
    ``dup{n}_grams``).

    - top{n}_frac  = max over n-grams of count*len(gram) / len(text)
      — the character share the single most repeated n-gram would
      cover (0 when the doc has < n tokens).
    - dup{n}_frac  = sum over n-grams with count >= 2 of
      count*len(gram) / len(text); dup{n}_grams = how many distinct
      n-grams repeat. Overlapping occurrences are counted per
      occurrence (the Gopher convention), so the frac can exceed 1
      for degenerate inputs — that is signal, not a bug.

    Plan: ONE pass whatever the n set — every n's grams are tagged
    structs in a single staged array, so the corpus is scanned once
    and one explode feeds one (id, n, gram) count, one (id, n)
    max/sum (both with map-side combine), and a pivot back to
    per-n columns joined to the doc spine. No self-joins, no
    windows; shuffle keys are (id, n, gram) then id."""
    ns = sorted(set(top_ns) | set(dup_ns))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.col(text_col)).cast("long").alias("total_chars"),
        F.split(F.col(text_col), " ").alias("toks"),
    )
    if len(ns) == 1 and not dup_ns:
        # single-n, top-frac-only fast path (the curation funnel's
        # gate shape): the n-tagging structs and the pivot exist to
        # fold SEVERAL n values into one pass — for one n they are
        # pure overhead (an extra Exchange + pivot aggregation).
        # Identical values: same (doc, gram) counts, same max of
        # cnt*len(gram), same 6dp rounding and same empty-doc/no-gram
        # coalesce — oracle-checked.
        n = ns[0]
        staged1 = base.withColumn("gs", word_ngrams(F.col("toks"), n))
        counted1 = (
            explode_rows(staged1, "gs", "gram", "doc_id")
            .groupBy("doc_id", "gram")
            .agg(F.count("*").alias("cnt"))
        )
        top1 = counted1.groupBy("doc_id").agg(
            F.max(F.col("cnt") * F.length(F.col("gram")))
            .alias("top_chars")
        )
        out1 = base.select("doc_id", "total_chars").join(
            top1, "doc_id", "left"
        )
        frac1 = F.when(F.col("total_chars") == 0, F.lit(0.0)).otherwise(
            F.round(
                F.coalesce(F.col("top_chars"), F.lit(0))
                / F.col("total_chars"),
                6,
            )
        )
        return out1.select(
            "doc_id", "total_chars", frac1.alias(f"top{n}_frac")
        )
    def _tagger(n_val):
        # NOT a default-arg lambda: pyspark reads lambda ARITY to
        # decide whether to pass (element) or (element, index) — a
        # two-parameter lambda would receive the array index as n_val
        return lambda g: F.struct(
            F.lit(n_val).alias("n"), g.alias("gram")
        )

    tagged_arrays = [
        F.transform(word_ngrams(F.col("toks"), n), _tagger(n))
        for n in ns
    ]
    # stage the combined array as a real column: an explode above an
    # unstaged expression would re-evaluate it per element. Explode it
    # with explode_rows: F.explode's inferred size(gs) > 0 filter is
    # pushed below this projection with the transforms inlined
    staged = base.withColumn("gs", F.flatten(F.array(*tagged_arrays)))
    ex = explode_rows(staged, "gs", "g", "doc_id").select(
        "doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram")
    )
    counted = ex.groupBy("doc_id", "n", "gram").agg(
        F.count("*").alias("cnt")
    )
    w = F.col("cnt") * F.length(F.col("gram"))
    agg = counted.groupBy("doc_id", "n").agg(
        F.max(w).alias("top_chars"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") >= 2, w)), F.lit(0)
        ).alias("dup_chars"),
        F.count(F.when(F.col("cnt") >= 2, True)).alias("dup_grams"),
    )
    pivoted = agg.groupBy("doc_id").pivot("n", ns).agg(
        F.first("top_chars").alias("top_chars"),
        F.first("dup_chars").alias("dup_chars"),
        F.first("dup_grams").alias("dup_grams"),
    )
    out = base.select("doc_id", "total_chars").join(
        pivoted, "doc_id", "left"
    )

    def _frac(chars_col):
        # empty doc -> 0.0, not an ANSI divide-by-zero
        return F.when(F.col("total_chars") == 0, F.lit(0.0)).otherwise(
            F.round(
                F.coalesce(chars_col, F.lit(0)) / F.col("total_chars"), 6
            )
        )

    sel = [F.col("doc_id"), F.col("total_chars")]
    for n in ns:
        if n in top_ns:
            sel.append(
                _frac(F.col(f"{n}_top_chars")).alias(f"top{n}_frac")
            )
        if n in dup_ns:
            sel.append(
                _frac(F.col(f"{n}_dup_chars")).alias(f"dup{n}_frac")
            )
            sel.append(
                F.coalesce(F.col(f"{n}_dup_grams"), F.lit(0)).alias(
                    f"dup{n}_grams"
                )
            )
    return out.select(*sel)


def corpus_token_stats(
    docs: DataFrame,
    rare_df_max: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc lexical stats against a CORPUS-LEVEL document-frequency
    model — the two-pass pattern every corpus-calibrated quality gate
    uses (a per-doc heuristic can't know which tokens are unusual for
    the corpus).

    Output: (doc_id, n_tokens, n_types, ttr, n_rare_tokens,
    rare_ratio) where ttr is the type-token ratio (distinct/total, a
    classic gibberish-vs-template signal) and rare_ratio is the share
    of token OCCURRENCES whose corpus document frequency is <=
    ``rare_df_max`` (high -> OCR noise / codes / misspellings; the
    threshold is corpus-calibrated — small fixtures need a higher
    value than a web corpus's 2).

    Plan: one explode -> per-(doc, token) tf; the DF model is ONE more
    aggregation over that (count of docs per token — no second scan);
    model and docs meet in a shuffle equi-join keyed by token. The
    model is NOT broadcast on purpose: at corpus scale the rare tail
    IS most of the vocabulary, far beyond broadcast size. Ratios are
    exact-integer divisions rounded to 6dp — oracle-identical."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
    )
    tf = (
        explode_rows(base, "toks", "tok", "doc_id")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    joined = tf.join(dfreq, "tok")
    agg = joined.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.coalesce(
            F.sum(F.when(F.col("df") <= rare_df_max, F.col("tf"))),
            F.lit(0),
        ).alias("n_rare_tokens"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
        "n_rare_tokens",
        F.round(F.col("n_rare_tokens") / F.col("n_tokens"), 6).alias(
            "rare_ratio"
        ),
    )


def contamination_hits(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "doc_id",
) -> DataFrame:
    """Corpus docs sharing at least one word n-gram with the eval set.

    Output: (doc_id, hit_grams, doc_grams, hit_frac, min_eval_id) —
    only contaminated docs appear; ``hit_frac`` (distinct shared grams
    / distinct doc grams) is the threshold dial, ``min_eval_id`` names
    one offending benchmark doc for triage.

    Plan: both sides reduce to DISTINCT (id, gram); the eval side is
    benchmark-sized and broadcast. The corpus gram set is scanned
    EXACTLY ONCE — a left broadcast join tags each corpus gram with
    its match, and one aggregation produces hit and total counts
    together (a separate totals pass would recompute the whole
    explode+distinct lineage). The only shuffles are the corpus
    distinct and the per-doc count, keyed by (id, gram) then id."""

    def gram_set(df: DataFrame, idc: str, out_id: str) -> DataFrame:
        base = df.select(
            F.col(idc).alias(out_id),
            F.split(F.col(text_col), " ").alias("toks"),
        ).withColumn("g", word_ngrams(F.col("toks"), n))
        return explode_rows(base, "g", "gram", out_id).distinct()

    dg = gram_set(docs, id_col, "doc_id")
    eg = gram_set(eval_docs, eval_id_col, "eval_id")
    tagged = dg.join(F.broadcast(eg), "gram", "left")
    # a gram shared with SEVERAL eval docs fans out in the left join —
    # collapse the fan-out per (doc, gram) first, then count GROUPS.
    # Equal to the old count_distinct pair because dg is distinct per
    # (doc, gram) already, but avoids the two-distinct-aggregate
    # rewrite (Expand doubling every joined row + an extra Exchange:
    # plan went 3 Exchanges + Expand -> 2 Exchanges, and the (doc,
    # gram) re-aggregation reuses the distinct's own partitioning).
    per_gram = tagged.groupBy("doc_id", "gram").agg(
        F.max(F.col("eval_id").isNotNull()).alias("__hit"),
        F.min("eval_id").alias("__min_eval"),
    )
    agg = per_gram.groupBy("doc_id").agg(
        F.count(F.when(F.col("__hit"), True)).alias("hit_grams"),
        F.count("*").alias("doc_grams"),
        F.min("__min_eval").alias("min_eval_id"),
    )
    return agg.filter(F.col("hit_grams") > 0).select(
        "doc_id",
        "hit_grams",
        "doc_grams",
        F.round(F.col("hit_grams") / F.col("doc_grams"), 6).alias(
            "hit_frac"
        ),
        "min_eval_id",
    )


def tfidf_topk(docs: DataFrame, k: int = 5, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-document top-k keywords by TF-IDF (smooth log idf:
    ln((1 + N) / (1 + df)) + 1): (doc_id, term, tfidf, rank) with
    rank 1 = highest, ties by term asc after the 6dp round.

    Scale shape: terms from one explode of the whitespace split; TF is
    one hash aggregation on (doc, term); DF is a second aggregation of
    the already-distinct TF rows; the TF x DF join shuffles on term —
    NOT broadcast, the term vocabulary of a web corpus is large (same
    stance as corpus_token_stats' model join); the final top-k is one
    doc-keyed window. N (corpus size) is a bounded scalar collect,
    the same metadata stance as the IVF centroid collects."""
    from pyspark.sql import Window

    n_docs = docs.count()
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = (
        F.log((F.lit(1.0) + F.lit(float(n_docs)))
              / (F.lit(1.0) + F.col("df")))
        + F.lit(1.0)
    )
    scored = tf.join(dfreq, "term").select(
        "doc_id", "term",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def corpus_length_quantiles(
    docs: DataFrame,
    probs: Sequence[float] = (0.25, 0.5, 0.75, 0.9),
    stratum_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum length quantiles of character and whitespace-token
    counts, plus the stratum count — the distribution summary a
    curation run reports per language to choose chunking/packing
    dials. Output columns are scalar (p50_chars, ... — the driver
    canonicalizer rejects arrays).

    Quantiles are EXACT and interpolated (R-7, the convention Spark
    `percentile` and DuckDB `quantile_cont` share). Exact percentile
    materializes each group's values — right for per-language
    reporting (bounded strata)."""
    t = F.trim(F.col(text_col))
    n_tokens = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )
    base = docs.select(
        F.col(stratum_col).alias("stratum"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
    )
    aggs = [F.count("*").alias("n_docs")]
    for p in probs:
        tag = f"p{int(round(p * 100))}"
        for col in ("n_chars", "n_tokens"):
            suffix = col.split("_")[1]
            q = F.percentile(col, F.lit(float(p)))
            aggs.append(F.round(q, 4).alias(f"{tag}_{suffix}"))
    return base.groupBy("stratum").agg(*aggs)
