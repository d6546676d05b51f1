"""The curation funnel — one shared implementation for the driver
queries (q_curation_funnel / q_curation_funnel_v2, hash-verified
against the DuckDB mirrors in __spark_entry__._curation_funnel_sql)
and the `cli curate` command. Stage order and expressions are the
oracle contract: any change here must be mirrored in the SQL.

Stages: (1) quality + language gate, (2) exact-dedup canonicalization
(md5 of whitespace-normalized lowercased text, min id wins — the
portable analogue of the xxhash64 production key), (2b, optional)
NEAR-dup canonicalization — minhash-LSH pairs over the survivors,
connected components, keep the highest-quality copy per cluster —
(3) repetition gate on the top-2-gram char share, (4)
language-balanced quota sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.graph import cluster_representatives
from . import text as X
from .dedup import minhash_lsh_pairs
from .repetition import ngram_repetition_stats
from .sampling import quota_sample


def curation_funnel_stages(
    docs: DataFrame,
    min_quality: float = 0.5,
    max_top2_frac: float = 0.12,
    near_dup: bool = False,
    nd_threshold: float = 0.2,
    bucket_cap: int | None = None,
) -> dict:
    """The funnel's intermediate stages, keyed gated -> survivors ->
    [nd_kept ->] final (each a DataFrame with the original doc
    columns).

    ``near_dup=True`` inserts stage 2b: near-duplicate
    canonicalization between the exact-dedup canon and the repetition
    gate — the ordering real pipelines use (exact dedup first shrinks
    the near-dup candidate set; repetition gating after dedup avoids
    scoring doomed copies). Pairs come from minhash-LSH (the
    scale-safe blocked path, with the one hash family the green
    minhash_lsh_pairs oracle re-derives), components from distributed
    min-label propagation, and the kept copy is the HIGHEST-QUALITY
    cluster member (ties -> smallest id) via cluster_representatives
    — near-dup copies differ in noise/truncation and the funnel wants
    the best one, not an arbitrary one. ``bucket_cap`` forwards the
    saturated-LSH-bucket dial (pathological duplicate mass caps each
    band bucket's pair fan-out while the capped pairs still chain the
    cluster for components): None, the exact all-pairs contract, for
    the oracle-checked queries; 8 for the CLI."""
    from pyspark.sql import Window

    t = F.col("text")
    quality = F.round(X.quality_score(t), 4)
    # the gate (quality_score + is_english, the regex-heavy full-
    # corpus scan) has exactly ONE consumer in the chain below (the
    # canonicalization window), so it needs no materialization of its
    # own; stages["gated"] stays exposed as the plain filtered plan
    # (a caller counting it re-runs the gate once — the cli's
    # reporting path — which is cheaper than an always-paid eager
    # checkpoint job in the funnel itself).
    gated = docs.filter((quality >= min_quality) & X.is_english(t))
    norm = X.norm_ws_lower(F.col("text"))
    # exact-dedup canonicalization as ONE fp-keyed window instead of
    # the groupBy(fp).min + semi-join-back pair (round 7): min id per
    # fingerprint group is the same survivor set, but the window form
    # runs the gate scan once and shuffles once, where the agg+semi
    # form re-ran the gate on both join sides (or cost an extra
    # checkpoint job to avoid that). Values oracle-identical.
    fp = F.md5(F.encode(norm, "UTF-8"))
    survivors = (
        gated.withColumn(
            "__canon_id", F.min("doc_id").over(Window.partitionBy(fp))
        )
        .filter(F.col("doc_id") == F.col("__canon_id"))
        .drop("__canon_id")
    )
    # the survivor set feeds EVERY later stage — the LSH sketch, the
    # member/score extraction, the anti-join, the repetition gate AND
    # the final semi-join all contain it as a subplan, so without a
    # materialization the regex-heavy gate (quality_score +
    # is_english) plus the md5 canon shuffle re-run once per branch
    # (~5x in the near-dup form). Stage outputs are exactly what
    # production funnels persist between stages; localCheckpoint is
    # that stage boundary at this scale (at warehouse scale the same
    # line becomes persist(DISK_ONLY) or a stage parquet — values are
    # identical either way, so the oracle contract is untouched).
    survivors = survivors.localCheckpoint()
    stages = {"gated": gated, "survivors": survivors}
    if near_dup:
        # the pair list is consumed by three downstream plans (member
        # extraction, component edges both directions, and nothing is
        # cached by default) — materialize it once; near-dup pairs
        # are a sliver of the corpus, so the checkpoint is bounded
        pairs = minhash_lsh_pairs(
            survivors, threshold=nd_threshold, bucket_cap=bucket_cap,
        ).select("id_a", "id_b").localCheckpoint()
        # components run ONLY over docs that appear in a pair: every
        # other survivor is trivially its own representative, so the
        # iterative label-propagation loop joins subgraph-sized label
        # tables (the few % of a corpus that near-dups), never the
        # full corpus — the kept set is provably identical, and the
        # SQL oracle's full-corpus closure agrees because singleton
        # closures are no-ops
        members = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        scored = (
            survivors.join(members, "doc_id", "semi")
            .select("doc_id", quality.alias("__q"))
        )
        # the drop list is an id-only sliver (non-representative
        # near-dup copies) but its lineage is the whole
        # components-loop + cluster window; the post-ND survivor set
        # appears in BOTH remaining branches (repetition gate + final
        # semi-join), so cut it here or the component labeling runs
        # twice inside the one final action
        drop = (
            cluster_representatives(scored, pairs, score_col="__q")
            .filter(~F.col("is_representative"))
            .select("doc_id")
            .localCheckpoint()
        )
        survivors = survivors.join(drop, "doc_id", "anti")
        stages["nd_kept"] = survivors
    calm = (
        ngram_repetition_stats(survivors, top_ns=(2,), dup_ns=())
        .filter(F.col("top2_frac") <= max_top2_frac)
        .select("doc_id")
    )
    final = survivors.join(calm, "doc_id", "semi")
    stages["final"] = final
    return stages


def curation_funnel(
    docs: DataFrame,
    min_quality: float = 0.5,
    max_top2_frac: float = 0.12,
    per_lang: int = 10,
    near_dup: bool = False,
    nd_threshold: float = 0.2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Selected training subset with per-language sample_rank."""
    stages = curation_funnel_stages(
        docs, min_quality, max_top2_frac,
        near_dup=near_dup, nd_threshold=nd_threshold,
        bucket_cap=bucket_cap,
    )
    return quota_sample(stages["final"], k=per_lang, stratum_col="lang")
