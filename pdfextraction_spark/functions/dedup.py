"""Deduplication operators for training-data pipelines.

All built from DataFrame primitives so Catalyst keeps pushdown/pruning:

- exact_dedup: hash-groupBy canonicalization (one shuffle on a 64-bit
  fingerprint, never on raw text — at 100 TB the shuffle key must be
  fixed-width)
- ngram_jaccard_pairs: word n-gram shingles -> explode -> equi-join on
  shingle -> per-pair intersection counts -> Jaccard (candidate pairs
  share >=1 shingle, so the join IS the blocking step)
- minhash_lsh_pairs: k affine permutations of one md5 base hash per
  shingle, min-aggregated per doc; bands of r signature values joined
  into bucket keys; bucket equi-join yields candidates, verified by
  exact Jaccard
- simhash_portable60: 60-bit sign-sum sketch over md5 shingle hashes;
  near-dups = pairs within Hamming distance d (bit_count(xor) <= d)

At cluster scale every join here is an equi-join on a hashed key (AQE
handles bucket skew from hot shingles); common-shingle stoplists drop
the head of the frequency distribution before the join.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, functions as F

from .text import explode_rows, norm_ws_lower, winnowed

# --------------------------------------------------------------------------
# hash families
#
# The sketches here have one hash family, md5: bit-identical on ANY
# engine with md5(), so the DuckDB oracle recomputes the ENTIRE
# sketch + blocking + verify pipeline in SQL and lands on the same
# rows/hashes, which a Spark-private hash cannot give it. MinHash pays
# ONE md5 per shingle: its base hash h = md5_prefix60 mod p
# (p = 2^31 - 1) feeds the affine permutations (a_i*h + b_i) mod p of
# universal-hash MinHash (Broder 1997) — integer arithmetic both
# engines compute exactly, near xxhash64 speed (one md5 per
# permutation was ~10x slower). xxhash64 remains only as an in-engine
# shuffle key whose values no oracle recomputes (exact_dedup, the
# ngram_jaccard shingle ids).

MINHASH_PRIME = 2147483647  # 2^31 - 1
# (a_i, b_i) of permutation i, a_i in [1, p-1], b_i in [0, p-1]: fixed
# md5 draws, inlined as literals by the Spark aggregation and the
# DuckDB oracle alike. a_i*h + b_i < 2^62 + 2^31 never overflows int64.
MINHASH_COEFFS = tuple(
    (int(hashlib.md5(f"a{i}".encode()).hexdigest(), 16)
     % (MINHASH_PRIME - 1) + 1,
     int(hashlib.md5(f"b{i}".encode()).hexdigest(), 16) % MINHASH_PRIME)
    for i in range(32)
)


def md5_prefix60(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5, as a long.
    60 bits keeps the value positive in both engines' signed int64
    (16 chars could set the sign bit). DuckDB mirror:
    ``list_sum([CAST(strpos('0123456789abcdef', substring(md5(s),j,1))
    - 1 AS BIGINT) << (4*(15-j)) for j in generate_series(1,15)])``."""
    return F.conv(
        F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10
    ).cast("long")


def with_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3) -> DataFrame:
    """(doc_id, shingles): DISTINCT word n-gram shingles of the
    lowercased whitespace-split text (docs shorter than n collapse to
    one whole-text shingle).

    The token array is STAGED as its own projection before the
    shingle transform: higher-order functions are interpreted, and an
    interpreted lambda re-evaluates non-attribute subexpressions per
    element — an inline split() would be recomputed for every shingle
    (O(words^2) per doc; measured 3.5x even on 300-char docs).
    Referencing the staged attribute keeps it O(words).

    Explode ``shingles`` with ``text.explode_rows``, not ``F.explode``
    or a ``size(shingles) > 0`` filter: Catalyst pushes either
    emptiness test below this staging and re-inlines the whole chain,
    split() included, into it (see ``explode_rows``). A table that
    was ``localCheckpoint``ed first is safe to explode directly."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    staged = df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    t = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    sh = F.when(F.size(t) < n, F.array(F.array_join(t, " "))).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, n), " "))
    )
    return staged.select("doc_id", F.array_distinct(sh).alias("shingles"))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Canonical row per identical (whitespace-normalized) text:
    min id wins; dup_count reported.

    The shuffle key is ``xxhash64(norm_text)`` — a fixed-width long —
    so raw document text never crosses the wire (at 100 TB the groupBy
    exchange would otherwise ship the whole corpus). Collision policy:
    xxhash64 collisions conflate two distinct texts into one group
    (P ~ n^2 / 2^65; ~3e-9 at 10^9 docs). Where that is unacceptable,
    add a second independent seed column to the key."""
    norm = norm_ws_lower(F.col(text_col))
    return (
        df.select(F.col(id_col).alias("doc_id"), norm.alias("norm_text"))
        .groupBy(F.xxhash64("norm_text").alias("fp"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
        .select("canonical_id", "dup_count")
    )


def _hot_shingle_hashes(ex_hashed: DataFrame, max_df: int) -> DataFrame:
    """THE stoplist definition (single home for the threshold
    semantics): the hashes in ``ex_hashed`` (one row per (doc,
    shingle) occurrence, column ``h``) whose document frequency
    exceeds ``max_df``. Hash-keyed throughout — the df-count shuffles
    fixed-width longs, never shingle strings. One column ``h``;
    globally small by construction (the tail can't exceed
    corpus_shingles / max_df entries), so it broadcasts."""
    return (
        ex_hashed.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("h")
    )


def hot_shingles(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n: int = 3,
                 max_df: int = 1000) -> DataFrame:
    """Diagnostic view of the stoplist: the actual shingle STRINGS
    whose document frequency exceeds ``max_df`` (boilerplate headers,
    license blurbs, templated sentences). Shingles the corpus ONCE,
    derives the threshold set from the shared hashed definition
    (_hot_shingle_hashes); one column ``sh``."""
    sh = with_shingles(df, text_col, id_col, n)
    ex = explode_rows(sh, "shingles", "sh").withColumn(
        "h", F.xxhash64("sh")
    )
    hot = _hot_shingle_hashes(ex.select("h"), max_df)
    return (
        ex.join(F.broadcast(hot), "h", "semi").select("sh").distinct()
    )


def ngram_jaccard_join(left: DataFrame, right: DataFrame,
                       threshold: float = 0.6, n: int = 3,
                       max_shingle_df: int = 1000,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """ASYMMETRIC near-dup join — the incremental-dedup primitive:
    (left_id, right_id, jaccard >= threshold) across two corpora,
    with NEITHER side self-joined. This is how a new crawl batch is
    deduplicated against the existing corpus: candidates come from one
    equi-join of the two sides' cold-shingle occurrence lists, so cost
    is O(cross-corpus collisions), never O(|new|^2) or O(|corpus|^2).

    Same stoplist/exactness contract as ngram_jaccard_pairs: the hot
    set (document frequency > max_shingle_df, computed over the UNION
    of both sides — a shingle hot in the reference corpus must not
    explode candidates from the new batch either) is excluded from
    candidate generation only; the reported Jaccard adds
    |hot_l ∩ hot_r| back from per-doc hot arrays and stays exact.
    Shuffle keys are xxhash64 longs throughout (same collision policy
    as exact_dedup)."""

    def side(df: DataFrame, out_id: str):
        # per-side shingle table: consumed by the df-count union, the
        # cold join, the hot arrays and the size join — one cut per
        # side (the ngram_jaccard_pairs materialization stance)
        sh = with_shingles(df, text_col, id_col, n).localCheckpoint()
        sizes = sh.select(
            F.col("doc_id").alias(out_id), F.size("shingles").alias("n_sh")
        )
        ex = sh.select(
            F.col("doc_id").alias(out_id), F.explode("shingles").alias("sh")
        ).select(out_id, F.xxhash64("sh").alias("h"))
        return sizes, ex

    sizes_l, ex_l = side(left, "left_id")
    sizes_r, ex_r = side(right, "right_id")
    hot = _hot_shingle_hashes(
        ex_l.select("h").unionAll(ex_r.select("h")), max_shingle_df
    )
    cold_l = ex_l.join(F.broadcast(hot), "h", "left_anti")
    cold_r = ex_r.join(F.broadcast(hot), "h", "left_anti")
    inter = (
        cold_l.join(cold_r, "h")
        .groupBy("left_id", "right_id")
        .agg(F.count("*").alias("n_cold"))
    )

    def hot_sets(ex: DataFrame, out_id: str, out_col: str):
        return (
            ex.join(F.broadcast(hot), "h", "semi")
            .groupBy(out_id)
            .agg(F.collect_list("h").alias(out_col))
        )

    empty = F.array().cast("array<bigint>")
    n_inter = F.col("n_cold") + F.size(
        F.array_intersect(
            F.coalesce("hot_l", empty), F.coalesce("hot_r", empty)
        )
    )
    return (
        inter.join(sizes_l, "left_id")
        .join(sizes_r.withColumnRenamed("n_sh", "n_sh_r"), "right_id")
        .join(hot_sets(ex_l, "left_id", "hot_l"), "left_id", "left")
        .join(hot_sets(ex_r, "right_id", "hot_r"), "right_id", "left")
        .withColumn(
            "jaccard",
            F.round(n_inter / (F.col("n_sh") + F.col("n_sh_r") - n_inter), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.6,
                        max_shingle_df: int = 1000) -> DataFrame:
    """Pairs (a<b) with word-n-gram Jaccard >= threshold.

    Blocking: candidates must share >= 1 COLD shingle (document
    frequency <= max_shingle_df). A hot shingle shared by k documents
    would otherwise emit k^2/2 join rows — one boilerplate sentence in
    1% of a 10^9-doc corpus makes the self-join quadratic. The hot set
    is tiny by construction, so it rides a broadcast anti-join.

    The REPORTED Jaccard stays exact: per-pair intersection counts add
    |hot_a ∩ hot_b| back from per-doc hot-shingle arrays, so filtering
    only affects candidate GENERATION. Recall bound: a pair sharing
    ONLY hot shingles is never considered — with a sane max_df those
    pairs are boilerplate-dominated, not near-duplicates (same stance
    as the reference corpora-dedup literature).

    Shuffle keys are xxhash64(shingle) longs, never shingle strings —
    the df-count, blocking join and hot-set arrays all move fixed-width
    keys (collision policy: a 64-bit collision merges two shingles and
    can inflate one intersection count by 1; P ~ s^2/2^65 corpus-wide,
    same stance as exact_dedup)."""
    # the shingle table is a subplan of FIVE downstream branches (the
    # df-count, the cold occurrences, the hot arrays, and both size
    # sides of the final join) — without a cut the regex shingling of
    # the whole corpus re-runs per branch. Materialize it once: the
    # same persisted-shingle-index artifact every production dedup
    # pipeline keeps (winnow_containment_pairs' fps table stance; at
    # warehouse scale the same line is persist(DISK_ONLY) or a stage
    # parquet — values identical, oracle contract untouched).
    sh = with_shingles(df, text_col, id_col, n).localCheckpoint()
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    ex = sh.select(
        "doc_id", F.explode("shingles").alias("sh")
    ).select("doc_id", F.xxhash64("sh").alias("h"))
    hot = _hot_shingle_hashes(ex.select("h"), max_shingle_df)
    cold = ex.join(F.broadcast(hot), "h", "left_anti")
    # per-doc hot-shingle arrays: bounded by |hot set|, usually empty
    hot_sets = (
        ex.join(F.broadcast(hot), "h", "semi")
        .groupBy("doc_id")
        .agg(F.collect_list("h").alias("hot_sh"))
    )
    # posting-list pair enumeration: ONE shuffle groups cold
    # occurrences per shingle; candidate pairs come from nested array
    # transforms over the (stoplist-bounded, <= max_shingle_df-long)
    # posting list — JVM codegen, no self-join double shuffle. Per-row
    # memory is O(df^2) structs, which is exactly what the stoplist
    # threshold caps (keep max_shingle_df <= ~10k).
    posts = (
        cold.groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    docs = F.col("docs")
    pair_structs = F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        posts.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_cold"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    ha = hot_sets.select(F.col("doc_id").alias("id_a"), F.col("hot_sh").alias("hot_a"))
    hb = hot_sets.select(F.col("doc_id").alias("id_b"), F.col("hot_sh").alias("hot_b"))
    empty = F.array().cast("array<bigint>")
    n_inter = F.col("n_cold") + F.size(
        F.array_intersect(
            F.coalesce("hot_a", empty), F.coalesce("hot_b", empty)
        )
    )
    # candidate side is small after blocking; sizes/hot_sets are
    # corpus-sized, so these stay shuffle equi-joins (AQE broadcasts
    # the candidate side when it fits — never force-broadcast a
    # corpus-sized table)
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .join(ha, "id_a", "left")
        .join(hb, "id_b", "left")
        .withColumn(
            "jaccard",
            F.round(n_inter / (F.col("n_a") + F.col("n_b") - n_inter), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 32,
                       shingles: DataFrame | None = None) -> DataFrame:
    """num_hashes (<= len(MINHASH_COEFFS)) minhash longs per doc:
    h_i = min over shingles of (a_i*h + b_i) mod p, where h is the
    shingle's md5_prefix60 mod p and (a_i, b_i) = MINHASH_COEFFS[i].
    The identical signature is computable in plain SQL, so the DuckDB
    oracle re-derives it end to end.

    ``shingles`` short-circuits the shingling step with a caller-built
    (doc_id, shingles) table — the LSH operators shingle the corpus
    ONCE, materialize it, and share it between the signature
    aggregation and the exact-Jaccard verify join."""
    sh = shingles if shingles is not None else with_shingles(
        df, text_col, id_col, n
    )
    # explode once, then num_hashes columnar min-aggregations (partial
    # agg map-side) — far cheaper than evaluating num_hashes array
    # transforms per row
    ex = explode_rows(sh, "shingles", "s", "doc_id").select(
        "doc_id", F.pmod(md5_prefix60(F.col("s")), F.lit(MINHASH_PRIME))
        .alias("h")
    )
    # each min-hash aggregate is ONE parsed SQL expression: the
    # Column-by-Column construction cost ~6 py4j round trips per
    # permutation (~0.2-0.4 s of pure driver time per query at
    # num_hashes=32)
    def perm_min(i: int) -> Column:
        a, b = MINHASH_COEFFS[i]
        return F.expr(f"min(pmod({a} * h + {b}, {MINHASH_PRIME}))")

    agg = ex.groupBy("doc_id").agg(
        *[perm_min(i).alias(f"h{i}") for i in range(num_hashes)]
    )
    sig = F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
    return agg.select("doc_id", sig.alias("signature"))


def _band_bucket_rows(sigs: DataFrame, bands: int, r: int) -> DataFrame:
    """(doc_id, band, bucket) rows from minhash signatures: each band's
    bucket key is its r consecutive signature values as comma-joined
    decimals (the DuckDB oracle builds the same string with
    string_agg)."""

    def band_key(bi: int):
        return F.array_join(
            F.slice("signature", bi * r + 1, r).cast("array<string>"), ","
        )

    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        band_key(bi).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_join(left: DataFrame, right: DataFrame,
                     threshold: float = 0.5, n: int = 3,
                     num_hashes: int = 32, bands: int = 8,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """LSH-blocked ASYMMETRIC near-dup join — the scale path of
    ngram_jaccard_join when BOTH sides are large: candidates must
    collide in a minhash band across sides (cross-side bucket
    equi-join, no side self-joins), then exact cross-side Jaccard
    verifies. Same s-curve recall as minhash_lsh_pairs; every emitted
    pair is exact (verify-before-emit)."""
    r = num_hashes // bands
    # each side shingles ONCE: the table feeds both that side's
    # signature aggregation and its exact-verify join below — for the
    # incremental path the corpus side is the expensive one and this
    # halves its shingling cost per batch
    sh_l = with_shingles(left, text_col, id_col, n).localCheckpoint()
    sh_r = with_shingles(right, text_col, id_col, n).localCheckpoint()
    bl = _band_bucket_rows(
        minhash_signatures(left, text_col, id_col, n, num_hashes,
                           shingles=sh_l), bands, r
    ).withColumnRenamed("doc_id", "left_id")
    br = _band_bucket_rows(
        minhash_signatures(right, text_col, id_col, n, num_hashes,
                           shingles=sh_r), bands, r
    ).withColumnRenamed("doc_id", "right_id")
    cand = (
        bl.join(br, ["band", "bucket"])
        .select("left_id", "right_id")
        .distinct()
    )
    sa = sh_l.select(
        F.col("doc_id").alias("left_id"), F.col("shingles").alias("sh_a")
    )
    sb = sh_r.select(
        F.col("doc_id").alias("right_id"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(sa, "left_id")
        .join(sb, "right_id")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5,
                      bucket_cap: int | None = None) -> DataFrame:
    """LSH candidate pairs (banding) verified by exact shingle Jaccard.

    bands of r = num_hashes/bands rows; a pair colliding in ANY band is
    a candidate (s-curve threshold ~ (1/bands)^(1/r)). Signatures and
    band keys are the one family the DuckDB oracle re-derives, so the
    whole candidate set is reproducible there.

    ``bucket_cap`` is the SATURATED-BUCKET dial for the crawl-mirror
    failure mode: a near-identical cluster holding x% of the corpus
    puts all its members in the SAME bucket of every band, so the
    bucket self-join — and the true pair output itself — is
    quadratic in the cluster size; no all-pairs formulation can stay
    linear because the answer isn't. With ``bucket_cap=c``, one side
    of each bucket's join is a deterministic hash-sample of ~c
    representatives (rows where xxhash64(doc_id) falls in the
    1/ceil(size/c) slice — no per-bucket sort, so a giant bucket
    never serializes onto one task, and the doc_id-keyed sample keeps
    the SAME reps across bands so the multi-band union stays capped),
    giving ~c x size pairs per bucket instead of size^2. Emitted pairs still pass exact-Jaccard
    verification (precision unchanged); PAIR recall in saturated
    buckets becomes partial BY DESIGN, while cluster CONNECTIVITY is
    preserved: every bucket member joins against every sampled rep
    (orientation by least/greatest id, so members below the smallest
    rep keep their edges), and reps miss entirely with probability
    ~e^-c (use c >= 8). Default None keeps the exact all-pairs
    contract (the driver-oracle path); the CLI's near-dup stage,
    which has no all-pairs contract, passes 8."""
    r = num_hashes // bands
    # shingle ONCE, share between the signature aggregation and the
    # exact-Jaccard verify join (sa/sb below) — otherwise the corpus
    # re-shingles per consumer (~4x per action with the self-join)
    sh = with_shingles(df, text_col, id_col, n).localCheckpoint()
    sigs = minhash_signatures(df, text_col, id_col, n, num_hashes,
                              shingles=sh)
    # the bucket rows are tiny (docs x bands fixed-width rows) but
    # their lineage is the whole num_hashes-column min aggregation;
    # both sides of the candidate self-join consume them, so cut here
    # or the signature agg runs twice
    bucket_rows = _band_bucket_rows(sigs, bands, r).localCheckpoint()
    if bucket_cap is not None:
        sizes = bucket_rows.groupBy("band", "bucket").agg(
            F.count("*").alias("__bsz")
        )
        # stride rounded UP to a power of two: rep sets are then
        # NESTED across buckets of different sizes (hash%16==0 is a
        # subset of hash%8==0), so a cluster split over buckets of
        # varying size still yields ONE small rep union instead of
        # the union of unrelated per-stride samples
        stride = F.pow(
            F.lit(2.0),
            F.ceil(F.log2(F.ceil(F.col("__bsz") / F.lit(bucket_cap)))),
        ).cast("long")
        reps = (
            bucket_rows.join(sizes, ["band", "bucket"])
            .filter(
                (F.col("__bsz") <= F.lit(bucket_cap))
                # sample keyed on doc_id ALONE: the same docs are reps
                # in every band, so the union of per-band pairs stays
                # ~cap x size — a per-(band,bucket) key would pick
                # DIFFERENT reps per band and the 16-band union would
                # rebuild all-pairs
                | (F.pmod(F.xxhash64("doc_id"), stride) == 0)
            )
            .drop("__bsz")
        )
        a = reps.alias("a")
        b = bucket_rows.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("id_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
            )
            .distinct()
        )
    else:
        a = bucket_rows.alias("a")
        b = bucket_rows.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct()
        )
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


SIMHASH_BITS = 60


def simhash_portable60(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """60-bit SimHash over md5_prefix60 shingle hashes — the sketch the
    DuckDB oracle recomputes bit-for-bit in SQL (60 bits = 15 md5 hex
    chars; keeps the value positive in signed int64 on every engine).
    Per bit, the sign of the sum over shingles of (+1 if the hash bit
    is set else -1): one explode + one grouped aggregation with 60
    map-side-combined SUM columns."""
    sh = with_shingles(df, text_col, id_col, n)
    ex = explode_rows(sh, "shingles", "s", "doc_id")
    h = ex.withColumn("h", md5_prefix60(F.col("s")))
    # bit tests/reconstruction via shifts — 1<<63 overflows a literal
    # long, so the reconstruction keeps shiftleft(1L, b). Both the 60+
    # per-bit sum columns and the reconstruction chain are parsed SQL
    # strings: built Column-by-Column they cost ~500 py4j round trips
    # (~0.9 s of pure driver time per sketch — measured); the parsed
    # trees are the same expressions, so sketches are bit-identical.
    bit_cols = [
        F.expr(
            f"sum(CASE WHEN (shiftrightunsigned(h, {b}) & 1) = 1 "
            f"THEN 1 ELSE -1 END)"
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = h.groupBy("doc_id").agg(*bit_cols)
    sim_terms = " + ".join(
        f"CASE WHEN b{b} > 0 THEN shiftleft(cast(1 as bigint), {b}) "
        f"ELSE cast(0 as bigint) END"
        for b in range(SIMHASH_BITS)
    )
    sim = F.expr(f"cast(0 as bigint) + {sim_terms}")
    return agg.select("doc_id", sim.alias("simhash"))


def _band_bounds(bits: int, bands: int):
    """Split ``bits`` positions into ``bands`` contiguous chunks whose
    widths differ by at most 1. Returns [(start, width), ...]."""
    base, extra = divmod(bits, bands)
    bounds = []
    start = 0
    for i in range(bands):
        width = base + (1 if i < extra else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded blocking
    (Manku et al., WWW'07 style), over the 60-bit md5 sketch
    (simhash_portable60) — the DuckDB oracle reproduces sketch,
    banding and verification exactly.

    The sketch bits split into max_hamming + 1 contiguous bands; a
    candidate pair must collide in at least one (band, chunk-value)
    bucket. Recall is GUARANTEED by pigeonhole: d differing bits can
    dirty at most d bands, leaving one identical band. Candidates are
    verified by exact bit_count(xor).

    d=3 gives 4 wide bands (the Manku WWW'07 config) — 15-bit bands
    give expected n/2^15 docs per bucket, web-corpus territory. Larger
    d is a cost dial: more bands -> narrower chunks -> bigger buckets
    (band width w ~> n/2^w docs each); d=12 forces 13 ~5-bit bands,
    which is 10^7-doc territory, not 10^9."""
    # the sketch is tiny (doc_id + one long) but its lineage is the
    # full shingle explode + 60-wide sum aggregation, and BOTH sides
    # of the banded self-join contain it — cut once, sketch once
    sh = simhash_portable60(df, text_col, id_col).localCheckpoint()

    def _band_key(start: int, width: int):
        shifted = F.shiftrightunsigned("simhash", start)
        if start + width >= SIMHASH_BITS:  # top band: shift truncates
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    bucket_rows = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        _band_key(start, width).alias("key"),
                    )
                    for bi, (start, width) in enumerate(
                        _band_bounds(SIMHASH_BITS, max_hamming + 1)
                    )
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    a, b = bucket_rows.alias("a"), bucket_rows.alias("b")
    # verify INSIDE the join output, before dedup: the Hamming filter
    # is a cheap codegen'd expression and kills the (overwhelmingly
    # far-pair) bucket collisions, so distinct() only sees survivors
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            "hamming",
        )
        .distinct()
    )


def winnow_containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 8,
    window: int = 4,
    max_fp_df: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ASYMMETRIC containment detection over winnowing fingerprints
    (Schleimer et al., SIGMOD 2003): containment(A in B) =
    |fp(A) ∩ fp(B)| / |fp(A)| — near 1 when A's content appears
    inside B. Jaccard-family near-dup ops MISS this case (a short doc
    quoted inside a much longer one has a tiny union ratio);
    containment is the quote/boilerplate-subset/plagiarism detector a
    curation pipeline runs alongside symmetric dedup.

    Output: (inner_id, outer_id, containment) ordered pairs with
    containment >= threshold — inner is the (partially) contained
    doc; both directions of a pair are reported when both clear the
    threshold (two near-identical docs contain each other).

    Scale shape: one fingerprint explode, one hash aggregation for
    per-fp document frequency, one fp-keyed equi-join for candidate
    pairs (the ngram_jaccard stoplist stance: fps with df >
    ``max_fp_df`` — shared boilerplate — are excluded from candidate
    GENERATION only, and the exact intersection is restored from
    bounded per-doc hot-fp arrays, so the reported containment stays
    exact for every surfaced pair). Fingerprints are the md5 family
    ``winnowed`` emits, which the DuckDB oracle re-derives."""
    base = winnowed(
        df.select(F.col(id_col).alias("doc_id"),
                  F.col(text_col).alias("text")),
        k=k, window=window, out_col="_fps",
    )
    # materialize the exploded fingerprint rows ONCE: six downstream
    # plans consume them (df-count agg, tagged probe, both sides of
    # the cold self-join, hot arrays, per-doc sizes) and the winnow
    # HOF chain is the expensive part — the same lineage-cut stance
    # as the funnel's pair list. The fingerprint table is the
    # standard persisted artifact of a winnowing index (~2/(w+1) of
    # corpus chars).
    fps = explode_rows(base, "_fps", "fp", "doc_id").localCheckpoint()
    fp_df = fps.groupBy("fp").agg(F.count("*").alias("fp_df"))
    tagged = fps.join(fp_df, "fp")
    cold = tagged.filter(F.col("fp_df") <= max_fp_df)
    hot = (
        tagged.filter(F.col("fp_df") > max_fp_df)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("fp")).alias("hot_fps"))
    )
    # fps is distinct per doc (winnowed dedups), so the row count IS
    # |fp(doc)| — derived from the checkpointed rows, not a second
    # pass over the winnow chain
    sizes = fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fps")
    )
    side_a = cold.select(F.col("doc_id").alias("inner_id"),
                         "fp")
    side_b = cold.select(F.col("doc_id").alias("outer_id"), "fp")
    shared = (
        side_a.join(side_b, "fp")
        .filter(F.col("inner_id") != F.col("outer_id"))
        .groupBy("inner_id", "outer_id")
        .agg(F.count("*").alias("shared_cold"))
    )
    empty = F.array().cast("array<string>")
    ha = hot.select(F.col("doc_id").alias("inner_id"),
                    F.col("hot_fps").alias("hot_a"))
    hb = hot.select(F.col("doc_id").alias("outer_id"),
                    F.col("hot_fps").alias("hot_b"))
    scored = (
        shared.join(ha, "inner_id", "left")
        .join(hb, "outer_id", "left")
        .join(sizes.withColumnRenamed("doc_id", "inner_id"), "inner_id")
        .withColumn(
            "shared_hot",
            F.size(F.array_intersect(
                F.coalesce("hot_a", empty), F.coalesce("hot_b", empty)
            )).cast("long"),
        )
        .select(
            "inner_id", "outer_id",
            F.round(
                (F.col("shared_cold") + F.col("shared_hot"))
                / F.col("n_fps"), 6,
            ).alias("containment"),
        )
    )
    return scored.filter(F.col("containment") >= threshold)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot diff between two corpus versions — the first question
    an incremental pipeline asks before re-running anything: which
    docs were ADDED, REMOVED, or CHANGED between crawl snapshots.
    Output: (doc_id, status) for every doc whose state differs;
    unchanged docs are omitted (at snapshot scale they are ~99% of
    rows — emitting them would be the expensive no-op).

    Comparison key is the whitespace-normalized md5 content
    fingerprint (the exact_dedup/doc_fingerprint key — one home via
    the same normalization), so a byte-identical re-crawl with
    different surrounding whitespace is 'unchanged', not 'changed'.
    Plan: one full outer join on the id — both sides shuffle once on
    a fixed-width key; no other stage."""
    fp = F.md5(F.encode(norm_ws_lower(F.col(text_col)), "UTF-8"))

    def side(df: DataFrame, fp_name: str) -> DataFrame:
        return df.select(F.col(id_col).alias("doc_id"),
                         fp.alias(fp_name))

    o = side(old, "fp_old")
    n = side(new, "fp_new")
    joined = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select("doc_id", "status")
    )


def dup_rate_by_source(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source duplication report — the monitoring aggregate a
    crawl pipeline charts per feed: (source, n_docs, n_unique,
    dup_rate) where n_unique counts distinct normalized-md5 content
    fingerprints (the exact_dedup key family) and dup_rate =
    1 - n_unique/n_docs rounded to 6dp. One hash aggregation; the
    shuffle key is the group column."""
    fp = F.md5(F.encode(norm_ws_lower(F.col(text_col)), "UTF-8"))
    return (
        df.select(F.col(group_col).alias("source"), fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_unique"),
        )
        .select(
            "source", "n_docs", "n_unique",
            F.round(1 - F.col("n_unique") / F.col("n_docs"), 6)
            .alias("dup_rate"),
        )
    )


def incremental_update(
    old: DataFrame,
    new: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The crawl-increment step END TO END — the composition the
    individual operators exist for: (1) corpus_diff finds what the
    new snapshot actually changed, (2) only the ADDED/CHANGED docs
    near-dup join (minhash-LSH, verify-before-emit) against the
    RETAINED corpus — the unchanged docs, which at snapshot scale are
    ~99% and are never re-shingled on the probe side, (3) each
    incoming doc gets a verdict: ``dup_of`` its best retained match
    (highest jaccard, ties -> smallest id) or ``unique``.

    Output, one row per added/changed doc (scalar):
    (doc_id, status, verdict, dup_of, jaccard) with jaccard = 0.0 for
    unique docs. The dup_of sentinel for unique docs is type-derived:
    -1 cast to the id column's own type when ids are NUMERIC (the
    null-free long contract the driver oracle checks), and NULL when
    ids are non-numeric (strings) — a '-1' string sentinel would be a
    silently coerced type shift, and NULL is the honest "no match"
    for an id space where -1 could be a real key.

    Scale shape: the diff is one full outer join on the id; its
    output (the few-% delta) is materialized once (localCheckpoint —
    it feeds both the incoming inner join and the retained anti join;
    re-deriving the diff per consumer would double the snapshot
    scan). The near-dup join pays the big-side shingling once per
    batch — the asymmetric-join property the incremental_join growth
    bench certifies (corpus 10x at fixed batch: e~0.46)."""
    from pyspark.sql import Window

    diff = corpus_diff(old, new, text_col=text_col, id_col=id_col)
    incoming_ids = (
        diff.filter(F.col("status").isin("added", "changed"))
        .localCheckpoint()
    )
    new_docs = new.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    incoming = new_docs.join(incoming_ids.select("doc_id"), "doc_id",
                             "semi")
    retained = new_docs.join(incoming_ids.select("doc_id"), "doc_id",
                             "anti")
    pairs = minhash_lsh_join(incoming, retained, threshold=threshold, n=n)
    w = Window.partitionBy("left_id").orderBy(
        F.desc("jaccard"), F.asc("right_id")
    )
    best = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("left_id").alias("doc_id"),
            F.col("right_id").alias("dup_of"),
            "jaccard",
        )
    )
    from pyspark.sql.types import NumericType

    id_type = new.schema[id_col].dataType
    if isinstance(id_type, NumericType):
        dup_of_out = F.coalesce(
            F.col("dup_of"), F.lit(-1).cast(id_type)
        ).alias("dup_of")
    else:
        # non-numeric ids: keep NULL for unique — a coerced '-1'
        # string would silently shift the documented column type
        dup_of_out = F.col("dup_of")
    return incoming_ids.join(best, "doc_id", "left").select(
        "doc_id",
        "status",
        F.when(F.col("dup_of").isNull(), F.lit("unique"))
        .otherwise(F.lit("dup_of"))
        .alias("verdict"),
        dup_of_out,
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
    )


def conversation_dedup(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """CONVERSATION-level exact dedup — the transcript-native unit of
    deduplication (a multi-turn conversation re-ingested from two
    feeds is one training sample, not N duplicate turns). Fingerprint
    = md5 over the turn sequence in turn order: each turn's text is
    whitespace-normalized + lowercased (the exact_dedup key
    convention, one home semantically), digested per turn (md5), and
    the fixed-width hex digests are joined with ',' — turn boundaries
    can't alias ("a b"+"c" vs "a"+"b c" differ) because the joined
    units are constant-length digests, never raw text. This matches
    the DuckDB oracle's string_agg(tfp, ',') mirror exactly. Output
    one row per conversation: (conv_id, canonical_id, is_canonical,
    group_size) with the lexicographically smallest conv_id canonical
    per group.

    Shape: one shuffle builds the per-conversation ordered turn array
    (groupBy conv), one hash aggregation groups fingerprints, and the
    verdict join is keyed on the fixed-width fingerprint. Assumes
    turn_idx is unique within a conversation (the input contract the
    extraction pipeline enforces); duplicate turn_idx would make the
    within-array tie order engine-specific."""
    # per-TURN digest first: only fixed-width 32-char md5 strings
    # cross the groupBy exchange (the exact_dedup wire rule — raw
    # corpus text never ships), and a turn text containing a literal
    # separator byte cannot alias a turn boundary because the joined
    # units are hex digests
    turn_fp = F.md5(
        F.encode(
            norm_ws_lower(F.coalesce(F.col(text_col), F.lit(""))),
            "UTF-8",
        )
    )
    base = turns.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("turn_idx"),
        turn_fp.alias("tfp"),
    )
    g = base.groupBy("conv_id").agg(
        F.sort_array(F.collect_list(F.struct("turn_idx", "tfp")))
        .alias("ts")
    )
    fp = F.md5(
        F.encode(
            F.array_join(
                F.transform(F.col("ts"), lambda x: x["tfp"]), ","
            ),
            "UTF-8",
        )
    )
    from pyspark.sql import Window

    with_fp = g.select("conv_id", fp.alias("fp"))
    # per-group canonical/size as ONE fp-keyed window instead of the
    # groupBy + join-back pair (same values — min and count over the
    # identical groups; one shuffle, no second aggregation/join)
    w = Window.partitionBy("fp")
    return with_fp.select(
        "conv_id",
        F.min("conv_id").over(w).alias("canonical_id"),
        (F.col("conv_id") == F.min("conv_id").over(w)).alias(
            "is_canonical"
        ),
        F.count("*").over(w).alias("group_size"),
    )
