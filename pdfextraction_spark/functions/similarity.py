"""Embedding similarity search (array<float> columns, JVM-side math).

- cosine_sim: F.zip_with/F.aggregate dot products — whole-stage
  codegen, no Python
- brute_force_topk: exact top-k per query (cross join; broadcast the
  query side — correct baseline and the verifier for the ANN path)
- lsh_bucket_topk: sign-hyperplane LSH over md5-derived integer planes
  — queries only join candidates sharing a bucket; the scale path
  (candidates/query drops from N to N/2^bits on average)
- IVF / PQ / IVF-PQ / SemDeDup: coarse assignment, probe selection,
  PQ encoding and the ADC query tables run as Arrow-batch numpy UDFs
  (np_*_udf) with the codebooks in the UDF closure; everything
  downstream of them is JVM-side
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .text import explode_rows


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_sim(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(col):
    return F.transform(col, lambda v: v.cast("double"))


# --------------------------------------------------------------------------
# codegen'd fixed-width dot products (optimization guide §4.1: prefer
# built-ins/codegen over interpreted paths).
#
# The HOF forms above (aggregate over zip_with) are evaluated by the
# INTERPRETED expression walker — measured ~53 s of pure JVM CPU for
# one pair-verify stage at bench scale. When the vector width is known
# statically, the identical left-to-right float fold unrolls into a
# codegen'd Add chain: 0.0 + a[0]*b[0] + a[1]*b[1] + ... reproduces
# the fold order bit-for-bit (same additions, same sequence), so every
# rounded-6dp value — and therefore every oracle hash — is unchanged.
# A size guard keeps any row whose array width differs from the
# declared dim on the exact HOF fallback (ANSI mode would otherwise
# throw on the out-of-bounds index), so the functions stay correct on
# arbitrary inputs.
#
# Scope discipline (measured): the unrolled chain is used ONLY at the
# high-cardinality pair-verify sites, where one O(pairs) stage carries
# a single dot, and there it still wins: at sf0.1, local[4] (build +
# toPandas, two A/Bs of 8 runs a side, every run in ROADMAP item 4)
# cosine_near_pairs took 8.4-17.0 s unrolled vs 11.9-20.2 s HOF, and
# cosine_near_pairs_blocked 5.9-10.8 s vs 9.0-13.3 s; cosine_near_join
# and semantic_dedup differ by less than their run-to-run spread, so
# the static-dim choice stays where it is. Unrolling every dot (norms,
# buckets) multiplies generated-code size past the JIT sweet spot and
# pays a Janino compile per stage per query (generated sources embed
# fresh expression ids, so the codegen cache cannot reuse them across
# queries) — a measured net LOSS at the O(corpus-rows) sites, which
# stay on the compact HOF form.

_FIXED_DIM_MAX = 256


def _dot_chain_sql(a: str, b: str, dim: int) -> str:
    """0.0 + a[0]*b[0] + ... — the HOF fold, unrolled (same order)."""
    terms = " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dim))
    return f"(cast(0.0 as double) + {terms})"


def _dot_hof_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _dot_cols(a: str, b: str, dim: Optional[int]):
    """Dot product of two BOUND array<double> columns (by name), as a
    codegen'd fixed-width chain when ``dim`` is known, guarded back to
    the exact interpreted form for non-conforming rows."""
    if dim is None or dim > _FIXED_DIM_MAX:
        return _dot(F.col(a), F.col(b))
    return F.expr(
        f"CASE WHEN size({a}) = {dim} AND size({b}) = {dim} "
        f"THEN {_dot_chain_sql(a, b, dim)} "
        f"ELSE {_dot_hof_sql(a, b)} END"
    )


def _lit_arr(vals) -> "F.Column":
    """Array literal in ONE py4j call (F.lit over a Python list) —
    the per-element F.array(F.lit(x), ...) form costs a py4j round
    trip per element (~1 ms each; a 64-dim centroid array built that
    way costs ~0.1 s of driver time, and a 16-centroid codebook ~1 s).
    Same literal values, same plan semantics."""
    return F.lit([float(x) for x in vals])


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k for every query vector.

    queries: (query_id, embedding). Output: (query_id, vec_id, sim,
    rank). Ties broken by vec_id for determinism."""
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_sim(F.col("qv"), F.col("v")), 6).alias("sim"),
        )
    )
    return _topk(scored, k)


def _topk(scored: DataFrame, k: int, score: str = "sim") -> DataFrame:
    """Per-query top-k: rank 1 = highest cosine ``sim`` (or smallest
    ADC ``approx_dist_micros``), ties by vec_id — the single home for
    the rank contract every search here and its DuckDB oracle share.
    A null score (a null vector, a null element or code, or two widths
    that differ, on either side) is no candidate: it would otherwise
    still fill a slot of a short top-k. Nor is a NaN one (an inf
    element): Spark orders NaN above every double, so it would rank
    first."""
    order = F.desc(score) if score == "sim" else F.asc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("vec_id"))
    return (
        scored.filter(F.col(score).isNotNull() & ~F.isnan(score))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hamming1_probes(bucket, bits: int):
    """The bucket plus every bucket at Hamming distance 1 (one sign
    flipped) — the multiprobe-LSH recall boost; bits + 1 probes."""
    return F.array(bucket, *[bucket.bitwiseXOR(F.lit(1 << i).cast("long"))
                             for i in range(bits)])


def cosine_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocked: bool = True,
    bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a<b, cosine >= threshold).

    ``blocked=True`` (the scale path): candidates must share a sign-LSH
    bucket (lsh_bucket_id over det_int_planes(dim, bits)) — one side
    additionally probes its Hamming-distance-1 buckets (multiprobe),
    then exact cosine verifies. Shuffles (id, bucket, vector) once; no
    all-pairs. Recall is probabilistic (~(1 - theta/pi)^bits per
    bucket, boosted by multiprobe) — measured vs the exact form in
    tests. The DuckDB oracle reproduces the blocked candidate set
    exactly.

    ``blocked=False``: exact all-pairs cross join — the verifier and
    the small-N path; O(n^2), never run this on a corpus."""
    # compute each vector's norm ONCE: the pair expression is then a
    # dot product and one division — recomputing both norms per pair
    # would triple the flops on an O(pairs) expression
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("n", _norm(F.col("v")))

    def pair_cos(a, b):
        return F.round(
            _dot_cols(f"{a}.v", f"{b}.v", dim)
            / (F.col(f"{a}.n") * F.col(f"{b}.n")),
            6,
        )

    if not blocked:
        a, b = e.alias("a"), e.alias("b")
        return (
            a.crossJoin(b)
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                pair_cos("a", "b").alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
    eb = e.withColumn("q", lsh_quantized(F.col("v"))).withColumn(
        "bucket", lsh_bucket_id("q", det_int_planes(dim, bits))
    )
    pb = eb.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("v_b"),
        F.col("n").alias("n_b"),
        F.explode(_hamming1_probes(F.col("bucket"), bits)).alias("bucket"),
    )
    pa = eb.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("v_a"),
        F.col("n").alias("n_a"),
        "bucket",
    )
    return (
        pa.join(pb, (pa.bucket == pb.bucket) & (F.col("id_a") < F.col("id_b")))
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot_cols("v_a", "v_b", dim)
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def cosine_near_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ASYMMETRIC embedding near-dup join — incremental dedup on the
    embedding column: (left_id, right_id, cos_sim >= threshold) across
    two corpora, neither side self-joined. Candidates must share a
    sign-LSH bucket (the LEFT/new-batch side multiprobes its
    Hamming-1 buckets — the smaller side pays the probe fan-out);
    exact cosine verifies before emit. Same plane family and recall
    model as cosine_near_pairs(blocked=True)."""
    planes = det_int_planes(dim, bits)

    def side(df: DataFrame, out_id: str):
        e = df.select(
            F.col(id_col).alias(out_id),
            _as_double(F.col(vec_col)).alias("v"),
        ).withColumn("n", _norm(F.col("v")))
        return e.withColumn("q", lsh_quantized(F.col("v"))).withColumn(
            "bucket", lsh_bucket_id("q", planes)
        )

    el = side(left, "left_id")
    er = side(right, "right_id")
    pl = el.select(
        "left_id",
        F.col("v").alias("v_l"),
        F.col("n").alias("n_l"),
        F.explode(_hamming1_probes(F.col("bucket"), bits)).alias("bucket"),
    )
    pr = er.select(
        "right_id",
        F.col("v").alias("v_r"),
        F.col("n").alias("n_r"),
        "bucket",
    )
    return (
        pl.join(pr, "bucket")
        .select(
            "left_id",
            "right_id",
            F.round(
                _dot_cols("v_l", "v_r", dim)
                / (F.col("n_l") * F.col("n_r")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


# --------------------------------------------------------------------------
# product quantization (PQ) — the compression half of IVF-PQ, the
# standard layout for billion-scale embedding stores: a dim-d vector
# becomes m one-byte-ish codes (one per subspace), an ~d*4/m x
# compression, and search scores candidates with an asymmetric
# distance computation (ADC): per query, one m x k table of exact
# sub-distances; a candidate's approximate distance is m table
# lookups, never a d-dim dot product. (Jegou et al., PAMI 2011.)


def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> List[List[List[float]]]:
    """Deterministic PQ codebooks: the strided seed sample's
    subvectors (same seeding discipline as train_ivf_centroids —
    reproducible in SQL, so the driver oracle can re-derive the exact
    codebooks), optionally refined by ``lloyd_iters`` per-subspace
    distributed Lloyd iterations (the PRODUCTION config — trained
    codebooks materially shrink quantization error; the recall and
    MSE improvements over seeds are pinned in tests). All m subspaces
    train in ONE Spark job per iteration: assign codes, explode the
    (subspace, code, subvector) triples once, per-(j, code, dim)
    mean; the collect is bounded at m x k x (dim/m) = k x dim rows.
    ``lloyd_iters=0`` is the oracle-exact seed config the driver
    checks. Returns m codebooks of k centroids of dim/m floats."""
    d_sub = dim // m
    seeds = _strided_seed_vectors(embeddings, k, id_col, vec_col)
    books = [
        [seed[j * d_sub:(j + 1) * d_sub] for seed in seeds]
        for j in range(m)
    ]
    for _ in range(lloyd_iters):
        books = _pq_lloyd_step(embeddings, vec_col, books)
    return books


def _stack_rows(v: pd.Series, width: int):
    """One Arrow batch of vectors as an (n, width) float64 matrix, the
    same-shape mask of the elements actually present, and each row's
    length (-1 for a null vector). A null vector, a null element
    (Arrow hands it over as NaN) and every position past a short
    vector's end are absent and stored as 0.0; a longer vector is cut
    at ``width``. The numpy UDFs null exactly the outputs that would
    read an absent element, so one malformed row never fails the
    batch it rides in."""
    M = np.zeros((len(v), width), dtype=np.float64)
    lens = np.full(len(v), -1)
    for i, x in enumerate(v):
        if x is not None:
            lens[i] = len(x)
            w = min(len(x), width)
            M[i, :w] = x[:w]
    present = np.arange(width)[None, :] < lens[:, None]
    nan = np.isnan(M)
    present &= ~nan
    M[nan] = 0.0
    return M, present, lens


def _pq_dists(codebooks: List[List[List[float]]]):
    """Batch scorer shared by every PQ UDF, the one home of the PQ
    distance contract (the DuckDB oracle's ``dists`` CTE): for every
    row, subspace and codeword, the squared L2 distance rounded to 6dp,
    as a (rows, m, k) tensor, and the (rows, m) mask of subspaces whose
    slice held d_sub present values (a code or an ADC table row is
    only defined where it did). Codes are the first-wins argmin over
    the last axis (np.argmin = first occurrence; np.round is
    half-to-even vs the oracle's half-up — they differ only for a
    distance landing exactly on a 5e-7 boundary, pinned absent on the
    fixtures by the oracle tests)."""
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k, d_sub)
    m, k, d_sub = B.shape

    def dists(v: pd.Series):
        M, present, _ = _stack_rows(v, m * d_sub)
        n = M.shape[0]
        D = np.empty((n, m, k), dtype=np.float64)
        for j in range(m):
            sub = M[:, j * d_sub:(j + 1) * d_sub]
            # (rows, k, d_sub) diff tensor: one vectorized
            # squared-difference reduction per subspace
            diff = sub[:, None, :] - B[j][None, :, :]
            D[:, j, :] = np.einsum("rkd,rkd->rk", diff, diff)
        ok = present.reshape(n, m, d_sub).all(axis=2)
        return np.round(D, 6), ok

    return dists


def np_pq_encode_udf(codebooks: List[List[List[float]]]):
    """Arrow-batch numpy PQ encoder (array<int> of m 1-based codes).
    The codebooks live in the UDF closure and a whole Arrow batch is
    scored at once, so the plan stays small at any k (PQ-standard
    k=256 included). A subspace whose slice is not d_sub non-null
    values gets a null code; a null vector gets m null codes."""
    from pyspark.sql.functions import pandas_udf

    dists = _pq_dists(codebooks)

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        D, ok = dists(v)
        codes = np.argmin(D, axis=2).astype(np.int32) + 1
        rows = list(codes)
        for i in np.flatnonzero(~ok.all(axis=1)):
            rows[i] = [int(c) if o else None
                       for c, o in zip(codes[i], ok[i])]
        return pd.Series(rows, dtype=object)

    # same §4.4 marking as np_centroid_assign_udf (the fused
    # assign+encode select must stay ONE ArrowEvalPython node)
    return encode.asNondeterministic()


def np_pq_recon_err_udf(codebooks: List[List[List[float]]]):
    """Per-vector squared PQ reconstruction error (Arrow-batch numpy):
    for each subspace, the (6dp-rounded, argmin-first — the encode
    tie/rounding contract) distance to the NEAREST codeword, summed
    over subspaces. That sum is exactly ||v - reconstruction(v)||^2
    for the code pq_encode would assign, so averaging it over a batch
    gives the batch's quantization MSE without materializing codes.
    Null for a vector with any null code (no reconstruction)."""
    from pyspark.sql.functions import pandas_udf

    dists = _pq_dists(codebooks)

    @pandas_udf("double")
    def err(v: pd.Series) -> pd.Series:
        D, ok = dists(v)
        # NaN leaves the UDF as null, which avg() skips
        return pd.Series(np.where(ok.all(axis=1),
                                  D.min(axis=2).sum(axis=1), np.nan))

    return err


def np_adc_table_udf(codebooks: List[List[List[float]]]):
    """Arrow-batch numpy ADC query tables (array<array<bigint>>): each
    query's m x k table of _pq_dists distances, the ones pq_encode
    takes its argmin over, in integer micro-units (rint(d * 1e6)). A
    query gets a null table, and so scores nothing, when a subspace
    is absent (null vector, short vector, null or NaN element) or an
    entry does not fit an int64 (an inf element, or one large enough
    to overflow)."""
    from pyspark.sql.functions import pandas_udf

    dists = _pq_dists(codebooks)

    @pandas_udf("array<array<bigint>>")
    def table(v: pd.Series) -> pd.Series:
        D, ok = dists(v)
        micros = np.rint(D * 1_000_000)
        # NaN and inf fail the comparison too
        good = ok.all(axis=1) & (np.abs(micros) < 2.0 ** 63).all(axis=(1, 2))
        rows = np.where(good[:, None, None], micros, 0).astype(
            np.int64).tolist()
        for i in np.flatnonzero(~good):
            rows[i] = None
        return pd.Series(rows, dtype=object)

    return table


def _adc_tables(codebooks: List[List[List[float]]], vec_col: str):
    """The ``tbl`` column of a query side: np_adc_table_udf over the
    query vector."""
    return np_adc_table_udf(codebooks)(
        _as_double(F.col(vec_col))
    ).alias("tbl")


def _adc_search(coded: DataFrame, q: DataFrame, k: int,
                on: Optional[str] = None,
                exclude_self: bool = True) -> DataFrame:
    """The ADC score/rank tail of every PQ search: the bounded query
    side ``q`` (query_id, tbl[, on]) is broadcast and joined to the
    coded candidates (vec_id, codes[, on]) — on ``on``, or every
    candidate against every query when it is None — self-matches are
    dropped, and a candidate's distance is the sum of its m table
    lookups as BIGINT micro-units (order-free integer sums — an 8-term
    float sum's addition order is engine-dependent and could flip a
    6dp rounding), ranked by _topk. A null table or code gives a null
    distance, which _topk drops."""
    scored = coded.join(F.broadcast(q), on)
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("query_id"))
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("tbl"),
            lambda c, row: F.element_at(row, c),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return _topk(
        scored.select("query_id", "vec_id",
                      dist.alias("approx_dist_micros")),
        k, "approx_dist_micros",
    )


def pq_quantization_mse(
    embeddings: DataFrame,
    codebooks: List[List[List[float]]],
    vec_col: str = "embedding",
) -> float:
    """Mean squared PQ reconstruction error of ``embeddings`` under
    ``codebooks`` — the index-staleness probe: a fresh crawl batch
    whose MSE is far above the build-time MSE is drifting away from
    the frozen quantizers (retrain signal). One scan, one avg
    aggregation, a single-double collect — corpus-scale safe."""
    row = embeddings.select(
        np_pq_recon_err_udf(codebooks)(
            _as_double(F.col(vec_col))
        ).alias("__e")
    ).agg(F.avg("__e").alias("mse")).collect()[0]
    return float(row.mse) if row.mse is not None else 0.0


def pq_encode(
    embeddings: DataFrame,
    codebooks: List[List[List[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>): per subspace, the 1-based index of
    the nearest codebook centroid by squared L2, rounded to 6dp with
    first-wins ties — reproducible across engines (pinned against the
    DuckDB oracle in tests). Encoding is one Arrow-batch numpy pass
    (np_pq_encode_udf)."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        np_pq_encode_udf(codebooks)(_as_double(F.col(vec_col)))
        .alias("codes"),
    )


def _pq_lloyd_step(
    embeddings: DataFrame,
    vec_col: str,
    codebooks: List[List[List[float]]],
) -> List[List[List[float]]]:
    """One distributed per-subspace Lloyd iteration for ALL m
    subspaces in a single Spark job: assign every subvector to its
    nearest code, recompute each (subspace, code) centroid as the
    per-dimension mean of its members. The shuffle moves (j, code,
    pos, partial mean) — never vectors; the collect is bounded at
    m x k x d_sub = k x dim rows. Empty cells keep their previous
    centroid (same policy as the IVF _lloyd_step), and a subvector
    with a null code (malformed slice) joins no cell.

    Explode discipline: the codes and subvector slices are staged
    projections BEFORE the explode select, so the Generate cannot
    lift the encode above itself and re-run it per element. Staging
    alone does not protect an explode of a higher-order-function
    result: Catalyst infers ``size(a) > 0`` above a plain explode of
    an attribute and pushes it below the stages with the staged
    expression inlined, so such arrays go through
    ``text.explode_rows`` (the encode here is an opaque
    nondeterministic UDF, which that filter cannot be pushed past)."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    staged = embeddings.select(
        _as_double(F.col(vec_col)).alias("v")
    ).withColumn(
        "__codes", np_pq_encode_udf(codebooks)(F.col("v"))
    )
    for j in range(m):
        staged = staged.withColumn(
            f"__sub{j}", F.slice(F.col("v"), j * d_sub + 1, d_sub)
        ).withColumn(f"c{j}", F.element_at("__codes", j + 1))
    entries = F.array(*[
        F.struct(
            F.lit(j).alias("j"),
            F.col(f"c{j}").alias("code"),
            F.col(f"__sub{j}").alias("sub"),
        )
        for j in range(m)
    ])
    ex = (
        staged.withColumn("__e", entries)
        .select(F.explode("__e").alias("e"))
        .filter(F.col("e.code").isNotNull())
        .select("e.j", "e.code", F.posexplode("e.sub").alias("pos", "val"))
    )
    means = (
        ex.groupBy("j", "code", "pos")
        .agg(F.avg("val").alias("mu"))
        .collect()
    )
    new = [[list(c) for c in book] for book in codebooks]
    got: dict = {}
    for r in means:
        got.setdefault((r.j, r.code), [0.0] * d_sub)[r.pos] = r.mu
    for (j, code), vec in got.items():
        new[j][code - 1] = vec  # codes are 1-based
    return new


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: List[List[List[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ search by asymmetric distance: corpus vectors are REDUCED TO
    CODES (pq_encode — at store scale only the codes are persisted);
    each query's exact m x k sub-distance table is computed in the
    engine by the same numpy scorer as the codes (np_adc_table_udf)
    and travels as data in one broadcast query side, and a candidate's
    approximate distance is the sum of m table lookups via
    zip_with(codes, table) — O(m) per candidate, independent of dim
    (_adc_search). Building the search starts no Spark job.

    Output: (query_id, vec_id, approx_dist_micros, rank) — rank 1 =
    nearest, ties by vec_id. Distances are INTEGER micro-units
    (round(dist, 6) * 1e6 per table entry, summed as longs): an
    8-term float sum's addition order differs between engines and
    could flip a 6dp rounding, while integer sums are order-free —
    the same exact-arithmetic stance as the repetition fractions.
    Recall vs exact brute force is pinned in pytest (approximation
    error is the quantization error; raise m/k to shrink it)."""
    coded = pq_encode(embeddings, codebooks, id_col, vec_col)
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       _adc_tables(codebooks, vec_col))
    return _adc_search(coded, q, k)


def _coarse_assigned(
    df: DataFrame,
    centroids: List[List[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, v array<double>, list_id) — corpus-side coarse
    assignment to the nearest centroid by rounded-6dp cosine,
    first-wins ties (np_centroid_assign_udf); single home for the
    assignment ivf_topk and semantic_dedup (and their green oracles)
    pin."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("v"),
        np_centroid_assign_udf(centroids)(F.col(vec_col))
        .alias("list_id"),
    )


def _ivfpq_coded(
    df: DataFrame,
    centroids: List[List[float]],
    codebooks: List[List[List[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, list_id, codes) — the IVF-PQ corpus side, shared by
    ivfpq_topk and the persisted index. ONE ArrowEvalPython node: the
    assign and encode UDFs both read the raw vector column and have
    no interdependence, so evaluating them in the same select ships
    the vectors across the Python boundary once instead of chaining
    two Python stages (guide §4.1; measured ~0.35 s per extra
    pandas-UDF stage at 32 tasks)."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        np_centroid_assign_udf(centroids)(F.col(vec_col))
        .alias("list_id"),
        np_pq_encode_udf(codebooks)(_as_double(F.col(vec_col)))
        .alias("codes"),
    )


def _probe_rows(
    queries: DataFrame,
    centroids: List[List[float]],
    n_probe: int,
    query_id_col: str,
    vec_col: str,
    *carry,
) -> DataFrame:
    """(query_id, *carry, list_id) — one row per probed list: each
    query's n_probe nearest coarse lists (np_probe_lists_udf, ties by
    smaller list id); the single home for the probe tie/rounding
    policy both IVF and IVF-PQ search paths (and their green oracles)
    pin. The ``carry`` columns are computed in the probe's own select,
    so an ADC table UDF shares the probe's ArrowEvalPython node and
    the query vectors cross the Python boundary once. The probe array
    is exploded with explode_rows, so no inferred emptiness filter
    re-runs the UDF below the explode."""
    probes = queries.select(
        F.col(query_id_col).alias("query_id"),
        *carry,
        np_probe_lists_udf(centroids, n_probe)(F.col(vec_col))
        .alias("__probes"),
    )
    keep = [c for c in probes.columns if c != "__probes"]
    return explode_rows(probes, "__probes", "list_id", *keep)


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: List[List[List[float]]],
    centroids: Optional[List[List[float]]] = None,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-PQ — the search stack a 10^9-vector corpus actually runs
    (Jegou et al., PAMI 2011): the IVF coarse quantizer restricts
    candidates to the query's n_probe nearest inverted lists, and ADC
    over PQ CODES ranks them — per candidate O(m) integer table
    lookups, never a dim-d dot product, over a corpus stored at
    ~dim*4/m x compression.

    Plan shape: corpus side is encode (codes) + coarse assignment
    (list_id) — one Arrow-batch pass over one scan (_ivfpq_coded);
    query side is the probe-list explode carrying each query's ADC
    table, probe and table UDFs in one Arrow-batch pass (_probe_rows),
    broadcast to the list_id join (bounded query set); the only
    shuffle is the per-query top-k window. Each vector lives in
    exactly one list, so a (query, candidate) pair appears at most
    once — no dedup aggregation needed. Seed codebooks and
    lloyd_iters=0 are the oracle-exact driver config.

    Output: (query_id, vec_id, approx_dist_micros, rank), rank 1 =
    nearest by ADC distance, ties by vec_id."""
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_centroids, id_col=id_col, vec_col=vec_col,
            lloyd_iters=lloyd_iters,
        )
    coded = _ivfpq_coded(embeddings, centroids, codebooks, id_col,
                         vec_col)
    q = _probe_rows(queries, centroids, n_probe, query_id_col, vec_col,
                    _adc_tables(codebooks, vec_col))
    return _adc_search(coded, q, k, "list_id")


# quantization scale for sign-LSH bucketing: embeddings are
# rounded to integers at this scale before the plane dot product, so
# the arithmetic is exact-integer (doubles are exact below 2^53) and
# the bucket id is bit-identical on any engine — no sign flips from
# summation-order ulp drift
QUANT_SCALE = 1000


def det_int_planes(dim: int, bits: int) -> List[List[int]]:
    """Deterministic integer hyperplanes derived from md5: component
    (b, d) is the first hex digit of md5('b:d') minus 8 (range -8..7).
    Any engine with md5 can rebuild the identical planes — the DuckDB
    oracle does, via strpos('0123456789abcdef', substring(md5(...),1,1))
    - 9. Uniform small-int components are fine for SIGN-LSH bucketing
    (only the sign of the projection matters); at sf0.1 they timed
    and recalled within noise of Gaussian planes, so they are the only
    plane family."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{b}:{d}".encode()).hexdigest()[0], 16) - 8
            for d in range(dim)
        ]
        for b in range(bits)
    ]


def lsh_quantized(v):
    """round(vec * QUANT_SCALE) per element, from an array<double>
    column — the integer vector ``lsh_bucket_id`` projects. Stage it
    as its own projection: the bucket references it once per plane,
    and an unstaged transform is re-run for every reference."""
    return F.transform(v, lambda x: F.round(x * QUANT_SCALE))


def lsh_bucket_id(q_name: str, planes: Sequence[Sequence[float]]):
    """Sign-LSH bucket: bit i set iff dot(round(vec * QUANT_SCALE),
    plane_i) > 0. Rounding the vector to integers first makes the dot
    product exact integer arithmetic — reproducible bit-for-bit across
    engines.

    ``q_name`` names a STAGED ``lsh_quantized`` column (each plane's
    dot reads the bound attribute, so the quantizing transform runs
    once per row, not once per plane); plane literal arrays are built
    in one py4j call each (_lit_arr). Stage the bucket too before
    ``_hamming1_probes`` references it bits + 1 times."""
    v = F.col(q_name)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        bucket = bucket + F.when(
            _dot(v, _lit_arr(plane)) > 0, F.lit(1 << i).cast("long")
        ).otherwise(0)
    return bucket


def _centroid_scorer(centroids: Sequence[Sequence[float]]):
    """Batch scorer shared by the IVF UDFs: each row's rounded-6dp
    cosine against every centroid (one BLAS matmul per Arrow batch;
    rounding pins the argmax/top-probe decisions against last-ulp
    drift, as the DuckDB oracle's round(list_cosine_similarity, 6)
    does), and whether the row is a dim-wide vector with no null
    element — the only rows whose assignment is defined."""
    C = np.asarray(centroids, dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)
    Cn[Cn == 0] = 1.0
    dim = C.shape[1]

    def score(v: pd.Series):
        M, present, lens = _stack_rows(v, dim)
        ok = (lens == dim) & present.all(axis=1)
        Mn = np.linalg.norm(M, axis=1, keepdims=True)
        Mn[Mn == 0] = 1.0
        return np.round((M @ C.T) / (Mn * Cn[None, :]), 6), ok

    return score


def np_centroid_assign_udf(centroids: Sequence[Sequence[float]]):
    """Arrow-batch numpy centroid assignment (int list_id, 1-based).
    The codebook lives in the UDF closure and a whole Arrow batch is
    scored with one BLAS matmul — O(batch x k x dim) flops, a small
    plan at any codebook size.

    Ties: argmax first-wins (numpy argmax = first occurrence; np.round
    is half-to-even vs the oracle's half-up — they differ only for a
    cosine landing exactly on a 5e-7 boundary, pinned absent on the
    fixtures by the oracle tests). A null vector, a null element or a
    width other than dim gets a null list_id."""
    from pyspark.sql.functions import pandas_udf

    score = _centroid_scorer(centroids)

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        sims, ok = score(v)
        ids = pd.Series(np.argmax(sims, axis=1) + 1, dtype="Int32")
        ids[~ok] = pd.NA
        return ids

    # nondeterministic marking (guide §4.4): join-key null filters the
    # optimizer infers (isnotnull(list_id)) otherwise get pushed BELOW
    # this UDF, duplicating the whole Arrow round trip — the plan grew
    # two ArrowEvalPython nodes per side, each evaluating assign. The
    # function is pure; the marking only blocks the duplicating
    # rewrite, so results are unchanged (plan-asserted in tests).
    return assign.asNondeterministic()


def np_probe_lists_udf(centroids: Sequence[Sequence[float]],
                       n_probe: int):
    """Arrow-batch numpy query-side probe selection: the 1-based ids
    of the ``n_probe`` highest-cosine centroids, ordered best-first
    with ties broken by smaller id (stable argsort on -score — the
    oracle's ORDER BY score DESC, id ASC). Null probes (the query
    joins no list) for the rows np_centroid_assign_udf leaves
    unassigned."""
    from pyspark.sql.functions import pandas_udf

    score = _centroid_scorer(centroids)

    @pandas_udf("array<int>")
    def probe(v: pd.Series) -> pd.Series:
        sims, ok = score(v)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe] + 1
        rows = list(order.astype(np.int32))
        for i in np.flatnonzero(~ok):
            rows[i] = None
        return pd.Series(rows, dtype=object)

    return probe


def _lloyd_step(embeddings: DataFrame, vec_col: str,
                centroids: List[List[float]]) -> List[List[float]]:
    """One distributed Lloyd iteration: assign every vector to its
    nearest centroid, recompute centroids as per-list per-dimension
    means. The shuffle moves (list_id, dim, partial mean) — never
    vectors; the collect is n_centroids x dim rows. Empty lists keep
    their previous centroid; unassigned (malformed) vectors join no
    list."""
    assigned = embeddings.select(
        _as_double(F.col(vec_col)).alias("v"),
        np_centroid_assign_udf(centroids)(F.col(vec_col))
        .alias("list_id"),
    ).filter(F.col("list_id").isNotNull()).select(
        "list_id", F.posexplode(F.col("v")).alias("pos", "val")
    )
    means = (
        assigned.groupBy("list_id", "pos")
        .agg(F.avg("val").alias("m"))
        .collect()
    )
    dim = len(centroids[0])
    new = [list(c) for c in centroids]
    got = {}
    for r in means:
        got.setdefault(r.list_id, [0.0] * dim)[r.pos] = r.m
    for lid, vec in got.items():
        new[lid - 1] = vec  # list_id is 1-based
    return new


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
) -> List[List[float]]:
    """IVF index build: deterministic strided seed sample refined by
    ``lloyd_iters`` distributed Lloyd iterations. Each iteration is
    one Spark aggregation (posexplode -> per-(list, dim) mean) whose
    collect is bounded at n_centroids x dim rows — vectors never leave
    the cluster. Returned codebook feeds ivf_topk(centroids=...)."""
    centroids = _strided_seed_vectors(embeddings, n_centroids, id_col,
                                      vec_col)
    for _ in range(lloyd_iters):
        centroids = _lloyd_step(embeddings, vec_col, centroids)
    return centroids


def _strided_seed_vectors(embeddings: DataFrame, k: int, id_col: str,
                          vec_col: str) -> List[List[float]]:
    """THE deterministic seed-sampling discipline (single home — both
    the IVF and PQ oracles re-derive exactly this in SQL): every
    (total // k)-th id in id order, first k. Bounded collect."""
    total = embeddings.count()
    step = max(total // k, 1)
    rows = (
        embeddings.filter(F.pmod(F.col(id_col), F.lit(step)) == 0)
        .orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    return [list(map(float, r[0])) for r in rows]


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: Optional[List[List[float]]] = None,
    lloyd_iters: int = 2,
) -> DataFrame:
    """IVF-style ANN: vectors are inverted-listed by nearest centroid;
    each query probes its n_probe nearest lists and scores only those
    candidates.

    Centroid training: strided deterministic seed sample, refined by
    ``lloyd_iters`` distributed Lloyd iterations — each iteration is
    one Spark aggregation (posexplode -> per-(list, dim) mean) whose
    result is a bounded n_centroids x dim collect; vectors never leave
    the cluster. Recall measured vs brute force in tests.

    Corpus-side assignment and query-side probing are Arrow-batch
    numpy matmuls (np_centroid_assign_udf, np_probe_lists_udf) with
    the codebook in the UDF closure, so the plan stays small and
    n_centroids can grow to IVF-realistic sizes (thousands); the
    rounded-6dp/first-wins assignment is pinned against the DuckDB
    oracle in tests. A malformed corpus vector (null, null element,
    width other than dim) lands in no list and never matches.

    Index-build vs query: centroid training is the BUILD step a
    production deployment runs once and reuses across queries — call
    :func:`train_ivf_centroids` yourself and pass ``centroids=`` to
    amortize it (the bench reports build and query separately)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_centroids, id_col=id_col, vec_col=vec_col,
            lloyd_iters=lloyd_iters,
        )
    e = _coarse_assigned(embeddings, centroids, id_col, vec_col)
    q = _probe_rows(queries, centroids, n_probe, query_id_col, vec_col,
                    _as_double(F.col(vec_col)).alias("qv"))
    scored = (
        e.join(F.broadcast(q), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_sim(F.col("qv"), F.col("v")), 6).alias("sim"),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.max("sim").alias("sim"))
    )
    return _topk(scored, k)


def lsh_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only candidates in the query's LSH bucket(s)
    are scored. Buckets are exact-integer sign-LSH ids over
    det_int_planes(dim, bits), so the DuckDB oracle rebuilds the
    identical candidate sets.

    The QUERY side also probes every bucket at Hamming distance 1 (one
    sign flipped) — the standard multiprobe-LSH recall boost. Cost
    scales the query side only (bits+1 probe rows per query, still
    broadcast); the corpus is hashed exactly once. Recall measured
    against brute_force_topk in tests. A malformed vector on either
    side (null, null element, other width) scores a null sim and is
    never ranked."""
    planes = det_int_planes(dim, bits)
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("q", lsh_quantized(F.col("v"))).select(
        "vec_id", "v", lsh_bucket_id("q", planes).alias("bucket"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("q", lsh_quantized(F.col("qv"))).withColumn(
        "b", lsh_bucket_id("q", planes)
    ).select(
        "query_id", "qv",
        F.explode(_hamming1_probes(F.col("b"), bits)).alias("bucket"),
    )
    scored = (
        e.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_sim(F.col("qv"), F.col("v")), 6).alias("sim"),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.max("sim").alias("sim"))
    )
    return _topk(scored, k)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.6,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[List[List[float]]] = None,
    lloyd_iters: int = 0,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then
    prune WITHIN each cluster any vector whose cosine similarity to a
    lower-id cluster member reaches ``threshold``. Output one row per
    input vector: (vec_id, list_id, is_kept).

    Semantics vs the other dedup ops: cosine_near_pairs emits the pair
    list; cluster_representatives keeps the best copy per TRANSITIVE
    component. SemDeDup is the pairwise epsilon-ball prune the paper
    runs at web scale — a vector is dropped iff SOME earlier (smaller
    id) vector in its own cluster is within the ball; no transitive
    closure, no global pair materialization.

    Scale shape: the only shuffle is the self-join keyed on list_id,
    so the quadratic term is sum(cluster_size^2) — production dials
    n_centroids ~ sqrt(n) (the paper uses ~100k clusters for 10^9
    LAION embeddings), keeping each cluster a few thousand vectors.
    Assignment is the shared numpy-matmul UDF (_coarse_assigned); a
    malformed vector gets a null list_id, joins no pair and is kept.
    Cosines are rounded to 6dp so the DuckDB oracle reproduces the
    keep set bit-for-bit.
    ``lloyd_iters=0`` (strided seeds) is the oracle config; production
    refines with train_ivf_centroids.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_centroids=n_centroids, id_col=id_col,
            vec_col=vec_col, lloyd_iters=lloyd_iters,
        )
    assigned = _coarse_assigned(embeddings, centroids, id_col, vec_col)
    # stage the norm once per vector; the pair expression is then one
    # dot product + a division (the cosine_near_pairs discipline)
    assigned = assigned.withColumn("n", _norm(F.col("v")))
    # materialize the FULL assignment once (round 7: was a slim
    # (vec_id, list_id) cut only, which left the O(n*k*dim) assignment
    # subtree to run separately for EACH self-join side — two extra
    # scoring passes per action). One cut feeds the two join sides and
    # the verdict join; the extra materialized payload is the vector +
    # norm (~dim doubles/row), exactly the persisted-assignment layout
    # production keeps — sources/ann_index.py writes the same thing.
    assigned = assigned.localCheckpoint()
    slim = assigned.select("vec_id", "list_id")
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "list_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "list_id",
    )
    dup = (
        a.join(b, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                _dot_cols("va", "vb", len(centroids[0]))
                / (F.col("na") * F.col("nb")),
                6,
            )
            >= threshold
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return slim.join(
        dup.withColumn("__dup", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        "list_id",
        F.col("__dup").isNull().alias("is_kept"),
    )
