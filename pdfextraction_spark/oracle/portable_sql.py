"""DuckDB oracle SQL for the approximate dedup/ANN driver queries.

Closes VERDICT r2 item 1: the four `no_oracle` rows. Each Spark query
runs the one md5 hash family (md5-derived sketches, minhash's affine
permutations of an md5 base hash, deterministic integer hyperplanes —
functions/dedup.py, functions/similarity.py), and the SQL here
re-derives the ENTIRE pipeline — sketch, banding/bucketing, candidate
enumeration, exact verification, ranking — from the raw base tables,
so the driver's row/schema/value-hash compare is a full end-to-end
check, not a soundness spot-check.

Cross-engine equalities these rely on (probed empirically in
tests/test_portable_oracles.py):

- md5(utf8 text) is identical everywhere; 15 hex chars -> 60-bit
  positive int64 via strpos/shift == Spark conv(substr(md5,1,15),16,10)
- lowercase fixed-width hex strings order like the integers they
  encode, so MIN() over md5-prefix strings (winnowing) is MIN() over
  hash values
- minhash permutations (a*h + b) % (2^31 - 1) over non-negative h stay
  below 2^63, so BIGINT arithmetic is exact in both engines
- round(x*1000) (half away from zero on doubles) matches between
  engines, and integer-valued doubles below 2^53 make the plane dot
  products exact — bucket ids can never drift by an ulp
- cosine similarities are compared only after round(..., 6), the same
  tolerance the already-green exact ANN oracles use
"""

from __future__ import annotations

_HEX = "0123456789abcdef"

# md5 prefix (15 hex chars) -> 60-bit BIGINT, DuckDB side
_MD5_60 = (
    "list_sum([CAST(strpos('" + _HEX + "', substring(md5({expr}), j, 1)) - 1 "
    "AS BIGINT) << (4*(15-j)) for j in generate_series(1,15)])"
)


def _shingle_cte(table: str, n: int, prefix: str = "") -> str:
    """DISTINCT word n-gram shingles of lower(trim(text)) — mirrors
    dedup.with_shingles (docs shorter than n collapse to one shingle
    of the whole text). ``prefix`` namespaces the CTE names so the
    fragment composes into statements that already use toks/sh."""
    return f"""
        {prefix}toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
          FROM {table}
        ), {prefix}sh AS (
          SELECT DISTINCT doc_id,
            CASE WHEN len(t) < {n} THEN array_to_string(t, ' ')
                 ELSE array_to_string(t[i:i+{n - 1}], ' ') END AS s
          FROM {prefix}toks,
            LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - {n - 1}, 1))) AS i)
        )"""


def _minhash_sig_cte(num_hashes: int, bands: int, prefix: str = "") -> str:
    """``{prefix}sig(doc_id, band, key)`` over ``{prefix}sh`` — mirrors
    dedup.minhash_signatures + _band_bucket_rows: base hash
    h = md5_prefix60(s) % p, permutation i = min((a_i*h + b_i) % p)
    with the coefficients imported from functions/dedup.py, and the
    band key the comma-joined decimal values in permutation order.

    Only the first bands*r hashes are generated: when bands does not
    divide num_hashes the Spark side's _band_bucket_rows ignores the
    remainder hashes, and an `i // r` over the full range would
    fabricate a partial band the Spark plan never builds."""
    from ..functions.dedup import MINHASH_COEFFS, MINHASH_PRIME

    r = num_hashes // bands
    p = prefix
    coeffs = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(MINHASH_COEFFS[:bands * r])
    )
    h = _MD5_60.format(expr="s")
    return f"""{p}sig AS (
          SELECT doc_id, i // {r} AS band,
                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
          FROM (
            SELECT doc_id, c.i, MIN((c.a * h + c.b) % {MINHASH_PRIME}) AS mh
            FROM (SELECT doc_id, CAST({h} % {MINHASH_PRIME} AS BIGINT) AS h
                  FROM {p}sh) hs,
              (VALUES {coeffs}) c(i, a, b)
            GROUP BY doc_id, c.i
          ) mh
          GROUP BY doc_id, band
        )"""


def _minhash_pair_ctes(table: str, n: int = 3, num_hashes: int = 32,
                       bands: int = 8, threshold: float = 0.2,
                       prefix: str = "",
                       pair_pred: str = "{a} < {b}") -> str:
    """CTE chain ending in ``{prefix}pairs(id_a, id_b, jaccard)`` —
    the minhash-LSH near-dup pair derivation (_minhash_sig_cte
    signatures and band keys, band equi-join candidates whose doc ids
    satisfy ``pair_pred`` ({a}/{b} substituted), exact-Jaccard
    verification). The one home of the chain: minhash_lsh_pairs_sql,
    the curation funnel, and — with a cross-side ``pair_pred`` — the
    asymmetric join and the incremental_update composite all use it."""
    p = prefix
    pred = pair_pred.format(a="a.doc_id", b="b.doc_id")
    return f"""{_shingle_cte(table, n, prefix=p)},
        {_minhash_sig_cte(num_hashes, bands, prefix=p)}, {p}cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM {p}sig a
          JOIN {p}sig b ON a.band = b.band AND a.key = b.key AND ({pred})
        ), {p}sizes AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM {p}sh GROUP BY doc_id
        ), {p}inter AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
          FROM {p}cand c
          JOIN {p}sh a ON a.doc_id = c.id_a
          JOIN {p}sh b ON b.doc_id = c.id_b AND b.s = a.s
          GROUP BY c.id_a, c.id_b
        ), {p}pairs AS (
          SELECT i.id_a, i.id_b,
                 round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6)
                   AS jaccard
          FROM {p}inter i
          JOIN {p}sizes sa ON sa.doc_id = i.id_a
          JOIN {p}sizes sb ON sb.doc_id = i.id_b
          WHERE round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6)
                  >= {threshold}
        )"""


def minhash_lsh_pairs_sql(table: str = "documents", n: int = 3,
                          num_hashes: int = 32, bands: int = 8,
                          threshold: float = 0.2) -> str:
    """Mirror of minhash_lsh_pairs — see _minhash_pair_ctes for the
    chain."""
    return f"""
        WITH {_minhash_pair_ctes(table, n, num_hashes, bands, threshold)}
        SELECT id_a, id_b, jaccard FROM pairs
    """


def _simhash_sketch_ctes(table: str, n: int) -> str:
    """CTE chain ending in sk(doc_id, simhash) — mirror of
    simhash_portable60."""
    from ..functions.dedup import SIMHASH_BITS

    h60 = _MD5_60.format(expr="s")
    bit_sums = ",\n                 ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    recon = "\n                 + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST(1 AS BIGINT) << {b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""{_shingle_cte(table, n)},
        hv AS (
          SELECT doc_id, {h60} AS h FROM sh
        ), bits AS (
          SELECT doc_id,
                 {bit_sums}
          FROM hv GROUP BY doc_id
        ), sk AS (
          SELECT doc_id,
                 {recon} AS simhash
          FROM bits
        )"""


def simhash_sketch_sql(table: str = "documents", n: int = 2) -> str:
    """Mirror of simhash_portable60: (doc_id, simhash) for every doc."""
    return f"""
        WITH {_simhash_sketch_ctes(table, n)}
        SELECT doc_id, simhash FROM sk
    """


def simhash_pairs_sql(table: str = "documents", n: int = 2,
                      max_hamming: int = 3) -> str:
    """Mirror of simhash_near_pairs: banded blocking over the 60-bit
    sketch (max_hamming + 1 bands), exact Hamming verification."""
    from ..functions.dedup import SIMHASH_BITS, _band_bounds

    band_keys = []
    for bi, (start, width) in enumerate(
        _band_bounds(SIMHASH_BITS, max_hamming + 1)
    ):
        if start + width >= SIMHASH_BITS:
            expr = f"(simhash >> {start})"
        else:
            expr = f"((simhash >> {start}) & {(1 << width) - 1})"
        band_keys.append(f"({bi}, {expr})")
    bands_values = ", ".join(band_keys)
    return f"""
        WITH {_simhash_sketch_ctes(table, n)},
        bands AS (
          SELECT doc_id, simhash, bk.band, bk.key
          FROM sk, LATERAL (VALUES {bands_values}) AS bk(band, key)
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                 AS hamming
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.key = b.key
                    AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def _ngram_pairs_sql(table: str, n: int, threshold: float) -> str:
    """Standalone subquery yielding the exact n-gram Jaccard pairs
    (id_a, id_b) at ``threshold`` — the same semantics the green
    ngram_jaccard oracle checks, packaged for reuse as an edge list."""
    return f"""
          SELECT i.id_a, i.id_b
          FROM (
            WITH {_shingle_cte(table, n)},
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6)
                    >= {threshold}
          ) i"""


def _components_sql(table: str, n: int, threshold: float) -> str:
    """Shared recursive transitive-closure chain ending in
    comp(doc_id, cluster_id) over the exact n-gram Jaccard pair graph
    — one home for the closure both clustering oracles mirror."""
    return f"""cand AS ({_ngram_pairs_sql(table, n, threshold)}
        ), e AS (
          SELECT id_a AS a, id_b AS b FROM cand
          UNION
          SELECT id_b, id_a FROM cand
        ), reach(node, r) AS (
          SELECT doc_id, doc_id FROM {table}
          UNION
          SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node
        ), comp AS (
          SELECT node AS doc_id, MIN(r) AS cluster_id
          FROM reach GROUP BY node
        )"""


def dedup_clusters_sql(table: str = "documents", n: int = 3,
                       threshold: float = 0.2) -> str:
    """Mirror of operators/graph.dedup_clusters over the exact n-gram
    Jaccard pair graph: connected components as min-reachable-id via
    transitive closure (WITH RECURSIVE) — exact, so it checks the
    Spark label-propagation loop end to end."""
    return f"""
        WITH RECURSIVE {_components_sql(table, n, threshold)}, sizes AS (
          SELECT cluster_id, COUNT(*) AS cluster_size
          FROM comp GROUP BY cluster_id
        )
        SELECT c.doc_id, c.cluster_id, s.cluster_size,
               c.doc_id = c.cluster_id AS is_canonical
        FROM comp c JOIN sizes s USING (cluster_id)
    """


# first 8 md5 hex chars -> 32-bit int (for the uniform sampler)
_MD5_32 = (
    "list_sum([CAST(strpos('" + _HEX + "', substring(md5({expr}), j, 1)) - 1 "
    "AS BIGINT) << (4*(8-j)) for j in generate_series(1,8)])"
)


def hash_sample_sql(table: str = "documents", fraction: float = 0.3,
                    stratum_col: str = "source",
                    fractions: dict | None = None) -> str:
    """Mirror of functions/sampling.hash_sample (stratified mode):
    u = md5-32-bit uniform on the key, keep where u < the stratum's
    fraction."""
    u = _MD5_32.format(expr="CAST(doc_id AS VARCHAR)")
    frac_expr = str(float(fraction))
    for stratum, f in sorted((fractions or {}).items()):
        frac_expr = (
            f"CASE WHEN {stratum_col} = '{stratum}' THEN {float(f)} "
            f"ELSE {frac_expr} END"
        )
    return f"""
        SELECT doc_id, {stratum_col} AS stratum
        FROM {table}
        WHERE ({u}) / 4294967296.0 < ({frac_expr})
    """


def redact_pii_sql(table: str = "documents") -> str:
    """Mirror of functions/text.redact_pii + pii_counts: chained
    regexp_replace in PII_PATTERNS order, counts taken on the
    progressively-redacted text."""
    from ..functions.text import PII_PATTERNS

    cur = "text"
    selects = []
    for name, pat, repl in PII_PATTERNS:
        pat_sql = pat.replace("'", "''")
        selects.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat_sql}')) AS INTEGER)"
            f" AS n_{name}"
        )
        cur = f"regexp_replace({cur}, '{pat_sql}', '{repl}', 'g')"
    cols = ",\n               ".join(selects)
    return f"""
        SELECT doc_id,
               {cols},
               {cur} AS redacted
        FROM {table}
    """


def _plane_cte(bits: int, dim: int) -> str:
    """pl(b, d, w): md5-derived integer hyperplane components in
    [-8, 7] — mirror of similarity.det_int_planes."""
    return f"""
        pl AS (
          SELECT bb.b, dd.d,
                 CAST(strpos('{_HEX}', substring(md5(bb.b || ':' || dd.d), 1, 1)) - 9
                      AS DOUBLE) AS w
          FROM (SELECT unnest(generate_series(0, {bits - 1})) AS b) bb,
               (SELECT unnest(generate_series(0, {dim - 1})) AS d) dd
        )"""


def _vectors_cte(table: str, name: str = "e") -> str:
    """{name}(vec_id, v): the vectors with no null element. Spark
    scores a null cosine (never a candidate) for a null vector or one
    with a null element, so the oracles drop those rows up front; pairs of
    unequal width are excluded where the cosine is taken
    (``len(a.v) = len(b.v)``). list_filter rebuilds the lists: DuckDB's
    list_cosine_similarity rejects a null element anywhere in its
    input vector, even in a row a filter has already dropped."""
    return f"""
        {name} AS (
          SELECT vec_id,
                 list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NOT NULL)
                   AS v
          FROM {table}
          WHERE list_count(embedding) = len(embedding)
        )"""


def _bucket_ctes(table: str, bits: int, dim: int) -> str:
    """CTE chain ending in buck(vec_id, v, bucket) — mirror of
    lsh_bucket_id over det_int_planes. A vector whose width is not
    ``dim`` gets bucket 0, as in Spark (its plane dot products are
    null)."""
    return f"""{_vectors_cte(table)}, q AS (
          SELECT vec_id, v,
                 CASE WHEN len(v) = {dim} THEN
                   [round(v[d] * 1000) for d in generate_series(1, {dim})]
                 END AS qv
          FROM e
        ), {_plane_cte(bits, dim)},
        proj AS (
          SELECT q.vec_id, pl.b, SUM(q.qv[pl.d + 1] * pl.w) AS s
          FROM q, pl
          GROUP BY q.vec_id, pl.b
        ), buck AS (
          SELECT proj.vec_id, any_value(q.v) AS v,
                 SUM(CASE WHEN proj.s > 0
                          THEN CAST(1 AS BIGINT) << proj.b ELSE 0 END)
                   AS bucket
          FROM proj JOIN q ON q.vec_id = proj.vec_id
          GROUP BY proj.vec_id
        )"""


def _topk_sim(a: str, b: str) -> str:
    """The top-k score as Spark's round(cosine_sim, 6) gives it: NaN
    when either vector has an inf or NaN element (a squared norm that
    is not finite), where DuckDB's list_cosine_similarity returns -1.
    _TOPK_TAIL drops NaN scores, as _topk does."""
    return (f"CASE WHEN isfinite(list_inner_product({a}, {a}) "
            f"+ list_inner_product({b}, {b})) "
            f"THEN round(list_cosine_similarity({a}, {b}), 6) "
            f"ELSE CAST('NaN' AS DOUBLE) END")


_TOPK_TAIL = """
        agg AS (
          SELECT query_id, vec_id, MAX(sim) AS sim FROM scored
          WHERE sim IS NOT NULL AND NOT isnan(sim)
          GROUP BY query_id, vec_id
        ), ranked AS (
          SELECT query_id, vec_id, sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, vec_id ASC)
                      AS INTEGER) AS rank
          FROM agg
        )
        SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= {k}
"""


def ann_lsh_topk_sql(table: str = "embeddings", bits: int = 4,
                     dim: int = 64, k: int = 10,
                     n_queries: int = 5) -> str:
    """Mirror of lsh_bucket_topk: quantized sign-LSH buckets,
    query-side Hamming-1 multiprobe, exact cosine ranking of bucket
    candidates."""
    return f"""
        WITH {_bucket_ctes(table, bits, dim)},
        probes AS (
          SELECT vec_id AS query_id, bucket FROM buck
          WHERE vec_id < {n_queries}
          UNION ALL
          SELECT b2.vec_id, xor(b2.bucket, CAST(1 AS BIGINT) << fb.i)
          FROM buck b2,
               (SELECT unnest(generate_series(0, {bits - 1})) AS i) fb
          WHERE b2.vec_id < {n_queries}
        ), scored AS (
          SELECT p.query_id, c.vec_id,
                 {_topk_sim('qe.v', 'c.v')} AS sim
          FROM probes p
          JOIN buck c ON c.bucket = p.bucket
          JOIN e qe ON qe.vec_id = p.query_id
          WHERE c.vec_id <> p.query_id AND len(qe.v) = len(c.v)
        ),{_TOPK_TAIL.format(k=k)}
    """


def ann_cosine_topk_sql(k: int = 10, n_queries: int = 5) -> str:
    """Mirror of brute_force_topk for the queries vec_id < n_queries:
    exact cosine against every other vector, top-k per query."""
    return f"""
        WITH {_vectors_cte("embeddings")},
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 {_topk_sim('q.v', 'c.v')} AS sim
          FROM e q, e c
          WHERE q.vec_id < {n_queries} AND c.vec_id <> q.vec_id
            AND len(q.v) = len(c.v)
        ),{_TOPK_TAIL.format(k=k)}
    """


def cosine_near_pairs_sql(table: str = "embeddings",
                          threshold: float = 0.4) -> str:
    """Mirror of cosine_near_pairs(blocked=False): every pair a<b of
    equal width with exact cosine >= threshold."""
    return f"""
        WITH {_vectors_cte(table)}
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE len(a.v) = len(b.v)
          AND round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
    """


def _ivf_assigned_ctes(table: str, n_centroids: int) -> str:
    """CTE chain ending in assigned(vec_id, v, s, list_id) — mirror of
    train_ivf_centroids(lloyd_iters=0) + _coarse_assigned: strided
    seed centroids (the step counts every input row, as Spark's
    _strided_seed_vectors does), then each row's rounded-cosine
    scores against them and the first-wins argmax. Only rows with no
    null element and the centroids' width are assigned; Spark gives
    the others a null list_id. Spark scores in numpy
    (np_centroid_assign_udf): a BLAS matmul instead of a sequential
    sum, and half-to-even instead of DuckDB's half-away round. The
    6dp rounding absorbs the summation order; the rounding modes
    differ only on an exact 5e-7 boundary."""
    return f"""{_vectors_cte(table)}, st AS (
          SELECT greatest(COUNT(*) // {n_centroids}, 1) AS step
          FROM {table}
        ), cent AS (
          SELECT e.vec_id, e.v FROM e, st
          WHERE e.vec_id % st.step = 0
          ORDER BY e.vec_id LIMIT {n_centroids}
        ), cl AS (
          SELECT list(v ORDER BY vec_id) AS cents FROM cent
        ), scores AS (
          SELECT e.vec_id, e.v,
                 [round(list_cosine_similarity(e.v, c), 6)
                  for c in cl.cents] AS s
          FROM e, cl
          WHERE len(e.v) = len(cl.cents[1])
        ), assigned AS (
          SELECT vec_id, v, s,
                 CAST(list_position(s, list_max(s)) AS INTEGER) AS list_id
          FROM scores
        )"""


def cosine_near_pairs_blocked_sql(table: str = "embeddings",
                                  threshold: float = 0.4, bits: int = 8,
                                  dim: int = 64) -> str:
    """Mirror of cosine_near_pairs(blocked=True): pairs sharing a
    bucket (one side probing its Hamming-1 buckets), verified by exact
    cosine >= threshold."""
    return f"""
        WITH {_bucket_ctes(table, bits, dim)},
        pb AS (
          SELECT vec_id, bucket FROM buck
          UNION ALL
          SELECT b2.vec_id, xor(b2.bucket, CAST(1 AS BIGINT) << fb.i)
          FROM buck b2,
               (SELECT unnest(generate_series(0, {bits - 1})) AS i) fb
        ), pairs AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM buck a
          JOIN pb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT p.id_a, p.id_b,
               round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
        FROM pairs p
        JOIN e ea ON ea.vec_id = p.id_a
        JOIN e eb ON eb.vec_id = p.id_b
        WHERE len(ea.v) = len(eb.v)
          AND round(list_cosine_similarity(ea.v, eb.v), 6) >= {threshold}
    """


def ann_ivf_topk_sql(table: str = "embeddings", n_centroids: int = 16,
                     n_probe: int = 4, k: int = 10,
                     n_queries: int = 5) -> str:
    """Mirror of ivf_topk(lloyd_iters=0): the seed-centroid
    assignment of _ivf_assigned_ctes, top-n_probe list probing, exact
    cosine ranking of probed candidates."""
    return f"""
        WITH {_ivf_assigned_ctes(table, n_centroids)},
        probes AS (
          SELECT vec_id AS query_id, i AS list_id
          FROM (
            SELECT a.vec_id, u.i,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY a.s[u.i] DESC, u.i ASC) AS pr
            FROM assigned a,
                 (SELECT unnest(generate_series(1, {n_centroids})) AS i) u
            WHERE a.vec_id < {n_queries}
          ) WHERE pr <= {n_probe}
        ), scored AS (
          SELECT p.query_id, c.vec_id,
                 {_topk_sim('qe.v', 'c.v')} AS sim
          FROM probes p
          JOIN assigned c ON c.list_id = p.list_id
          JOIN e qe ON qe.vec_id = p.query_id
          WHERE c.vec_id <> p.query_id AND len(qe.v) = len(c.v)
        ),{_TOPK_TAIL.format(k=k)}
    """


def _grams_cte(n: int, src: str = "documents", id_expr: str = "doc_id",
               pred: str = "TRUE") -> str:
    """Word n-gram rows (id, gram) from space-split text — mirror of
    functions/repetition.word_ngrams (space-joined slices, docs with
    < n tokens contribute nothing)."""
    return f"""
          SELECT {id_expr} AS doc_id,
                 array_to_string(t[i:i+{n - 1}], ' ') AS gram
          FROM (SELECT {id_expr}, string_split(text, ' ') AS t
                FROM {src} WHERE {pred}) b,
               LATERAL (SELECT unnest(generate_series(
                          1, len(b.t) - {n - 1})) AS i) u
          WHERE len(b.t) >= {n}
    """


def ngram_repetition_stats_sql(top_ns=(2, 3), dup_ns=(5,),
                               table: str = "documents") -> str:
    """Mirror of functions/repetition.ngram_repetition_stats: integer
    char weights (count * gram length), one division at the end,
    round 6 — engine-identical doubles."""
    ns = sorted(set(top_ns) | set(dup_ns))
    ctes = ["base AS (SELECT doc_id, CAST(length(text) AS BIGINT)"
            f" AS total_chars FROM {table})"]
    joins = []
    cols = ["base.doc_id", "base.total_chars"]
    for n in ns:
        ctes.append(f"g{n} AS ({_grams_cte(n, src=table)})")
        ctes.append(
            f"c{n} AS (SELECT doc_id, gram, count(*) AS cnt"
            f" FROM g{n} GROUP BY doc_id, gram)"
        )
        ctes.append(
            f"a{n} AS (SELECT doc_id,"
            f" max(cnt * length(gram)) AS top_chars,"
            f" sum(cnt * length(gram)) FILTER (cnt >= 2) AS dup_chars,"
            f" count(*) FILTER (cnt >= 2) AS dup_grams"
            f" FROM c{n} GROUP BY doc_id)"
        )
        joins.append(f"LEFT JOIN a{n} ON a{n}.doc_id = base.doc_id")
        if n in top_ns:
            cols.append(
                f"CASE WHEN base.total_chars = 0 THEN 0.0 ELSE"
                f" round(coalesce(a{n}.top_chars, 0) / base.total_chars, 6)"
                f" END AS top{n}_frac"
            )
        if n in dup_ns:
            cols.append(
                f"CASE WHEN base.total_chars = 0 THEN 0.0 ELSE"
                f" round(coalesce(a{n}.dup_chars, 0) / base.total_chars, 6)"
                f" END AS dup{n}_frac"
            )
            cols.append(
                f"coalesce(a{n}.dup_grams, 0) AS dup{n}_grams"
            )
    return (
        "WITH " + ",\n        ".join(ctes)
        + "\n        SELECT " + ",\n               ".join(cols)
        + "\n        FROM base " + " ".join(joins)
    )


def contamination_hits_sql(n: int = 3, eval_mod: int = 41,
                           table: str = "documents") -> str:
    """Mirror of functions/repetition.contamination_hits with the
    driver's eval split: eval set = doc_id % eval_mod == 0, corpus =
    the rest."""
    return f"""
        WITH dg AS (
          SELECT DISTINCT doc_id, gram FROM (
            {_grams_cte(n, src=table, pred=f'doc_id % {eval_mod} <> 0')})
        ), eg AS (
          SELECT DISTINCT doc_id AS eval_id, gram FROM (
            {_grams_cte(n, src=table, pred=f'doc_id % {eval_mod} = 0')})
        ), totals AS (
          SELECT doc_id, count(*) AS doc_grams FROM dg GROUP BY doc_id
        ), hits AS (
          SELECT dg.doc_id, count(DISTINCT dg.gram) AS hit_grams,
                 min(eg.eval_id) AS min_eval_id
          FROM dg JOIN eg USING (gram) GROUP BY dg.doc_id
        )
        SELECT h.doc_id, h.hit_grams, t.doc_grams,
               round(h.hit_grams / t.doc_grams, 6) AS hit_frac,
               h.min_eval_id
        FROM hits h JOIN totals t USING (doc_id)
    """


def quota_sample_sql(k: int = 5, stratum_col: str = "lang",
                     table: str = "documents") -> str:
    """Mirror of functions/sampling.quota_sample: rank by the md5-32
    uniform (monotone in the 32-bit int, so order by the int), ties by
    key, keep rank <= k."""
    u = _MD5_32.format(expr="CAST(doc_id AS VARCHAR)")
    return f"""
        SELECT doc_id, {stratum_col}, sample_rank FROM (
          SELECT doc_id, {stratum_col},
                 row_number() OVER (PARTITION BY {stratum_col}
                                    ORDER BY ({u}) ASC, doc_id ASC)
                 AS sample_rank
          FROM {table}
        ) WHERE sample_rank <= {k}
    """


def corpus_token_stats_sql(rare_df_max: int = 2,
                           table: str = "documents") -> str:
    """Mirror of functions/repetition.corpus_token_stats: tf per
    (doc, token), df = docs per token, exact-integer ratios."""
    return f"""
        WITH tf AS (
          SELECT doc_id, tok, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM {table}
          ) GROUP BY doc_id, tok
        ), dfreq AS (
          SELECT tok, count(*) AS df FROM tf GROUP BY tok
        ), agg AS (
          SELECT tf.doc_id,
                 CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                 count(*) AS n_types,
                 CAST(coalesce(
                   sum(tf.tf) FILTER (dfreq.df <= {rare_df_max}), 0)
                   AS BIGINT) AS n_rare_tokens
          FROM tf JOIN dfreq USING (tok)
          GROUP BY tf.doc_id
        )
        SELECT doc_id, n_tokens, n_types,
               round(n_types / n_tokens, 6) AS ttr,
               n_rare_tokens,
               round(n_rare_tokens / n_tokens, 6) AS rare_ratio
        FROM agg
    """


def chunk_documents_sql(chunk_tokens: int = 128, stride: int = 96,
                        table: str = "documents") -> str:
    """Mirror of functions/chunking.chunk_documents: identical integer
    chunk-count formula and 1-based clamped list slices."""
    c, s = chunk_tokens, stride
    return f"""
        WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS t,
                 len(string_split(text, ' ')) AS n
          FROM {table}
        )
        SELECT doc_id,
               CAST(i AS INTEGER) AS chunk_idx,
               CAST(least(n - i * {s}, {c}) AS BIGINT) AS n_tokens,
               array_to_string(t[i * {s} + 1 : i * {s} + {c}], ' ')
                 AS chunk_text
        FROM base,
          LATERAL (SELECT unnest(generate_series(0,
            CASE WHEN n <= {c} THEN 0
                 ELSE (n - {c} + {s} - 1) // {s} END)) AS i) u
    """


def pack_tail_sql(src: str, capacity: int = 128, n_shards: int = 8,
                  id_col: str = "doc_id", idx_col: str = "chunk_idx",
                  len_col: str = "n_tokens") -> str:
    """The pack_chunks mirror TAIL (md5-32 shard bucket, within-shard
    running sum over (id, idx), integer bin/offset math) over an
    already-defined CTE ``src`` — single home for the packing
    contract, composed by pack_chunks_sql and the sft_packed oracle.
    Returns ``pk_sharded AS (...), pk_cum AS (...) SELECT ...`` for
    splicing at the end of a WITH chain."""
    u = _MD5_32.format(expr=f"CAST({id_col} AS VARCHAR)")
    return f"""pk_sharded AS (
          SELECT {id_col}, {idx_col}, {len_col},
                 CAST(floor(({u}) / 4294967296.0 * {n_shards})
                      AS INTEGER) AS shard
          FROM {src}
        ), pk_cum AS (
          SELECT {id_col}, {idx_col}, {len_col}, shard,
                 sum({len_col}) OVER (
                   PARTITION BY shard
                   ORDER BY {id_col} ASC, {idx_col} ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) - {len_col} AS start
          FROM pk_sharded
        )
        SELECT {id_col}, {idx_col}, {len_col}, shard,
               CAST(start // {capacity} AS BIGINT) AS bin_id,
               CAST(start % {capacity} AS BIGINT) AS bin_offset
        FROM pk_cum
    """


def pack_chunks_sql(chunk_tokens: int = 32, stride: int = 24,
                    capacity: int = 128, n_shards: int = 8,
                    table: str = "documents") -> str:
    """Mirror of chunk_documents |> pack_chunks: md5-32 shard bucket,
    within-shard running sum over (doc_id, chunk_idx), integer
    bin/offset math (pack_tail_sql, the single home)."""
    chunks = chunk_documents_sql(chunk_tokens, stride, table)
    return f"""
        WITH ch AS ({chunks}),
        {pack_tail_sql("ch", capacity=capacity, n_shards=n_shards)}
    """


def ngram_jaccard_join_sql(left_mod: int = 7, n: int = 3,
                           threshold: float = 0.2,
                           table: str = "documents") -> str:
    """Mirror of ngram_jaccard_join with the driver's split: left =
    doc_id % left_mod == 0 (the 'new batch'), right = the rest (the
    'existing corpus'). No stoplist term: the sf fixture has no
    shingle past the hot threshold, so the exact cross-side Jaccard
    over ALL shared shingles is the complete answer (the Spark side's
    hot-array add-back reduces to n_cold)."""
    return f"""
        WITH {_shingle_cte(table, n)},
        sl AS (SELECT doc_id AS left_id, s FROM sh
               WHERE doc_id % {left_mod} = 0),
        sr AS (SELECT doc_id AS right_id, s FROM sh
               WHERE doc_id % {left_mod} <> 0),
        sizes_l AS (SELECT left_id, count(*) AS n_l FROM sl
                    GROUP BY left_id),
        sizes_r AS (SELECT right_id, count(*) AS n_r FROM sr
                    GROUP BY right_id),
        inter AS (
          SELECT sl.left_id, sr.right_id, count(*) AS n_inter
          FROM sl JOIN sr ON sl.s = sr.s
          GROUP BY sl.left_id, sr.right_id
        )
        SELECT i.left_id, i.right_id,
               round(i.n_inter * 1.0 / (a.n_l + b.n_r - i.n_inter), 6)
                 AS jaccard
        FROM inter i
        JOIN sizes_l a USING (left_id)
        JOIN sizes_r b USING (right_id)
        WHERE round(i.n_inter * 1.0 / (a.n_l + b.n_r - i.n_inter), 6)
                >= {threshold}
    """


def minhash_lsh_join_sql(left_mod: int = 7, table: str = "documents",
                         n: int = 3, num_hashes: int = 32,
                         bands: int = 8,
                         threshold: float = 0.2) -> str:
    """Mirror of minhash_lsh_join with the driver's split (left =
    doc_id % left_mod == 0): minhash signatures over ALL docs,
    cross-side band-bucket candidates, exact cross-side Jaccard
    verification (shared chain: _minhash_pair_ctes)."""
    cross = f"{{a}} % {left_mod} = 0 AND {{b}} % {left_mod} <> 0"
    return f"""
        WITH {_minhash_pair_ctes(table, n, num_hashes, bands, threshold,
                                 pair_pred=cross)}
        SELECT id_a AS left_id, id_b AS right_id, jaccard FROM pairs
    """


def cosine_near_join_sql(left_mod: int = 7, table: str = "embeddings",
                         threshold: float = 0.4, bits: int = 8,
                         dim: int = 64) -> str:
    """Mirror of cosine_near_join with the registry query's split:
    left = vec_id % left_mod == 0 (probes its Hamming-1 buckets),
    right = the rest."""
    return f"""
        WITH {_bucket_ctes(table, bits, dim)},
        probes_l AS (
          SELECT vec_id AS left_id, bucket FROM buck
          WHERE vec_id % {left_mod} = 0
          UNION ALL
          SELECT b2.vec_id, xor(b2.bucket, CAST(1 AS BIGINT) << fb.i)
          FROM buck b2,
               (SELECT unnest(generate_series(0, {bits - 1})) AS i) fb
          WHERE b2.vec_id % {left_mod} = 0
        ), pairs AS (
          SELECT DISTINCT l.left_id, r.vec_id AS right_id
          FROM probes_l l
          JOIN buck r ON l.bucket = r.bucket
          WHERE r.vec_id % {left_mod} <> 0
        )
        SELECT p.left_id, p.right_id,
               round(list_cosine_similarity(el.v, er.v), 6) AS cos_sim
        FROM pairs p
        JOIN e el ON el.vec_id = p.left_id
        JOIN e er ON er.vec_id = p.right_id
        WHERE len(el.v) = len(er.v)
          AND round(list_cosine_similarity(el.v, er.v), 6) >= {threshold}
    """


def _pq_ctes(table: str, m: int, k: int, d: int) -> str:
    """Shared PQ CTE chain ending in codes(vec_id, j, code) plus the
    intermediate dists — one home for the codebook-derivation SQL so
    the encode and ADC oracles can never desynchronize. Spark
    computes the codes in numpy (np_pq_encode_udf), with the same
    6dp rounding and first-wins argmin (see _ivf_assigned_ctes on the
    rounding mode)."""
    return f"""e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}
        ), st AS (
          SELECT greatest(COUNT(*) // {k}, 1) AS step FROM e
        ), seed AS (
          SELECT e.vec_id, e.v FROM e, st
          WHERE e.vec_id % st.step = 0
          ORDER BY e.vec_id LIMIT {k}
        ), books AS (
          SELECT j.j,
                 row_number() OVER (PARTITION BY j.j
                                    ORDER BY seed.vec_id) AS c,
                 v[j.j * {d} + 1 : (j.j + 1) * {d}] AS cent
          FROM seed, (SELECT unnest(generate_series(0, {m - 1})) AS j) j
        ), dists AS (
          SELECT e.vec_id, b.j, b.c,
                 round(list_sum([pow(x, 2) for x in
                   list_transform(
                     list_zip(e.v[b.j * {d} + 1 : (b.j + 1) * {d}],
                              b.cent),
                     p -> p[1] - p[2])]), 6) AS dist
          FROM e, books b
        ), codes AS (
          SELECT vec_id, j, CAST(c AS INTEGER) AS code FROM (
            SELECT vec_id, j, c,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY dist ASC, c ASC) AS rn
            FROM dists
          ) WHERE rn = 1
        )"""


def pq_encode_sql(table: str = "embeddings", m: int = 8, k: int = 16,
                  dim: int = 64) -> str:
    """Mirror of pq_train_codebooks (strided seed subvectors) +
    pq_encode: per subspace, 1-based argmin of rounded squared L2 to
    the codebook (first-wins). Codes exported as a comma-joined
    string (driver canonicalization needs scalar columns)."""
    d = dim // m
    return f"""
        WITH {_pq_ctes(table, m, k, d)}
        SELECT vec_id,
               string_agg(CAST(code AS VARCHAR), ',' ORDER BY j)
                 AS codes
        FROM codes GROUP BY vec_id
    """


def pq_adc_topk_sql(table: str = "embeddings", m: int = 8, k_cent: int = 16,
                    dim: int = 64, k: int = 10,
                    n_queries: int = 5) -> str:
    """Mirror of pq_adc_topk: same seed codebooks + codes as
    pq_encode_sql (shared _pq_ctes), per-query exact sub-distance
    tables in integer micro-units (order-free BIGINT sums — an 8-term
    double sum's addition order is engine-dependent), rank by
    (micros, vec_id)."""
    d = dim // m
    return f"""
        WITH {_pq_ctes(table, m, k_cent, d)}, qt AS (
          SELECT vec_id AS query_id, j, c,
                 CAST(round(dist * 1000000) AS BIGINT) AS micros
          FROM dists WHERE vec_id < {n_queries}
        ), scored AS (
          SELECT qt.query_id, cd.vec_id,
                 CAST(SUM(qt.micros) AS BIGINT) AS approx_dist_micros
          FROM codes cd
          JOIN qt ON qt.j = cd.j AND qt.c = cd.code
          WHERE cd.vec_id <> qt.query_id
          GROUP BY qt.query_id, cd.vec_id
        ), ranked AS (
          SELECT query_id, vec_id, approx_dist_micros,
                 CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY approx_dist_micros ASC, vec_id ASC
                 ) AS INTEGER) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, approx_dist_micros, rank
        FROM ranked WHERE rank <= {k}
    """


def _winnow_fps_ctes(table: str, prefix: str = "") -> str:
    """CTE chain ending in ``{prefix}wsel(doc_id, fps)`` — the
    portable winnowing fingerprint derivation (char 8-grams of
    lower(text), window-4 minima, md5-prefix-16 hashes), one home for
    the chain the green winnow_fingerprints oracle checks so
    containment and fingerprint oracles can never desynchronize."""
    p = prefix
    return f"""{p}wg AS (
          SELECT doc_id, lower(text) AS t,
                 length(text) - 7 AS n_g
          FROM {table}
        ), {p}wsel AS (
          SELECT doc_id,
            CASE WHEN n_g <= 0 THEN []
                 WHEN n_g <= 4 THEN
                   [list_min([substring(md5(substring(t, i, 8)), 1, 16)
                              for i in generate_series(1, n_g)])]
                 ELSE
                   [list_min([substring(md5(substring(t, i, 8)), 1, 16)
                              for i in generate_series(j, j + 3)])
                    for j in generate_series(1, n_g - 3)]
            END AS fps
          FROM {p}wg
        )"""


def winnow_fingerprints_sql(table: str = "documents") -> str:
    """Mirror of text.winnowed (portable md5 family): sorted distinct
    fingerprints comma-joined + count, one row per doc (zero-fp docs
    keep an empty string)."""
    return f"""
        WITH {_winnow_fps_ctes(table)}
        SELECT doc_id,
               coalesce(array_to_string(list_sort(list_distinct(fps)),
                                        ','), '') AS fingerprints,
               CAST(len(list_distinct(fps)) AS BIGINT) AS n_fps
        FROM wsel
    """


def winnow_containment_sql(table: str = "documents",
                           threshold: float = 0.5,
                           max_fp_df: int = 1000) -> str:
    """Mirror of dedup.winnow_containment_pairs: containment(A in B)
    = |fp(A) ∩ fp(B)| / |fp(A)| over the shared winnow-fingerprint
    chain; candidates from cold-fp collisions only, exact
    intersection restored from per-doc hot-fp lists."""
    score = ("round((s.shared_cold + coalesce(len(list_intersect("
             "ha.hot_fps, hb.hot_fps)), 0)) * 1.0 / z.n_fps, 6)")
    return f"""
        WITH {_winnow_fps_ctes(table)}, wfp AS (
          SELECT doc_id, unnest(list_distinct(fps)) AS fp
          FROM wsel WHERE len(list_distinct(fps)) > 0
        ), fdf AS (
          SELECT fp, COUNT(*) AS fp_df FROM wfp GROUP BY fp
        ), cold AS (
          SELECT w.doc_id, w.fp
          FROM wfp w JOIN fdf USING (fp) WHERE fdf.fp_df <= {max_fp_df}
        ), hot AS (
          SELECT w.doc_id, list(w.fp ORDER BY w.fp) AS hot_fps
          FROM wfp w JOIN fdf USING (fp) WHERE fdf.fp_df > {max_fp_df}
          GROUP BY w.doc_id
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n_fps FROM wfp GROUP BY doc_id
        ), shared AS (
          SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
                 COUNT(*) AS shared_cold
          FROM cold a JOIN cold b ON a.fp = b.fp
                                 AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        )
        SELECT inner_id, outer_id, {score} AS containment
        FROM shared s
        LEFT JOIN hot ha ON ha.doc_id = s.inner_id
        LEFT JOIN hot hb ON hb.doc_id = s.outer_id
        JOIN sizes z ON z.doc_id = s.inner_id
        WHERE {score} >= {threshold}
    """


def hot_shingles_sql(table: str = "documents", n: int = 3,
                     max_df: int = 4) -> str:
    """Mirror of dedup.hot_shingles: distinct shingles with document
    frequency above max_df (the stoplist definition, shared shingle
    chain)."""
    return f"""
        WITH {_shingle_cte(table, n)}
        SELECT s AS sh FROM sh
        GROUP BY s HAVING count(*) > {max_df}
    """


def dup_rate_by_source_sql(table: str = "documents") -> str:
    """Mirror of q_dup_rate_by_source: the fixture union with
    whitespace/case-mangled copies of every 10th doc, then per-source
    distinct normalized-md5 fingerprint counts."""
    return f"""
        WITH all_docs AS (
          SELECT source, text FROM {table}
          UNION ALL
          SELECT source, '  ' || upper(text) || '   '
          FROM {table} WHERE doc_id % 10 = 0
        ), f AS (
          SELECT source,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fp
          FROM all_docs
        )
        SELECT source, count(*) AS n_docs,
               count(DISTINCT fp) AS n_unique,
               round(1 - count(DISTINCT fp) * 1.0 / count(*), 6)
                 AS dup_rate
        FROM f GROUP BY source
    """


def corpus_diff_sql(table: str = "documents") -> str:
    """Mirror of q_corpus_diff: old = docs minus id%11==5 (those are
    'added' in new), new = docs minus id%7==3 ('removed') with
    id%5==0 texts amended (' v2' suffix -> 'changed'); diff on the
    normalized md5 fingerprint via one full outer join."""
    norm = ("md5(regexp_replace(lower(trim({t})), '\\s+', ' ', 'g'))")
    return f"""
        WITH o AS (
          SELECT doc_id, {norm.format(t="text")} AS fp_old
          FROM {table} WHERE doc_id % 11 <> 5
        ), n AS (
          SELECT doc_id,
                 {norm.format(
                     t="CASE WHEN doc_id % 5 = 0 THEN text || ' v2' "
                       "ELSE text END")} AS fp_new
          FROM {table} WHERE doc_id % 7 <> 3
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.fp_old <> n.fp_new THEN 'changed'
               END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        WHERE CASE WHEN o.doc_id IS NULL THEN 'added'
                   WHEN n.doc_id IS NULL THEN 'removed'
                   WHEN o.fp_old <> n.fp_new THEN 'changed'
              END IS NOT NULL
    """


def tfidf_topk_sql(table: str = "documents", k: int = 5) -> str:
    """Mirror of repetition.tfidf_topk: whitespace terms of
    lower(trim(text)), TF x smooth-log IDF (ln((1+N)/(1+df)) + 1)
    rounded to 6dp, per-doc top-k by (tfidf desc, term asc)."""
    return f"""
        WITH tk AS (
          SELECT doc_id, unnest(list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> length(x) > 0)) AS term
          FROM {table}
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf
          FROM tk GROUP BY doc_id, term
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
          SELECT count(*) AS n FROM {table}
        ), scored AS (
          SELECT tf.doc_id, tf.term,
                 round(tf.tf * (ln((1.0 + n.n) / (1.0 + dfreq.df))
                                + 1.0), 6) AS tfidf
          FROM tf JOIN dfreq USING (term), n
        )
        SELECT doc_id, term, tfidf, rank FROM (
          SELECT doc_id, term, tfidf,
                 CAST(row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def dataset_split_sql(table: str = "documents", train: float = 0.8,
                      val: float = 0.1) -> str:
    """Mirror of sampling.dataset_split: md5-32 uniform thresholds.
    The threshold literals are formatted with repr() so both engines
    parse the identical decimal -> identical double -> identical
    comparisons."""
    u = _MD5_32.format(expr="CAST(doc_id AS VARCHAR)")
    return f"""
        SELECT doc_id, lang,
               CASE WHEN ({u}) / 4294967296.0 < {train!r} THEN 'train'
                    WHEN ({u}) / 4294967296.0 < {train + val!r} THEN 'val'
                    ELSE 'test' END AS split
        FROM {table}
    """


def corpus_length_quantiles_sql(table: str = "documents",
                                probs=(0.25, 0.5, 0.75, 0.9)) -> str:
    """Mirror of repetition.corpus_length_quantiles: R-7 interpolated
    quantiles (DuckDB quantile_cont == Spark percentile) of char and
    whitespace-token counts per lang."""
    cols = ["count(*) AS n_docs"]
    for p in probs:
        tag = f"p{int(round(p * 100))}"
        cols.append(f"round(quantile_cont(n_chars, {p!r}), 4)"
                    f" AS {tag}_chars")
        cols.append(f"round(quantile_cont(n_tokens, {p!r}), 4)"
                    f" AS {tag}_tokens")
    return f"""
        WITH base AS (
          SELECT lang AS stratum,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END AS BIGINT) AS n_tokens
          FROM {table}
        )
        SELECT stratum, {", ".join(cols)}
        FROM base GROUP BY stratum
    """


def ann_ivfpq_topk_sql(table: str = "embeddings", m: int = 8,
                       k_cent: int = 16, dim: int = 64,
                       n_probe: int = 4, k: int = 10,
                       n_queries: int = 5) -> str:
    """Mirror of ivfpq_topk(lloyd_iters=0, seed codebooks): the IVF
    coarse quantizer (strided seed centroids, rounded-cosine argmax
    assignment, top-n_probe probing — same chain as the green
    ann_ivf_topk oracle) restricts candidates, and ADC over PQ codes
    ranks them (same shared _pq_ctes + integer micro-unit tables as
    the green pq_adc_topk oracle). The coarse centroid count is tied
    to k_cent: both sides draw the SAME strided seed sample, so the
    `seed` CTE serves as both the codebook source and the coarse
    centroid list — mirroring the Spark driver config exactly."""
    d = dim // m
    return f"""
        WITH {_pq_ctes(table, m, k_cent, d)},
        {_vectors_cte(table, "ev")}, cl AS (
          SELECT list(v ORDER BY vec_id) AS cents FROM seed
        ), cscores AS (
          SELECT ev.vec_id,
                 [round(list_cosine_similarity(ev.v, c), 6)
                  for c in cl.cents] AS s
          FROM ev, cl
          WHERE len(ev.v) = {dim}
        ), asg AS (
          SELECT vec_id,
                 CAST(list_position(s, list_max(s)) AS INTEGER)
                   AS list_id,
                 s
          FROM cscores
        ), probes AS (
          SELECT vec_id AS query_id, i AS list_id
          FROM (
            SELECT a.vec_id, u.i,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY a.s[u.i] DESC, u.i ASC)
                     AS pr
            FROM asg a,
                 (SELECT unnest(generate_series(1, {k_cent})) AS i) u
            WHERE a.vec_id < {n_queries}
          ) WHERE pr <= {n_probe}
        ), qt AS (
          SELECT vec_id AS query_id, j, c,
                 CAST(round(dist * 1000000) AS BIGINT) AS micros
          FROM dists WHERE vec_id < {n_queries}
        ), scored AS (
          SELECT qt.query_id, cd.vec_id,
                 CAST(SUM(qt.micros) AS BIGINT) AS approx_dist_micros
          FROM codes cd
          JOIN asg a2 ON a2.vec_id = cd.vec_id
          JOIN probes p ON p.list_id = a2.list_id
          JOIN qt ON qt.query_id = p.query_id
                 AND qt.j = cd.j AND qt.c = cd.code
          WHERE cd.vec_id <> qt.query_id
          GROUP BY qt.query_id, cd.vec_id
        ), ranked AS (
          SELECT query_id, vec_id, approx_dist_micros,
                 CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY approx_dist_micros ASC, vec_id ASC
                 ) AS INTEGER) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, approx_dist_micros, rank
        FROM ranked WHERE rank <= {k}
    """


def cluster_representatives_sql(table: str = "documents", n: int = 3,
                                threshold: float = 0.2,
                                score_col: str = "n_chars") -> str:
    """Mirror of operators/graph.cluster_representatives over the
    exact Jaccard pair graph (shared _components_sql closure), scored
    by ``score_col`` (highest wins, ties -> smallest id)."""
    return f"""
        WITH RECURSIVE {_components_sql(table, n, threshold)}, scored AS (
          SELECT c.doc_id, c.cluster_id, d.{score_col} AS score
          FROM comp c JOIN {table} d USING (doc_id)
        ), best AS (
          SELECT cluster_id, doc_id AS rep_id FROM (
            SELECT cluster_id, doc_id,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY score DESC, doc_id ASC)
                     AS rn
            FROM scored
          ) WHERE rn = 1
        ), sizes AS (
          SELECT cluster_id, COUNT(*) AS cluster_size
          FROM scored GROUP BY cluster_id
        )
        SELECT s.doc_id, s.cluster_id, z.cluster_size,
               s.score AS {score_col},
               s.doc_id = b.rep_id AS is_representative
        FROM scored s
        JOIN best b USING (cluster_id)
        JOIN sizes z USING (cluster_id)
    """


def semantic_dedup_sql(table: str = "embeddings", n_centroids: int = 16,
                       threshold: float = 0.6) -> str:
    """Mirror of functions/similarity.semantic_dedup(lloyd_iters=0):
    the seed-centroid assignment of _ivf_assigned_ctes, then the
    within-cluster pairwise epsilon-ball prune — a vector is dropped
    iff a smaller-id member of its own cluster has rounded cosine >=
    threshold. An unassigned row has a null list_id and is kept."""
    return f"""
        WITH {_ivf_assigned_ctes(table, n_centroids)},
        dups AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a
          JOIN assigned b
            ON a.list_id = b.list_id AND a.vec_id < b.vec_id
          WHERE len(a.v) = len(b.v)
            AND round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
        )
        SELECT t.vec_id, a.list_id, d.vec_id IS NULL AS is_kept
        FROM {table} t
        LEFT JOIN assigned a ON a.vec_id = t.vec_id
        LEFT JOIN dups d ON d.vec_id = t.vec_id
    """


def mixture_weights_sql(table: str = "documents",
                        budget_tokens: int = 30000) -> str:
    """Mirror of functions/sampling.mixture_weights with the default
    uniform target mixture: per-source whitespace-token totals (the
    shared token_stats counting convention), an equal budget slice
    per source, and the epoch / clamped sampling-rate arithmetic."""
    return f"""
        WITH tok AS (
          SELECT source,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+'))
            END AS tok
          FROM {table}
        ), per AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(tok) AS BIGINT) AS n_tokens
          FROM tok GROUP BY source
        ), tot AS (
          SELECT COUNT(*) AS ns FROM per
        )
        SELECT source, n_docs, n_tokens,
               round(1.0 / ns, 4) AS weight,
               CAST(floor({float(budget_tokens)!r} * (1.0 / ns))
                    AS BIGINT) AS target_tokens,
               round(CASE WHEN n_tokens = 0 THEN 0.0
                          ELSE floor({float(budget_tokens)!r} * (1.0 / ns))
                               / n_tokens END, 4) AS epochs,
               round(least(1.0,
                     CASE WHEN n_tokens = 0 THEN 0.0
                          ELSE floor({float(budget_tokens)!r} * (1.0 / ns))
                               / n_tokens END), 4) AS sample_rate
        FROM per, tot
    """


def incremental_update_sql(table: str = "documents", n: int = 3,
                           num_hashes: int = 32, bands: int = 8,
                           threshold: float = 0.2) -> str:
    """Mirror of q_incremental_update: the corpus_diff derivation
    (old = minus id%11==5, new = minus id%7==3 with id%5==0 texts
    amended ' v2'), added/changed docs minhash-LSH joined against the
    retained docs via the SHARED chain (_minhash_pair_ctes over the
    NEW snapshot with a cross-side membership predicate), best match
    per incoming doc (jaccard desc, id asc), null-free verdict row."""
    norm = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    return f"""
        WITH nsnap AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                      ELSE text END AS text
          FROM {table} WHERE doc_id % 7 <> 3
        ), ofp AS (
          SELECT doc_id, {norm} AS fp
          FROM {table} WHERE doc_id % 11 <> 5
        ), nfp AS (
          SELECT doc_id, {norm} AS fp FROM nsnap
        ), incoming AS (
          SELECT n.doc_id,
                 CASE WHEN o.doc_id IS NULL THEN 'added'
                      ELSE 'changed' END AS status
          FROM nfp n LEFT JOIN ofp o ON o.doc_id = n.doc_id
          WHERE o.doc_id IS NULL OR o.fp <> n.fp
        ), {_minhash_pair_ctes(
            "nsnap", n, num_hashes, bands, threshold,
            pair_pred="{a} IN (SELECT doc_id FROM incoming) "
                      "AND {b} NOT IN (SELECT doc_id FROM incoming)")},
        best AS (
          SELECT id_a AS doc_id, id_b AS dup_of, jaccard FROM (
            SELECT id_a, id_b, jaccard,
                   row_number() OVER (PARTITION BY id_a
                                      ORDER BY jaccard DESC,
                                               id_b ASC) AS rn
            FROM pairs
          ) WHERE rn = 1
        )
        SELECT i.doc_id, i.status,
               CASE WHEN b.dup_of IS NULL THEN 'unique'
                    ELSE 'dup_of' END AS verdict,
               COALESCE(b.dup_of, -1) AS dup_of,
               COALESCE(b.jaccard, 0.0) AS jaccard
        FROM incoming i LEFT JOIN best b ON b.doc_id = i.doc_id
    """
