"""Driver-oracle SQL registry: for every SQL-expressible query in
pdfextraction_spark.queries there is a DuckDB oracle under the SAME
registry key (the driver runs both sides at sf0.01 and compares rows +
schema + value hashes). Golden-fixture oracles synthesize/read the
transcripts fixture parquet; portable dedup/ANN oracles re-derive the
md5 hash-family chains via pdfextraction_spark.oracle.portable_sql.

Moved verbatim from __spark_entry__.py (round-5 registry hygiene) —
parameters here MUST keep matching the corresponding q_* query calls.
"""

from __future__ import annotations

import os

_STOPWORDS_SQL = "('the','and','of','to','a','in','is','it','for','on','with','as','was','at','by','an','be','this','that','or')"
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def oracle_sql() -> dict[str, str]:
    from pdfextraction_spark.oracle import portable_sql as P

    return {
        "sessionize_events": f"""
            WITH g AS (
              SELECT user_id, ts, event_id,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR date_diff('second', lag(ts) OVER w, ts) > 1800
                     THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id, ts,
                CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   date_diff('second', MIN(ts), MAX(ts)) AS dur_sec
            FROM s GROUP BY user_id, session_id
        """,
        "longest_wins_merge": """
            WITH ranked AS (
              SELECT source, doc_id, text,
                row_number() OVER (PARTITION BY source
                                   ORDER BY length(text) DESC, doc_id ASC) AS rn
              FROM documents
            )
            SELECT r.source,
                   MAX(CASE WHEN rn = 1 THEN doc_id END) AS best_doc_id,
                   MAX(length(text)) AS best_len,
                   COUNT(*) AS n_docs,
                   COUNT(DISTINCT text) > 1 AS conflict_detected
            FROM ranked r GROUP BY r.source
        """,
        "topk_recent": """
            SELECT event_id, ts, event_type FROM events
            ORDER BY ts DESC, event_id ASC LIMIT 10
        """,
        "windowed_sums": """
            SELECT event_type, COUNT(*) AS n,
                   round(SUM(value), 4) AS total_value
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-02'
              AND ts < TIMESTAMP '2024-01-05'
            GROUP BY event_type
        """,
        "group_stats": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   round(SUM(l_quantity), 2) AS sum_qty,
                   round(AVG(l_quantity), 4) AS avg_qty,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "ordered_accumulate": """
            SELECT l_orderkey, COUNT(*) AS n_lines,
                   string_agg(l_linenumber || ':' || CAST(l_quantity AS INTEGER),
                              ',' ORDER BY l_linenumber,
                                           CAST(l_quantity AS INTEGER)) AS acc,
                   COUNT(DISTINCT CAST(l_quantity AS INTEGER)) > 1 AS mixed_rows
            FROM lineitem GROUP BY l_orderkey
        """,
        "token_stats": f"""
            WITH base AS (
              SELECT doc_id, text,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws,
                len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe,
                length(text) AS n_chars,
                length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                          x -> x IN {_STOPWORDS_SQL})) END AS n_stop,
                length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) AS n_ascii
              FROM documents
            )
            SELECT doc_id,
                   n_ws AS n_ws_tokens,
                   n_bpe AS n_bpe_tokens,
                   round(CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct * 1.0 / n_chars END, 4) AS punct_ratio,
                   round(CASE WHEN n_ws = 0 THEN 0.0 ELSE n_stop * 1.0 / n_ws END, 4) AS stopword_ratio,
                   round((least(n_chars / 500.0, 1.0)
                          + (1.0 - least((CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct * 1.0 / n_chars END) * 4.0, 1.0))
                          + least((CASE WHEN n_ws = 0 THEN 0.0 ELSE n_stop * 1.0 / n_ws END) * 5.0, 1.0)) / 3.0, 4) AS quality,
                   (CASE WHEN n_ws = 0 THEN 0.0 ELSE n_stop * 1.0 / n_ws END) >= 0.05
                     AND n_ascii * 1.0 / greatest(n_chars, 1) >= 0.9 AS is_en,
                   n_ws >= 3 AS table_hint
            FROM base
        """,
        "json_extract": """
            SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
                   COUNT(*) AS n,
                   MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
            FROM events GROUP BY 1
        """,
        "format_pairs": """
            SELECT n_nationkey AS nationkey,
                   n_name || ':' || chr(9) || r_name AS formatted
            FROM nation JOIN region ON n_regionkey = r_regionkey
        """,
        "hypertable_rollup": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   strftime(ts, '%H') AS hour,
                   COUNT(*) AS n, round(SUM(value), 4) AS total_value
            FROM events
            GROUP BY GROUPING SETS ((day, hour), (day))
        """,
        "range_band_join": """
            WITH bands(band, lo, hi) AS (
              VALUES ('low', 0.0, 10.0), ('mid', 10.0, 50.0),
                     ('high', 50.0, 1e9)
            )
            SELECT band, COUNT(*) AS n, round(AVG(value), 4) AS avg_value
            FROM events JOIN bands ON value >= lo AND value < hi
            GROUP BY band
        """,
        "asof_latest_click": """
            SELECT e.event_id, e.user_id, e.ts, c.ts AS asof_ts
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'error') e
            ASOF JOIN (SELECT user_id, ts FROM events
                       WHERE event_type = 'click') c
              ON e.user_id = c.user_id AND e.ts >= c.ts
        """,
        "trigram_lang": """
            WITH scored AS (
              SELECT doc_id,
                ((length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'and', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'ing', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'ion', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'ent', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'her', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'for', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'tha', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'ter', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'est', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'ers', ''))) / 3
               + (length(lower(text)) - length(replace(lower(text), 'ati', ''))) / 3
                ) * 1.0 / greatest(length(text) - 2, 1) AS raw
              FROM documents
            )
            SELECT doc_id, round(raw, 6) AS en_score,
                   raw >= 0.01 AS looks_en
            FROM scored
        """,
        "dedup_exact": """
            SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
            FROM (SELECT doc_id,
                         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm_text
                  FROM documents)
            GROUP BY norm_text
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "winnow_fingerprints": P.winnow_fingerprints_sql(),
        "ngram_jaccard": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
                     ELSE array_to_string(t[i:i+2], ' ') END AS s
              FROM toks,
                LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i)
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
        """,
        "ann_cosine_topk": P.ann_cosine_topk_sql(k=10, n_queries=5),
        "cosine_near_pairs": P.cosine_near_pairs_sql(threshold=0.4),
        "monthly_rollup": """
            SELECT n_name AS nation, strftime(o_orderdate, '%Y-%m') AS month,
                   COUNT(*) AS n_orders, round(SUM(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        """,
        **_portable_oracle_sql(),
        **_golden_oracle_sql(),
    }


def _portable_oracle_sql() -> dict[str, str]:
    """Full-pipeline DuckDB oracles for the approximate dedup/ANN
    queries (portable md5 hash family — closes VERDICT r2 item 1; see
    pdfextraction_spark/oracle/portable_sql.py for the cross-engine
    equalities these rely on). Parameters here MUST match the
    corresponding q_* query calls."""
    from pdfextraction_spark.oracle import portable_sql as P

    return {
        "minhash_lsh_pairs": P.minhash_lsh_pairs_sql(threshold=0.2),
        "simhash_sketch": P.simhash_sketch_sql(),
        "simhash_pairs": P.simhash_pairs_sql(max_hamming=3),
        "ann_lsh_topk": P.ann_lsh_topk_sql(bits=4, k=10, n_queries=5),
        "ann_ivf_topk": P.ann_ivf_topk_sql(n_centroids=16, n_probe=4,
                                           k=10, n_queries=5),
        # bits=4 at this fixture scale: the threshold (0.4) is far
        # below the near-dup regime LSH is built for, so wider buckets
        # buy recall (35/59 of the exact pairs vs 9/59 at bits=8);
        # bits is the occupancy dial you raise with corpus size
        "cosine_near_pairs_blocked": P.cosine_near_pairs_blocked_sql(
            threshold=0.4, bits=4
        ),
        "dedup_clusters": P.dedup_clusters_sql(threshold=0.2),
        "hash_sample": P.hash_sample_sql(
            fraction=0.3, fractions={"src0": 1.0, "src1": 0.05}
        ),
        "redact_pii": P.redact_pii_sql(),
        "repetition_stats": P.ngram_repetition_stats_sql(
            top_ns=(2, 3), dup_ns=(2,)
        ),
        "contamination_hits": P.contamination_hits_sql(n=3, eval_mod=41),
        "corpus_token_stats": P.corpus_token_stats_sql(rare_df_max=385),
        "quota_sample": P.quota_sample_sql(k=5, stratum_col="lang"),
        "cluster_representatives": P.cluster_representatives_sql(
            threshold=0.2, score_col="n_chars"),
        "ngram_jaccard_join": P.ngram_jaccard_join_sql(left_mod=7,
                                                       threshold=0.2),
        "minhash_lsh_join": P.minhash_lsh_join_sql(left_mod=7,
                                                   threshold=0.2),
        "cosine_near_join": P.cosine_near_join_sql(left_mod=7,
                                                   threshold=0.4,
                                                   bits=4),
        "pq_encode": P.pq_encode_sql(m=8, k=16, dim=64),
        "pq_adc_topk": P.pq_adc_topk_sql(m=8, k_cent=16, dim=64,
                                         k=10, n_queries=5),
        "ann_ivfpq_topk": P.ann_ivfpq_topk_sql(m=8, k_cent=16, dim=64,
                                               n_probe=4, k=10,
                                               n_queries=5),
        # identical chain: the indexed query persists + restores the
        # same seed quantizers, so the raw-table oracle re-derivation
        # certifies the parquet round-trip end to end
        "ann_ivfpq_indexed": P.ann_ivfpq_topk_sql(m=8, k_cent=16,
                                                  dim=64, n_probe=4,
                                                  k=10, n_queries=5),
        "chunk_documents": P.chunk_documents_sql(chunk_tokens=32,
                                                 stride=24),
        "pack_chunks": P.pack_chunks_sql(chunk_tokens=32, stride=24,
                                         capacity=128, n_shards=8),
        "curation_funnel": _curation_funnel_sql(),
        "curation_funnel_v2": _curation_funnel_sql(near_dup=True),
        "hot_shingles": P.hot_shingles_sql(max_df=4),
        "dup_rate_by_source": P.dup_rate_by_source_sql(),
        "corpus_diff": P.corpus_diff_sql(),
        "winnow_containment": P.winnow_containment_sql(threshold=0.3),
        "tfidf_topk": P.tfidf_topk_sql(k=5),
        "dataset_split": P.dataset_split_sql(train=0.8, val=0.1),
        "length_quantiles": P.corpus_length_quantiles_sql(),
        "semantic_dedup": P.semantic_dedup_sql(n_centroids=16,
                                               threshold=0.3),
        "mixture_weights": P.mixture_weights_sql(budget_tokens=30000),
        "incremental_update": P.incremental_update_sql(threshold=0.2),
    }


def _curation_funnel_sql(q_min: float = 0.5, top2_max: float = 0.12,
                         k: int = 10, near_dup: bool = False,
                         nd_threshold: float = 0.2) -> str:
    """Mirror of q_curation_funnel / q_curation_funnel_v2:
    quality/language fragments copied verbatim from the (oracle-green)
    token_stats SQL, md5-normalized exact-dedup canon, top-2-gram
    repetition gate, md5-32 quota rank. ``near_dup=True`` inserts the
    v2 stage 2b — the minhash-LSH pair chain (shared
    _minhash_pair_ctes, the exact chain the green minhash_lsh_pairs
    row checks) feeding a WITH RECURSIVE transitive closure and a
    keep-best-quality representative pick. Parameters MUST match the
    q_curation_funnel* calls."""
    from pdfextraction_spark.oracle.portable_sql import (
        _MD5_32,
        _minhash_pair_ctes,
    )

    stop_ratio = ("(CASE WHEN n_ws = 0 THEN 0.0 "
                  "ELSE n_stop * 1.0 / n_ws END)")
    punct_ratio = ("(CASE WHEN n_chars = 0 THEN 0.0 "
                   "ELSE n_punct * 1.0 / n_chars END)")
    u = _MD5_32.format(expr="CAST(doc_id AS VARCHAR)")
    nd_block = ""
    kept_src = "surv"
    recursive = ""
    if near_dup:
        recursive = "RECURSIVE "
        kept_src = "surv2"
        nd_block = f"""{_minhash_pair_ctes(
            "surv", n=3, num_hashes=32, bands=8,
            threshold=nd_threshold, prefix="mh_")},
        und AS (
          SELECT id_a AS a, id_b AS b FROM mh_pairs
          UNION
          SELECT id_b, id_a FROM mh_pairs
        ), reach(node, r) AS (
          SELECT doc_id, doc_id FROM surv
          UNION
          SELECT und.a, reach.r FROM und JOIN reach ON und.b = reach.node
        ), comp AS (
          SELECT node AS doc_id, MIN(r) AS cluster_id
          FROM reach GROUP BY node
        ), reps AS (
          SELECT doc_id FROM (
            SELECT c.doc_id,
                   row_number() OVER (PARTITION BY c.cluster_id
                                      ORDER BY s.q_score DESC,
                                               c.doc_id ASC) AS rn
            FROM comp c JOIN surv s USING (doc_id)
          ) WHERE rn = 1
        ), surv2 AS (
          SELECT s.doc_id, s.text, s.lang
          FROM surv s JOIN reps USING (doc_id)
        ),"""
    return f"""
        WITH {recursive}q AS (
          SELECT doc_id, text, lang,
            length(text) AS n_chars,
            length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
              AS n_punct,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
              AS n_ws,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(list_filter(
                        regexp_split_to_array(lower(trim(text)), '\\s+'),
                        x -> x IN {_STOPWORDS_SQL})) END AS n_stop,
            length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))
              AS n_ascii
          FROM documents
        ), gated AS (
          SELECT doc_id, text, lang,
                 round((least(n_chars / 500.0, 1.0)
                  + (1.0 - least({punct_ratio} * 4.0, 1.0))
                  + least({stop_ratio} * 5.0, 1.0)) / 3.0, 4) AS q_score
          FROM q
          WHERE round((least(n_chars / 500.0, 1.0)
                 + (1.0 - least({punct_ratio} * 4.0, 1.0))
                 + least({stop_ratio} * 5.0, 1.0)) / 3.0, 4) >= {q_min}
            AND {stop_ratio} >= 0.05
            AND n_ascii * 1.0 / greatest(n_chars, 1) >= 0.9
        ), canon AS (
          SELECT min(doc_id) AS doc_id FROM (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                     AS fp
            FROM gated
          ) GROUP BY fp
        ), surv AS (
          SELECT g.doc_id, g.text, g.lang, g.q_score
          FROM gated g JOIN canon USING (doc_id)
        ), {nd_block} toks AS (
          SELECT doc_id, length(text) AS total_chars,
                 string_split(text, ' ') AS t
          FROM {kept_src}
        ), g2 AS (
          SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
          FROM toks, LATERAL (SELECT unnest(generate_series(
                       1, len(toks.t) - 1)) AS i) u
          WHERE len(t) >= 2
        ), c2 AS (
          SELECT doc_id, gram, count(*) AS cnt FROM g2
          GROUP BY doc_id, gram
        ), a2 AS (
          SELECT doc_id, max(cnt * length(gram)) AS top_chars FROM c2
          GROUP BY doc_id
        ), calm AS (
          SELECT tk.doc_id
          FROM toks tk LEFT JOIN a2 USING (doc_id)
          WHERE round(coalesce(a2.top_chars, 0) / tk.total_chars, 6)
                <= {top2_max}
        ), final AS (
          SELECT s.doc_id, s.lang
          FROM {kept_src} s JOIN calm USING (doc_id)
        )
        SELECT doc_id, lang, sample_rank FROM (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY ({u}) ASC, doc_id ASC)
                   AS sample_rank
          FROM final
        ) WHERE sample_rank <= {k}
    """


def _golden_oracle_sql() -> dict[str, str]:
    """DuckDB oracles for the extraction-family queries: plain SQL over
    parquet written by the LOOP-BASED oracle (pdfextraction_spark/
    oracle/, the reference-semantics mirror) — independent of every
    vectorized kernel the Spark queries execute. Golden tables are
    (re)generated on demand, version-keyed; paths are for the 's'
    fixture tier, which is what the driver's sf0.01 correctness run
    maps to."""
    from fixtures.golden import ensure_golden
    from pdfextraction_spark.oracle import portable_sql as P
    from pdfextraction_spark.sources.transcripts import (
        ensure_fixture_parquet,
    )

    fx = ensure_fixture_parquet("s")

    def lm_ctes() -> str:
        """Shared unigram-LM CTE chain (tokenize -> counts -> top-V
        vocab -> logp table -> per-token scores -> per-doc ppl) — one
        home for the lm_perplexity and ppl_buckets oracles so the
        tokenization / tie-break / OOV-type-spread semantics can
        never desynchronize. Mirrors functions/lm.py with
        vocab_size=20, alpha=1 (denominator uses the REALIZED
        vocab count + 1, mirroring functions/lm.py)."""
        return """toks0 AS (
              SELECT doc_id,
                unnest(regexp_split_to_array(
                  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                  ' ')) AS tok
              FROM documents
            ), toks AS (
              SELECT doc_id, tok FROM toks0 WHERE tok <> ''
            ), counts AS (
              SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
            ), tot AS (
              SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts
            ), vocab AS (
              SELECT tok, c FROM counts ORDER BY c DESC, tok ASC LIMIT 20
            ), iv AS (
              SELECT CAST(coalesce(SUM(c), 0) AS BIGINT) AS s FROM vocab
            ), lmt AS (
              SELECT tok,
                     ln((c + 1.0) / ((SELECT n FROM tot)
                        + (SELECT COUNT(*) FROM vocab) + 1.0)) AS logp
              FROM vocab
            ), scored AS (
              SELECT t.doc_id,
                     coalesce(l.logp,
                       ln(((SELECT n FROM tot) - (SELECT s FROM iv) + 1.0)
                          / ((SELECT n FROM tot)
                             + (SELECT COUNT(*) FROM vocab) + 1.0))
                       - ln(greatest(
                           (SELECT COUNT(*) FROM counts)
                           - (SELECT COUNT(*) FROM vocab), 1))) AS lp
              FROM toks t LEFT JOIN lmt l ON t.tok = l.tok
            ), ppl AS (
              SELECT doc_id, COUNT(*) AS n_tokens,
                     EXP(-AVG(lp)) AS ppl
              FROM scored GROUP BY doc_id
            )"""


    def ctx_window_ctes(extra_cols: str = "") -> str:
        """Shared tk/c/j CTE chain of the budget-100 context-window
        derivation over golden turns (single home — the
        context_windows and sft_samples oracles compose it, so the
        tokenization/window-start semantics can never desynchronize).
        ``extra_cols`` rides passthrough columns (e.g. ', role')."""
        return f"""tk AS (
              SELECT conv_id, turn_idx{extra_cols},
                CASE WHEN length(trim(coalesce(extracted_text, ''))) = 0
                       THEN 0
                     ELSE len(regexp_split_to_array(
                            trim(coalesce(extracted_text, '')),
                            '\\s+')) END AS tok
              FROM read_parquet('{t("turns")}')
            ), c AS (
              SELECT conv_id, turn_idx{extra_cols}, tok,
                     SUM(tok) OVER w AS cum,
                     row_number() OVER w AS rn
              FROM tk
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ), j AS (
              SELECT a.conv_id, a.turn_idx{extra_cols.replace(", ", ", a.") if extra_cols else ""},
                     a.tok, a.cum, a.rn,
                     min(b.rn) AS jrn,
                     min(b.turn_idx) AS jidx,
                     min(b.cum - b.tok) AS jprefix
              FROM c a LEFT JOIN c b
                ON a.conv_id = b.conv_id AND b.rn <= a.rn
               AND (b.cum - b.tok) >= a.cum - 100
              GROUP BY a.conv_id, a.turn_idx{extra_cols.replace(", ", ", a.") if extra_cols else ""},
                       a.tok, a.cum, a.rn
            )"""

    g = ensure_golden("s")

    def t(name: str) -> str:
        return os.path.join(g, f"{name}.parquet")

    quality_feat = """
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws,
              length(text) AS n_chars,
              length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                        x -> x IN {stop})) END AS n_stop,
              length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) AS n_ascii
    """.format(stop=_STOPWORDS_SQL)
    return {
        "extract_turns": f"""
            SELECT conv_id, turn_idx, role, ts, payload_kind,
                   extracted_text, spans, blocks_kept, blocks_dropped,
                   parse_failed
            FROM read_parquet('{t("turns")}')
        """,
        "extract_metrics": f"""
            SELECT payload_kind, COUNT(*) AS n_turns,
                   CAST(SUM(blocks_kept) AS BIGINT) AS blocks_kept,
                   CAST(SUM(blocks_dropped) AS BIGINT) AS blocks_dropped,
                   CAST(SUM(CAST(parse_failed AS INTEGER)) AS BIGINT) AS parse_failures
            FROM read_parquet('{t("turns")}')
            GROUP BY payload_kind
        """,
        "merge_conv_fields": f"""
            SELECT conv_id, field, value, source_turn, conflict_detected,
                   n_occurrences
            FROM read_parquet('{t("merge")}')
        """,
        "conv_schema": f"""
            SELECT conv_id,
                   string_agg(field, ',' ORDER BY field) AS form_fields,
                   COUNT(*) AS n_fields
            FROM read_parquet('{t("merge")}')
            GROUP BY conv_id
        """,
        "extract_tables": f"""
            SELECT conv_id, turn_idx, table_idx, headers, columns,
                   row_idx, cells
            FROM read_parquet('{t("tables")}')
        """,
        "table_anomalies": f"""
            SELECT conv_id, turn_idx, table_idx, COUNT(*) AS n_rows,
                   COUNT(DISTINCT len(list_filter(string_split(cells, chr(31)),
                                                  x -> x <> chr(0)))) > 1 AS anomaly
            FROM read_parquet('{t("tables")}')
            GROUP BY conv_id, turn_idx, table_idx
        """,
        "template_apply": f"""
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   field, value, source, found,
                   CAST(created_from_turn AS BIGINT) AS created_from_turn,
                   template_version
            FROM read_parquet('{t("template_apply")}')
        """,
        "render_pages": f"""
            SELECT conv_id, turn_idx, dpi, width, height, n_words,
                   ink_pixels, rendered, png_bytes
            FROM read_parquet('{t("render")}')
        """,
        "spacing_stats": f"""
            SELECT conv_id, turn_idx,
                   round(avg_spacing, 4) AS avg_spacing,
                   round(median_spacing, 4) AS median_spacing,
                   round(spacing_std, 4) AS spacing_std
            FROM read_parquet('{t("spacing")}')
        """,
        "fence_json": f"""
            SELECT conv_id, turn_idx, status, "count", n_items
            FROM read_parquet('{t("fence")}')
        """,
        "classify_blocks": f"""
            WITH f AS (
              SELECT conv_id, turn_idx,
                     CAST(len(list_filter(string_split(spans, '|'),
                                          s -> s LIKE 'fields:%')) AS BIGINT)
                       AS n_field_lines
              FROM read_parquet('{t("turns")}')
              WHERE payload_kind = 'pdf_layout' AND NOT parse_failed
            ), tr AS (
              SELECT conv_id, turn_idx,
                     CAST(COUNT(DISTINCT table_idx) AS BIGINT) AS n_table_regions
              FROM read_parquet('{t("tables")}')
              GROUP BY conv_id, turn_idx
            )
            SELECT f.conv_id, f.turn_idx,
                   CASE WHEN coalesce(tr.n_table_regions, 0) > 0
                             AND f.n_field_lines > 0 THEN 'mixed'
                        WHEN coalesce(tr.n_table_regions, 0) > 0 THEN 'table'
                        WHEN f.n_field_lines > 0 THEN 'form'
                        ELSE 'unknown' END AS block_class,
                   CASE WHEN coalesce(tr.n_table_regions, 0) > 0
                             OR f.n_field_lines > 0
                        THEN round(0.5 + 0.1 * least(
                               f.n_field_lines
                                 + 2 * coalesce(tr.n_table_regions, 0), 4), 2)
                        ELSE 0.0 END AS confidence,
                   coalesce(tr.n_table_regions, 0) AS n_table_regions,
                   f.n_field_lines
            FROM f LEFT JOIN tr USING (conv_id, turn_idx)
        """,
        "merge_tables": f"""
            SELECT conv_id, headers, total_rows, source_turns,
                   rows_by_turn, spans_multiple_turns
            FROM read_parquet('{t("table_merge")}')
        """,
        "schema_norm": f"""
            SELECT sample_id, normalized
            FROM read_parquet('{t("schema_norm")}')
        """,
        "extraction_anomalies": f"""
            SELECT conv_id, anomaly_type, subject, issue, detail
            FROM read_parquet('{t("anomalies")}')
        """,
        "apply_corrections": f"""
            SELECT conv_id, field, value, source, machine_value,
                   source_turn, conflict_detected
            FROM read_parquet('{t("corrections")}')
        """,
        "final_json": f"""
            SELECT conv_id, final_json
            FROM read_parquet('{t("final_json")}')
        """,
        "image_features": f"""
            SELECT media_id, width, height, mean_byte, std_byte, phash
            FROM read_parquet('{t("image_features")}')
        """,
        "audio_features": f"""
            SELECT media_id, sample_rate, duration_sec, rms, zcr, peak
            FROM read_parquet('{t("audio_features")}')
        """,
        "video_frames": f"""
            SELECT media_id, frame_idx, frame_mean, frame_std,
                   frame_digest, decoded
            FROM read_parquet('{t("video_frames")}')
        """,
        "text_guards": f"""
            SELECT conv_id, turn_idx,
                   CASE WHEN length(coalesce(text, '')) > 200
                        THEN substr(coalesce(text, ''), 1, 200) || '...'
                        ELSE coalesce(text, '') END AS preview,
                   length(substr(coalesce(text, ''), 1, 4000)) AS clipped_4000_len,
                   length(substr(coalesce(text, ''), 1, 3000)) AS clipped_3000_len,
                   CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                        ELSE len(regexp_split_to_array(
                               trim(coalesce(text, '')), '\\s+')) END AS word_count
            FROM read_parquet('{fx}')
        """,
        "usage_costs": f"""
            WITH tok AS (
              SELECT conv_id, turn_idx, role,
                CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                     ELSE len(regexp_split_to_array(
                            trim(coalesce(text, '')), '\\s+')) END AS wc
              FROM read_parquet('{fx}')
            ), calls AS (
              SELECT
                CASE (ascii(substr(md5(conv_id), 1, 1)) % 5)
                  WHEN 0 THEN 'gpt-3.5-turbo' WHEN 1 THEN 'gpt-4o-mini'
                  WHEN 2 THEN 'gpt-4o' WHEN 3 THEN 'gpt-4'
                  ELSE 'experimental-model' END AS model,
                CAST(coalesce(lag(wc) OVER (PARTITION BY conv_id
                                            ORDER BY turn_idx), 0)
                     AS BIGINT) AS input_tokens,
                CAST(wc AS BIGINT) AS output_tokens,
                role
              FROM tok
            ), priced AS (
              SELECT model, input_tokens, output_tokens,
                input_tokens * CASE model
                  WHEN 'gpt-3.5-turbo' THEN 1500 WHEN 'gpt-4o-mini' THEN 150
                  WHEN 'gpt-4o' THEN 2500 WHEN 'gpt-4' THEN 30000
                  ELSE 10000 END
              + output_tokens * CASE model
                  WHEN 'gpt-3.5-turbo' THEN 2000 WHEN 'gpt-4o-mini' THEN 600
                  WHEN 'gpt-4o' THEN 10000 WHEN 'gpt-4' THEN 60000
                  ELSE 10000 END AS cost_nanos
              FROM calls WHERE role = 'assistant'
            )
            SELECT model, COUNT(*) AS n_calls,
                   CAST(SUM(input_tokens) AS BIGINT) AS input_tokens,
                   CAST(SUM(output_tokens) AS BIGINT) AS output_tokens,
                   CAST(SUM(cost_nanos) AS BIGINT) AS cost_nanos
            FROM priced GROUP BY model
        """,
        "lm_perplexity": f"""
            WITH {lm_ctes()}
            SELECT doc_id, n_tokens, ROUND(ppl, 4) AS ppl FROM ppl
        """,
        "ppl_buckets": f"""
            WITH {lm_ctes()}, cuts AS (
              SELECT quantile_cont(ppl, 1.0/3.0) AS lo,
                     quantile_cont(ppl, 2.0/3.0) AS hi
              FROM ppl
            )
            SELECT p.doc_id, p.n_tokens,
                   CASE WHEN p.ppl <= (SELECT lo FROM cuts) THEN 'head'
                        WHEN p.ppl <= (SELECT hi FROM cuts) THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM ppl p
        """,
        "conv_dedup": f"""
            WITH src AS (
              SELECT conv_id, turn_idx, text
              FROM read_parquet('{fx}')
            ), all_t AS (
              SELECT conv_id, turn_idx, text FROM src
              UNION ALL
              SELECT conv_id || '~copy', turn_idx,
                     '  ' || upper(text) || ' '
              FROM src WHERE conv_id LIKE '%0'
            ), nt AS (
              SELECT conv_id, turn_idx,
                md5(regexp_replace(lower(trim(coalesce(text, ''))),
                                   '\\s+', ' ', 'g')) AS tfp
              FROM all_t
            ), fpt AS (
              SELECT conv_id,
                     md5(string_agg(tfp, ',' ORDER BY turn_idx)) AS fp
              FROM nt GROUP BY conv_id
            ), grp AS (
              SELECT fp, MIN(conv_id) AS canonical_id,
                     COUNT(*) AS group_size
              FROM fpt GROUP BY fp
            )
            SELECT f.conv_id, g.canonical_id,
                   f.conv_id = g.canonical_id AS is_canonical,
                   g.group_size
            FROM fpt f JOIN grp g USING (fp)
        """,
        "sft_samples": f"""
            WITH {ctx_window_ctes(", role, parse_failed")}
            SELECT conv_id, turn_idx, CAST(tok AS BIGINT) AS n_tokens,
                   CAST(coalesce(jidx, turn_idx) AS INTEGER)
                     AS ctx_start_idx,
                   CAST(coalesce(rn - jrn + 1, 1) AS INTEGER)
                     AS ctx_n_turns,
                   CAST(coalesce(cum - jprefix, tok) AS BIGINT)
                     AS ctx_tokens
            FROM j
            WHERE role = 'assistant' AND NOT parse_failed
              AND coalesce(rn - jrn + 1, 1) >= 2
        """,
        "sft_packed": f"""
            WITH {ctx_window_ctes(", role, parse_failed")}, samp AS (
              SELECT conv_id, turn_idx,
                     CAST(coalesce(cum - jprefix, tok) AS BIGINT)
                       AS ctx_tokens
              FROM j
              WHERE role = 'assistant' AND NOT parse_failed
                AND coalesce(rn - jrn + 1, 1) >= 2
            ), {P.pack_tail_sql("samp", capacity=512, n_shards=8,
                                id_col="conv_id", idx_col="turn_idx",
                                len_col="ctx_tokens")}
        """,
        "context_windows": f"""
            WITH {ctx_window_ctes()}
            SELECT conv_id, turn_idx, CAST(tok AS BIGINT) AS n_tokens,
                   CAST(coalesce(jidx, turn_idx) AS INTEGER)
                     AS ctx_start_idx,
                   CAST(coalesce(rn - jrn + 1, 1) AS INTEGER)
                     AS ctx_n_turns,
                   CAST(coalesce(cum - jprefix, tok) AS BIGINT)
                     AS ctx_tokens,
                   jrn IS NULL AS truncated
            FROM j
        """,
        "training_filter": f"""
            WITH feat AS (
              SELECT conv_id, turn_idx, payload_kind,
                {quality_feat}
              FROM (SELECT conv_id, turn_idx, payload_kind,
                           extracted_text AS text
                    FROM read_parquet('{t("turns")}')
                    WHERE NOT parse_failed)
            )
            SELECT conv_id, turn_idx, payload_kind,
                   round((least(n_chars / 500.0, 1.0)
                          + (1.0 - least((CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct * 1.0 / n_chars END) * 4.0, 1.0))
                          + least((CASE WHEN n_ws = 0 THEN 0.0 ELSE n_stop * 1.0 / n_ws END) * 5.0, 1.0)) / 3.0, 4) AS quality,
                   (CASE WHEN n_ws = 0 THEN 0.0 ELSE n_stop * 1.0 / n_ws END) >= 0.05
                     AND n_ascii * 1.0 / greatest(n_chars, 1) >= 0.9 AS is_en,
                   CAST(n_chars AS BIGINT) AS n_chars
            FROM feat
            WHERE quality >= 0.3 AND n_chars >= 20
        """,
    }
