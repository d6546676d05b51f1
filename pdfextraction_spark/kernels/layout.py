"""Vectorized Arrow-batch layout-reflow kernel, and the reading-order /
line-grouping prelude of every PDF kernel.

Implements the reference's spatial pipeline
(/root/reference/services/spatial_preprocessor.py) for EVERY document
in a batch simultaneously, with NumPy/pandas batch primitives — no
per-row Python UDFs (the north rule). The loop-based oracle
(oracle/spatial.py) defines the semantics; pytest asserts exact
agreement.

All three PDF kernels (``reflow_flat`` here, ``tables_flat`` and
``spacing_stats_flat`` in kernels/tables.py) take the flat decode of
kernels/extract.py:decode_pdf_rows (per-doc word counts, word texts,
an n x 4 coordinate array, failed flags) and start from one prelude:
``reading_order`` (F1 whitespace drop + reading order) and
``line_order`` (that plus W1 line grouping). Each returns an index into
the flat words, and a kernel gathers only the columns it needs.

Vectorization notes
-------------------
- reading order: one global ``np.lexsort`` keyed (doc, y0, x0)
- anchored line grouping (y-tol 5.0, spatial_preprocessor.py:184-223):
  the "compare against the line's first word" recurrence is resolved
  with frontier jumps — each iteration advances ALL documents one line
  via a single ``np.searchsorted`` on a doc-offset y array, so the
  Python loop length is max-lines-per-doc (~dozens), not word count
- proximity clustering (:255-296): per-line mean gap via
  ``np.add.reduceat``, break flags + cumsum
- field classification (:298-390): **dictionary-encoded** — texts are
  factorized and every regex/str rule runs once per UNIQUE string
  (word vocabularies are Zipfian, so this cuts classification work by
  1-2 orders of magnitude), then broadcast back through the codes
- multiline consume (:49-85): the sequential "i += 2" recurrence is a
  parity pattern within runs of consumable lines — closed form via
  anchor index + parity, fully vectorized
- cross-line pairing (:129-182): pandas merge of field clusters to the
  next line's value clusters, min |Δcenter| <= 50 with first-min
  tie-break reproduced by a stable sort on (distance, cluster index)
- string assembly (cluster/line joins) uses direct list-slice joins,
  not groupby.agg — identical output, ~40x less allocator traffic
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

import numpy as np
import pandas as pd

from ..config import (
    ALLCAPS_VALUE_MAXLEN,
    CLUSTER_GAP_MULT,
    CLUSTER_SEP,
    COMMON_FIELDS,
    EMPTY_SENTINEL,
    FIELD_ENDINGS,
    FIELD_KEYWORDS,
    LAST_WORD_FIELDS,
    LINE_Y_TOL,
    PAIR_DIST_TOL,
    TITLE_CASE_RATIO,
    VALUE_ALIGN_TOL,
)

_DOC_STRIDE = 1.0e6  # >> page_height + tolerances; keeps docs disjoint

_KW_RE = re.compile("|".join(map(re.escape, FIELD_KEYWORDS)))
_END_RE = re.compile("(?:" + "|".join(map(re.escape, FIELD_ENDINGS)) + ")$")
_COMMON_RE = re.compile("|".join(map(re.escape, COMMON_FIELDS)))
_DATE_RE = re.compile(r"^\d{1,2}/\d{1,2}/\d{4}")
_PHONE_RE = re.compile(r"^\d{3}-\d{3}-\d{4}")
_SSN_RE = re.compile(r"^\d{3}-\d{2}-\d{4}")
_NUMCH_RE = re.compile(r"[.,\-/]")


def _is_obvious_value(s: pd.Series) -> np.ndarray:
    """Vectorized is_obvious_value_pattern (spatial_preprocessor.py:349-390)."""
    t = s.str.strip()
    low = t.str.lower()
    single = (t.str.len() == 1) & t.str.isalpha()
    pure_num = t.str.replace(_NUMCH_RE, "", regex=True).str.isdigit().fillna(False)
    curr = t.str.startswith("$") | t.str.endswith("%")
    date = t.str.contains(_DATE_RE, regex=True)
    phone = t.str.contains(_PHONE_RE, regex=True)
    ssn = t.str.contains(_SSN_RE, regex=True)
    kw = low.str.contains(_KW_RE, regex=True)
    caps = t.str.isupper() & (t.str.len() <= ALLCAPS_VALUE_MAXLEN) & ~kw
    return (single | pure_num | curr | date | phone | ssn | caps).to_numpy()


def _joined_text_rules(joined: pd.Series) -> Tuple[np.ndarray, ...]:
    """Rules evaluated on the space-joined cluster text: obvious-value
    veto, keyword substring, ending match, common-field substring,
    last-word match."""
    low = joined.str.lower()
    obvious = _is_obvious_value(joined)
    kw = low.str.contains(_KW_RE, regex=True).to_numpy()
    end = low.str.contains(_END_RE, regex=True).to_numpy()
    common = low.str.contains(_COMMON_RE, regex=True).to_numpy()
    # reference splits on ANY whitespace run (str.split() semantics,
    # spatial_preprocessor.py:341-344): last non-whitespace token
    last = (
        low.str.findall(r"\S+").str[-1].isin(LAST_WORD_FIELDS).to_numpy()
    )
    return obvious, kw, end, common, last


def _word_is_field(texts: pd.Series) -> np.ndarray:
    """Single-word is_field_pattern (title-case rule needs >=2 words so
    it never fires)."""
    obvious, kw, end, common, last = _joined_text_rules(texts)
    return ~obvious & (kw | end | common | last)


def _title_flags(texts: pd.Series) -> np.ndarray:
    """Per-word title-case test: first char upper, not ALL upper
    (spatial_preprocessor.py:330)."""
    return (
        texts.str.len().gt(0)
        & texts.str[0].str.isupper().eq(True)
        & ~texts.str.isupper().eq(True)
    ).to_numpy()


def _segment_starts(sorted_ids: np.ndarray) -> np.ndarray:
    """Offsets of each run start in a sorted id array (incl. 0)."""
    if len(sorted_ids) == 0:
        return np.zeros(0, dtype=np.int64)
    return np.flatnonzero(np.r_[True, sorted_ids[1:] != sorted_ids[:-1]])


def _anchored_lines(yk: np.ndarray, seg_starts: np.ndarray,
                    seg_ends: np.ndarray, tol: float) -> np.ndarray:
    """Anchored sessionization: given a globally non-decreasing keyed
    array ``yk`` (y0 + doc-ordinal stride) and per-doc [start, end)
    ranges, return a boolean line-start mask replicating
    group_words_into_lines's "new line when y0 - first_of_line.y0 >
    tol" recurrence. Python loop length == max lines per doc."""
    n = len(yk)
    starts = np.zeros(n, dtype=bool)
    frontier = seg_starts.copy()
    ends = seg_ends
    active = frontier < ends
    while active.any():
        f = frontier[active]
        starts[f] = True
        nxt = np.searchsorted(yk, yk[f] + tol, side="right")
        frontier[active] = nxt
        active = frontier < ends
    return starts


def _slice_join(items: list, starts: np.ndarray, ends: np.ndarray,
                sep: str) -> np.ndarray:
    """Join list slices per segment (object output). Single-element
    segments skip the join."""
    out = np.empty(len(starts), dtype=object)
    out[:] = [
        sep.join(items[s:e]) if e - s > 1 else items[s]
        for s, e in zip(starts.tolist(), ends.tolist())
    ]
    return out


def reading_order(n_docs: int, doc_sizes: np.ndarray, t_arr: np.ndarray,
                  coord: np.ndarray):
    """F1 whitespace drop + reading order over a batch's flat words
    (``t_arr`` object[n_words], ``coord`` float64[n_words, 4] as x0, y0,
    x1, y1, ``doc_sizes`` int64[n_docs] words per doc in order).

    Texts are dictionary-encoded so the whitespace test runs once per
    unique string (pdf_processor.py:61-62); the kept words are sorted by
    (doc, y0, x0), ties in input order (pdf_processor.py:81). Returns
    (codes, uniques, idx, d): every flat word's code into ``uniques``,
    the kept words' flat index in reading order, and their doc."""
    codes, uniques = pd.factorize(t_arr)
    uq_keep = (pd.Series(uniques, dtype=object).str.strip().str.len() > 0)
    idx = np.flatnonzero(uq_keep.to_numpy()[codes])
    d = np.repeat(np.arange(n_docs, dtype=np.int64), doc_sizes)[idx]
    order = np.lexsort((coord[idx, 0], coord[idx, 1], d))
    return codes, uniques, idx[order], d[order]


def line_order(n_docs: int, doc_sizes: np.ndarray, t_arr: np.ndarray,
               coord: np.ndarray):
    """reading_order plus W1 anchored line grouping at y-tol 5.0
    (spatial_preprocessor.py:184-223) and the stable in-line x0 sort
    (:211). Returns (codes, uniques, idx, d, line_id, bounds): ``idx``
    the kept words' flat index in line order, ``d`` their doc,
    ``line_id`` their dense 0-based line, and ``bounds`` int64[n_docs+1]
    offsets such that doc k's words are ``idx[bounds[k]:bounds[k+1]]``."""
    codes, uniques, idx, d = reading_order(n_docs, doc_sizes, t_arr, coord)
    bounds = np.searchsorted(d, np.arange(n_docs + 1))
    doc_ord = np.cumsum(np.r_[False, d[1:] != d[:-1]])  # dense 0..k-1
    yk = coord[idx, 1] + doc_ord * _DOC_STRIDE
    line_start = _anchored_lines(yk, bounds[:-1], bounds[1:], LINE_Y_TOL)
    line_id = np.cumsum(line_start) - 1
    # lines never cross docs, so the doc ranges survive this sort
    order = np.lexsort((coord[idx, 0], line_id))
    return codes, uniques, idx[order], d[order], line_id[order], bounds


def reflow_flat(n_docs: int, doc_sizes: np.ndarray, t_arr: np.ndarray,
                coord: np.ndarray, failed: np.ndarray):
    """Reflow a batch of decoded envelopes (decode_pdf_rows's flat
    arrays; ``failed`` marks undecodable docs).

    Returns per doc a list of (label, line_text) tuples, the contract
    of oracle.spatial.reflow; a failed doc gives None."""
    results: List[Optional[List[Tuple[str, str]]]] = [
        None if failed[i] else [] for i in range(n_docs)
    ]
    codes, uniques, idx, d, line_id, _ = line_order(
        n_docs, doc_sizes, t_arr, coord
    )
    n = len(idx)
    if n == 0:
        return results
    uq = pd.Series(uniques, dtype=object)
    codes = codes[idx]
    x0, x1 = coord[idx, 0], coord[idx, 2]
    cx = (x0 + x1) / 2.0

    line_starts_idx = _segment_starts(line_id)
    n_lines = len(line_starts_idx)
    line_ends_idx = np.r_[line_starts_idx[1:], n]
    line_len = line_ends_idx - line_starts_idx
    line_doc = d[line_starts_idx]

    # W2/A2: per-line mean gap, threshold 2.0x, cluster breaks
    same_line = np.r_[False, line_id[1:] == line_id[:-1]]
    gap = np.r_[0.0, x0[1:] - x1[:-1]]
    gap_sum = np.add.reduceat(np.where(same_line, gap, 0.0), line_starts_idx)
    n_gaps = np.maximum(line_len - 1, 1)
    thr_line = (gap_sum / n_gaps) * CLUSTER_GAP_MULT
    thr_word = thr_line[line_id]  # line_id is dense 0..n_lines-1
    cluster_start = ~same_line | (gap > thr_word)
    cluster_id = np.cumsum(cluster_start) - 1

    cl_starts = _segment_starts(cluster_id)
    n_clusters = len(cl_starts)
    cl_ends = np.r_[cl_starts[1:], n]
    cl_len = cl_ends - cl_starts
    cl_line = line_id[cl_starts]

    # cluster text + mean word-center (spatial_preprocessor.py:156-157)
    t_final = uniques[codes]
    tl = t_final.tolist()
    cl_text_arr = _slice_join(tl, cl_starts, cl_ends, " ")
    cl_cx = np.add.reduceat(cx, cl_starts) / cl_len

    # cluster-level field classification (dictionary-encoded)
    ccodes, cuniq = pd.factorize(cl_text_arr)
    obvious_u, kw_u, end_u, common_u, last_u = _joined_text_rules(
        pd.Series(cuniq, dtype=object)
    )
    uq_title = _title_flags(uq)
    n_title = np.add.reduceat(uq_title[codes].astype(np.int64), cl_starts)
    title = (cl_len >= 2) & (n_title >= cl_len * TITLE_CASE_RATIO)
    cl_is_field = ~obvious_u[ccodes] & (
        kw_u[ccodes] | end_u[ccodes] | title | common_u[ccodes] | last_u[ccodes]
    )

    # word-level field flags -> line_has_field_words (:87-96)
    uq_field = _word_is_field(uq)
    w_field = uq_field[codes]
    line_hf = np.bitwise_or.reduceat(w_field, line_starts_idx)

    # 30px alignment gate (:98-127): any word of the field line within
    # 30 of any word of line i+1 (same doc) — reference checks ALL
    # words (spatial_preprocessor.py:113-124). Next-line word centers
    # searched via one searchsorted on a line-offset-keyed center array.
    next_line_exists = np.r_[line_doc[1:] == line_doc[:-1], False]
    cxsort = np.lexsort((cx, line_id))
    cx_by_line = cx[cxsort]
    ck = cx_by_line + line_id[cxsort] * _DOC_STRIDE
    consume_gate = np.zeros(n_lines, dtype=bool)
    q_mask = line_hf[line_id] & next_line_exists[line_id]
    if q_mask.any():
        q_cx = cx[q_mask]
        q_next_line = line_id[q_mask] + 1
        q_lo = np.searchsorted(ck, q_cx - VALUE_ALIGN_TOL + q_next_line * _DOC_STRIDE, side="left")
        q_hi = np.searchsorted(ck, q_cx + VALUE_ALIGN_TOL + q_next_line * _DOC_STRIDE, side="right")
        hits = q_hi > q_lo
        np.logical_or.at(consume_gate, line_id[q_mask][hits], True)

    # W5 consume recurrence -> closed-form parity (see module docstring)
    c = line_hf & consume_gate  # line i consumes line i+1 IF processed
    doc_first = np.r_[True, line_doc[1:] != line_doc[:-1]]
    lidx = np.arange(n_lines)
    # anchor positions: doc starts, and i+1 for every c[i]==False
    anchor = np.where(doc_first, lidx, np.where(np.r_[True, ~c[:-1]], lidx, -1))
    anchor = np.maximum.accumulate(anchor)
    processed = ((lidx - anchor) % 2) == 0

    # ---- formatting -------------------------------------------------
    # Per-cluster "next cluster on same line" (J1, :392-420)
    nxt_same = np.r_[cl_line[1:] == cl_line[:-1], False]
    nxt_text = np.concatenate([cl_text_arr[1:], np.array([""], dtype=object)])
    nxt_is_field = np.r_[cl_is_field[1:], False]

    cl_line_hf = line_hf[cl_line]
    cl_processed = processed[cl_line]

    parts = cl_text_arr.copy()

    # plain-line branch (line has NO field words): field clusters pair
    # with the next cluster (:225-253)
    plain_field = cl_is_field & ~cl_line_hf & cl_processed
    if plain_field.any():
        val = np.where(nxt_same & ~nxt_is_field, nxt_text, EMPTY_SENTINEL)
        idxs = np.flatnonzero(plain_field)
        parts[idxs] = [
            f"{p}:\t{v}" for p, v in zip(parts[idxs].tolist(), val[idxs].tolist())
        ]

    # field-line branch (J2, :129-182): pair vs NEXT LINE's clusters
    field_rows = np.flatnonzero(cl_is_field & cl_line_hf & cl_processed
                                & next_line_exists[cl_line])
    if len(field_rows):
        fdf = pd.DataFrame(
            {"fc": field_rows, "vline": cl_line[field_rows] + 1,
             "fcx": cl_cx[field_rows]}
        )
        vdf = pd.DataFrame(
            {"vline": cl_line, "vc": np.arange(n_clusters),
             "vcx": cl_cx, "vfield": cl_is_field,
             "vtext": cl_text_arr}
        )
        m = fdf.merge(vdf, on="vline", how="inner")
        m = m[(~m["vfield"]) & ((m["fcx"] - m["vcx"]).abs() <= PAIR_DIST_TOL)]
        if len(m):
            m["dist"] = (m["fcx"] - m["vcx"]).abs()
            m = m.sort_values(["fc", "dist", "vc"], kind="stable")
            best = m.drop_duplicates("fc", keep="first").set_index("fc")["vtext"]
        else:
            best = pd.Series(dtype="object")
        vals = pd.Series(
            np.full(len(field_rows), EMPTY_SENTINEL, dtype=object),
            index=field_rows,
        )
        vals.update(best)
        parts[field_rows] = [
            f"{p}:\t{v}"
            for p, v in zip(parts[field_rows].tolist(), vals.tolist())
        ]
    # field clusters on a field line with NO next line -> [EMPTY]
    lone = cl_is_field & cl_line_hf & cl_processed & ~next_line_exists[cl_line]
    if lone.any():
        idxs = np.flatnonzero(lone)
        parts[idxs] = [f"{p}:\t{EMPTY_SENTINEL}" for p in parts[idxs].tolist()]

    # join clusters -> line text (4-space separator, :253/:182)
    line_cl_starts = _segment_starts(cl_line)
    line_cl_ends = np.r_[line_cl_starts[1:], n_clusters]
    line_text = _slice_join(parts.tolist(), line_cl_starts, line_cl_ends,
                            CLUSTER_SEP)

    # emission: processed lines; non-field lines only if non-blank (:81-82)
    lt_list = line_text.tolist()
    emit_mask = processed.tolist()
    hf_list = line_hf.tolist()
    doc_of_line = d[line_starts_idx].tolist()
    for li in range(n_lines):
        if not emit_mask[li]:
            continue
        if hf_list[li]:
            results[doc_of_line[li]].append(("fields", lt_list[li]))
        elif lt_list[li].strip():
            results[doc_of_line[li]].append(("text", lt_list[li]))
    return results
