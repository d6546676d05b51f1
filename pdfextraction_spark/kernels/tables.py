"""Batch table-extraction (M3) and word-spacing-stats (A1) kernels.

Both take the flat decode of kernels/extract.py:decode_pdf_rows and
start from the reflow kernel's prelude (kernels/layout.py:
``line_order`` for tables, ``reading_order`` for spacing stats).
Region DETECTION is fully vectorized across all documents in the
batch (same frontier/reduceat machinery as the reflow kernel);
per-region extraction (column boundaries via ``np.searchsorted`` on
the contiguous midpoint intervals, anchored row grouping) runs on
small per-region NumPy slices. Semantics defined by the loop oracle
(oracle/tables.py, which carries the reference file:line citations);
pytest asserts exact agreement.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np

from ..config import (
    REGULAR_SPACING_TOL,
    ROW_Y_TOL,
    TABLE_MIN_COLS,
    TABLE_MIN_ROWS,
    TABLE_ROW_GAP,
)
from .layout import _segment_starts, line_order, reading_order


def _find_header_span(header: str, texts: List[str], cy: np.ndarray,
                      x0: np.ndarray, x1: np.ndarray):
    """Header extent (left, right, center, mean_cy) or None —
    oracle.find_header_words semantics on region arrays in reading
    order."""
    parts = header.split()
    if len(parts) == 1:
        h = header.strip()
        idx = [i for i, t in enumerate(texts) if t.strip() == h]
        if not idx:
            return None
        ia = np.asarray(idx)
        left = float(x0[ia].min())
        right = float(x1[ia].max())
        return left, right, (left + right) / 2.0, float(cy[ia].mean())
    k = len(parts)
    target = header.strip()
    for i in range(len(texts) - k + 1):
        if " ".join(texts[i:i + k]).strip() == target:
            ys = cy[i:i + k]
            if ys.max() - ys.min() <= ROW_Y_TOL:
                left = float(x0[i:i + k].min())
                right = float(x1[i:i + k].max())
                return left, right, (left + right) / 2.0, float(ys.mean())
    return None


def _extract_region(headers: List[str], texts: List[str],
                    x0: np.ndarray, y0: np.ndarray, x1: np.ndarray,
                    y1: np.ndarray):
    """One region's table: returns (columns, rows) with rows as lists
    of cell strings (None for empty cells)."""
    cx = (x0 + x1) / 2.0
    cy = (y0 + y1) / 2.0
    spans = []
    for h in headers:
        s = _find_header_span(h, texts, cy, x0, x1)
        if s is not None:
            spans.append((h, s[2], s[3]))
    if not spans:
        return [], []
    spans.sort(key=lambda p: p[1])
    centers = np.asarray([c for _, c, _ in spans])
    rights = np.r_[(centers[:-1] + centers[1:]) / 2.0, np.inf]
    columns = [h for h, _, _ in spans]
    n_cols = len(columns)
    # duplicate header NAMES share one cell group (the reference keys
    # its row dict by header text, coordinate_table_extractor.py:200-203)
    first_of_name: dict = {}
    canon = np.arange(n_cols)
    for j, h in enumerate(columns):
        if h in first_of_name:
            canon[j] = first_of_name[h]
        else:
            first_of_name[h] = j

    # header row y: FIRST header (in caller order) with matches
    hy: Optional[float] = None
    for h in headers:
        s = _find_header_span(h, texts, cy, x0, x1)
        if s is not None:
            hy = s[3]
            break

    # anchored row grouping on center_y (tolerance 5); anchor = first
    # word's center_y (coordinate_table_extractor.py:167-176)
    order = np.argsort(cy, kind="stable")
    cys = cy[order]
    n = len(order)
    row_id = np.zeros(n, dtype=np.int64)
    anchors: List[float] = []
    rid = 0
    i = 0
    while i < n:
        anchors.append(float(cys[i]))
        j = int(np.searchsorted(cys, cys[i] + ROW_Y_TOL, side="right"))
        row_id[i:j] = rid
        rid += 1
        i = j
    # words within each row sorted by center_x (stable)
    order2 = np.lexsort((np.arange(n), cx[order], row_id))
    w_idx = order[order2]

    row_starts = _segment_starts(row_id[order2])
    row_ends = np.r_[row_starts[1:], n]

    result_rows: List[List[Optional[str]]] = []
    for k, (rs, re_) in enumerate(zip(row_starts.tolist(), row_ends.tolist())):
        ridx = w_idx[rs:re_]
        anchor_y = anchors[k]
        if hy is not None and abs(anchor_y - hy) < ROW_Y_TOL:
            continue
        wcx = cx[ridx]
        col = np.searchsorted(rights, wcx, side="right")
        col = np.minimum(col, n_cols - 1)
        # left boundary of column 0 is 0.0: anything below falls back
        # to the closest header center (reference :215-221)
        oob = (col == 0) & (wcx < 0.0)
        if oob.any():
            for m in np.flatnonzero(oob):
                col[m] = int(np.argmin(np.abs(centers - wcx[m])))
        # group per column NAME: stable by (canonical col, x0, row order)
        ccol = canon[col]
        g = np.lexsort((np.arange(len(ridx)), x0[ridx], ccol))
        by_canon: dict = {}
        gi = 0
        glen = len(g)
        while gi < glen:
            c = int(ccol[g[gi]])
            gj = gi
            while gj < glen and int(ccol[g[gj]]) == c:
                gj += 1
            text = " ".join(texts[int(ridx[m])] for m in g[gi:gj]).strip()
            by_canon[c] = text if text else None
            gi = gj
        cells: List[Optional[str]] = [by_canon.get(int(canon[j])) for j in range(n_cols)]
        if any(v for v in cells):
            result_rows.append(cells)
    return columns, result_rows


def spacing_stats_flat(n_docs: int, doc_sizes: np.ndarray,
                       t_arr: np.ndarray, coord: np.ndarray) -> np.ndarray:
    """Vectorized A1 word-spacing stats (spatial_preprocessor.py:422-463)
    over a batch's flat decode (decode_pdf_rows's arrays): float64
    [n_docs, 3] of (avg, median, population std) over same-line
    (|Δy0| <= 5) non-negative gaps between consecutive words in
    reading order (layout.reading_order); zeros for a doc with no such
    gap. Median is the reference's sorted[n//2] upper median."""
    out = np.zeros((n_docs, 3), dtype=np.float64)
    _, _, idx, d = reading_order(n_docs, doc_sizes, t_arr, coord)
    x0, y0, x1 = coord[idx, 0], coord[idx, 1], coord[idx, 2]
    same_doc = d[1:] == d[:-1]
    same_line = same_doc & (np.abs(y0[1:] - y0[:-1]) <= 5.0)
    gap = x0[1:] - x1[:-1]
    ok = same_line & (gap >= 0)
    gd = d[1:][ok]
    gv = gap[ok]
    if len(gv) == 0:
        return out
    # per-doc aggregates via sorted (doc, gap) segments
    o2 = np.lexsort((gv, gd))
    gd, gv = gd[o2], gv[o2]
    starts = _segment_starts(gd)
    ends = np.r_[starts[1:], len(gd)]
    lens = ends - starts
    sums = np.add.reduceat(gv, starts)
    avg = sums / lens
    med = gv[starts + lens // 2]  # values sorted within doc segment
    sq = np.add.reduceat(gv * gv, starts)
    var = np.maximum(sq / lens - avg * avg, 0.0)
    docs = gd[starts]
    out[docs, 0] = avg
    out[docs, 1] = med
    out[docs, 2] = np.sqrt(var)
    return out


def tables_flat(n_docs: int, doc_sizes: np.ndarray, t_arr: np.ndarray,
                coord: np.ndarray, failed: np.ndarray):
    """Detect + extract the tables of a batch of decoded envelopes
    (decode_pdf_rows's flat arrays; ``failed`` marks undecodable docs),
    starting from layout.line_order.

    Returns per doc a list of {"headers", "columns", "rows"} dicts, the
    contract of oracle.tables.extract_doc_tables; a failed doc gives
    None."""
    results: List[Optional[list]] = [
        None if failed[i] else [] for i in range(n_docs)
    ]
    _, _, idx, d, line_id, bounds = line_order(n_docs, doc_sizes, t_arr,
                                               coord)
    n = len(idx)
    if n == 0:
        return results
    t_arr = t_arr[idx]
    x0, y0, x1, y1 = coord[idx].T

    ls = _segment_starts(line_id)
    le = np.r_[ls[1:], n]
    line_len = le - ls
    line_doc = d[ls]

    # X13 regular spacing on x0 diffs (vectorized per line)
    same = np.r_[False, line_id[1:] == line_id[:-1]]
    dx0 = np.r_[0.0, x0[1:] - x0[:-1]]
    dx0w = np.where(same, dx0, 0.0)
    sum_dx = np.add.reduceat(dx0w, ls)
    n_gap = np.maximum(line_len - 1, 1)
    mean_dx = sum_dx / n_gap
    dev = np.where(same, np.abs(dx0 - mean_dx[line_id]), 0.0)
    max_dev = np.maximum.reduceat(np.where(same, dev, -np.inf), ls)
    candidate = (line_len >= TABLE_MIN_COLS) & (max_dev <= REGULAR_SPACING_TOL)

    # region grouping over candidate lines (gap <= 20 to prev candidate)
    line_min_y0 = np.minimum.reduceat(y0, ls)
    line_max_y1 = np.maximum.reduceat(y1, ls)
    cand_idx = np.flatnonzero(candidate)
    if len(cand_idx) == 0:
        return results
    cdoc = line_doc[cand_idx]
    new_region = np.r_[
        True,
        (cdoc[1:] != cdoc[:-1])
        | (line_min_y0[cand_idx[1:]] - line_max_y1[cand_idx[:-1]] > TABLE_ROW_GAP),
    ]
    region_id = np.cumsum(new_region) - 1
    n_regions = region_id[-1] + 1

    tl = t_arr.tolist()
    for r in range(n_regions):
        rlines = cand_idx[region_id == r]
        if len(rlines) < TABLE_MIN_ROWS:
            continue
        doc = int(line_doc[rlines[0]])
        bbox_y0 = float(line_min_y0[rlines].min())
        bbox_y1 = float(line_max_y1[rlines].max())
        # headers: first line's texts in x order
        h_ls, h_le = int(ls[rlines[0]]), int(le[rlines[0]])
        headers = tl[h_ls:h_le]
        # region words: ALL doc words with center_y within bbox
        ds, de = int(bounds[doc]), int(bounds[doc + 1])
        # doc words in reading order: slice of the line-sorted arrays is
        # NOT reading order; rebuild via a (y0, x0, flat index) sort of
        # the doc slice (the flat index is input order, the oracle's
        # stable reading_order tie-break)
        dsl = slice(ds, de)
        sub_order = np.lexsort((idx[dsl], x0[dsl], y0[dsl]))
        sx0 = x0[dsl][sub_order]
        sy0 = y0[dsl][sub_order]
        sx1 = x1[dsl][sub_order]
        sy1 = y1[dsl][sub_order]
        stexts = [tl[ds + int(i)] for i in sub_order]
        scy = (sy0 + sy1) / 2.0
        m = (scy >= bbox_y0) & (scy <= bbox_y1)
        mi = np.flatnonzero(m)
        columns, rows = _extract_region(
            headers,
            [stexts[int(i)] for i in mi],
            sx0[mi], sy0[mi], sx1[mi], sy1[mi],
        )
        results[doc].append(
            {"headers": list(headers), "columns": columns, "rows": rows}
        )
    return results
