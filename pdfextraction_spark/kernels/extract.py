"""Batch extraction dispatcher — the body of the Spark mapInArrow stage.

Takes one Arrow-batch worth of turn texts, detects payload kinds
vectorized, routes each kind to its kernel, and assembles the output
columns (payload_kind, extracted_text, spans, blocks_kept,
blocks_dropped, parse_failed). Replaces the reference's three LLM call
sites with its own deterministic machinery (SURVEY.md §2.10).

Envelope decoding has a regex fast path matched to the canonical
encoder shape (payload.encode_pdf_envelope) that extracts word
text/coords straight into flat NumPy arrays (no per-word dicts); any
envelope the regex cannot fully account for falls back to strict
json.loads, and a failed parse degrades to passthrough+parse_failed
(the conservative stance of SURVEY.md §7.4)."""

from __future__ import annotations

import json
import os
import re
from typing import List, Optional, Tuple

import numpy as np
import pandas as pd

from ..payload import (
    KIND_HTML,
    KIND_PDF,
    KIND_PLAIN,
    _HTML_PREFIX_RE,
    _PDF_PREFIX_RE,
)
from .htmlstrip import strip_html_doc
from .layout import reflow_flat

Span = Tuple[str, int, int]

# canonical encoder word shape: {"t": "...", "x0": N, "y0": N, "x1": N, "y1": N}
_WORD_FAST_RE = re.compile(
    r'\{"t": "((?:[^"\\]|\\.)*)", '
    r'"x0": ([-+0-9.eE]+), "y0": ([-+0-9.eE]+), '
    r'"x1": ([-+0-9.eE]+), "y1": ([-+0-9.eE]+)\}'
)
_WORD_COUNT_RE = re.compile(r'\{"t":')


def detect_kinds(texts: pd.Series) -> np.ndarray:
    """Vectorized payload-kind detection (payload.py spec)."""
    s = texts.fillna("")
    is_pdf = s.str.contains(_PDF_PREFIX_RE, regex=True).to_numpy()
    is_html = s.str.contains(_HTML_PREFIX_RE, regex=True).to_numpy() & ~is_pdf
    kinds = np.full(len(s), KIND_PLAIN, dtype=object)
    kinds[is_html] = KIND_HTML
    kinds[is_pdf] = KIND_PDF
    return kinds


def _decode_json_strict(text: str):
    try:
        obj = json.loads(text)
        words = obj["words"]
        return (
            [str(w["t"]) for w in words],
            [(float(w["x0"]), float(w["y0"]), float(w["x1"]), float(w["y1"]))
             for w in words],
        )
    except Exception:
        return None


def _decode_envelopes_flat(texts: List[str]):
    """Decode a list of pdf_layout envelopes into flat arrays.

    Returns (doc_sizes int64[n], t_arr object[w], coord float64[w,4],
    failed bool[n]). A failed doc has size 0 and failed=True."""
    n = len(texts)
    sizes = np.zeros(n, dtype=np.int64)
    failed = np.zeros(n, dtype=bool)
    all_t: List[str] = []
    # number tokens stay strings here; ONE C-level np parse at the end
    cs_x0: List[str] = []
    cs_y0: List[str] = []
    cs_x1: List[str] = []
    cs_y1: List[str] = []
    for i, s in enumerate(texts):
        matches = _WORD_FAST_RE.findall(s)
        if len(matches) != len(_WORD_COUNT_RE.findall(s)):
            # strict-path tokens come out of json.loads ALREADY decoded;
            # they must never see the escape fix below (a literal
            # backslash in a decoded token is data, not an escape)
            dec = _decode_json_strict(s)
            if dec is None:
                failed[i] = True
                continue
            ts, cs = dec
            sizes[i] = len(ts)
            all_t.extend(ts)
            for a, b, c, e in cs:
                cs_x0.append(repr(a))
                cs_y0.append(repr(b))
                cs_x1.append(repr(c))
                cs_y1.append(repr(e))
            continue
        if matches:
            ts, xs, ys, x1s, y1s = zip(*matches)
            if "\\" in s:
                # fast-path tokens are raw JSON string bodies: decode
                # escapes per token (rare — gated on the envelope
                # containing a backslash at all). An invalid escape
                # (e.g. C:\path unescaped) is invalid JSON, so fail the
                # doc exactly as the strict parser would.
                try:
                    ts = [
                        json.loads(f'"{t}"') if "\\" in t else t for t in ts
                    ]
                except ValueError:
                    failed[i] = True
                    continue
            sizes[i] = len(matches)
            all_t.extend(ts)
            cs_x0.extend(xs)
            cs_y0.extend(ys)
            cs_x1.extend(x1s)
            cs_y1.extend(y1s)
    t_arr = np.asarray(all_t, dtype=object)
    if len(all_t):
        coord = np.empty((len(all_t), 4), dtype=np.float64)
        coord[:, 0] = np.asarray(cs_x0, dtype=np.float64)
        coord[:, 1] = np.asarray(cs_y0, dtype=np.float64)
        coord[:, 2] = np.asarray(cs_x1, dtype=np.float64)
        coord[:, 3] = np.asarray(cs_y1, dtype=np.float64)
    else:
        coord = np.zeros((0, 4), dtype=np.float64)
    return sizes, t_arr, coord, failed


class FlatResult:
    """Columnar extraction result: spans kept as flat parallel arrays
    (label/start/end + per-row counts) so the Spark operator can build
    an Arrow ListArray with zero per-span Python objects."""

    __slots__ = ("kinds", "text", "span_counts", "span_labels",
                 "span_starts", "span_ends", "kept", "dropped", "failed")

    def __init__(self, n: int):
        self.kinds: np.ndarray = np.empty(0, dtype=object)
        self.text = np.empty(n, dtype=object)
        self.span_counts = np.zeros(n, dtype=np.int32)
        self.span_labels: List[str] = []
        self.span_starts: List[int] = []
        self.span_ends: List[int] = []
        self.kept = np.zeros(n, dtype=np.int32)
        self.dropped = np.zeros(n, dtype=np.int32)
        self.failed = np.zeros(n, dtype=bool)

    def spans_per_row(self) -> List[List[Span]]:
        out: List[List[Span]] = []
        offs = np.r_[0, np.cumsum(self.span_counts)]
        for i in range(len(self.span_counts)):
            out.append(
                list(zip(self.span_labels[offs[i]:offs[i + 1]],
                         self.span_starts[offs[i]:offs[i + 1]],
                         self.span_ends[offs[i]:offs[i + 1]]))
            )
        return out


# content-level dedup default (PDFX_CONTENT_DEDUP=0 to disable, e.g.
# for benchmarking the unique-text kernel-bound workload)
CONTENT_DEDUP = os.environ.get("PDFX_CONTENT_DEDUP", "1") != "0"


def extract_batch_flat(texts: pd.Series, dedup: Optional[bool] = None) -> FlatResult:
    """Extract one batch of turn texts into columnar outputs.

    ``dedup=True`` (default) factorizes the batch and runs the kernels
    once per UNIQUE text, then expands results back by code — repeated
    payloads (retries, boilerplate pages, templated tool outputs) are
    pervasive at corpus scale and extraction is a pure function of the
    text. Byte-identical to the non-deduped path (tests compare both).
    """
    if dedup is None:
        dedup = CONTENT_DEDUP
    if dedup:
        sv0 = texts.fillna("").to_numpy(dtype=object)
        codes, uniques = pd.factorize(sv0)
        if len(uniques) < len(sv0):
            res_u = _extract_rows(pd.Series(uniques, dtype="object"))
            return _expand_by_codes(res_u, codes)
        return _extract_rows(pd.Series(sv0, dtype="object"))
    return _extract_rows(texts.fillna("").reset_index(drop=True))


def _expand_by_codes(u: FlatResult, codes: np.ndarray) -> FlatResult:
    """Gather a unique-level FlatResult back to row level (vectorized:
    grouped-arange indexing into the flat span arrays)."""
    n = len(codes)
    res = FlatResult(n)
    res.kinds = u.kinds[codes]
    res.text = u.text[codes]
    res.kept = u.kept[codes]
    res.dropped = u.dropped[codes]
    res.failed = u.failed[codes]
    res.span_counts = u.span_counts[codes]
    u_off = np.r_[0, np.cumsum(u.span_counts)].astype(np.int64)
    lengths = res.span_counts.astype(np.int64)
    total = int(lengths.sum())
    if total:
        starts = u_off[codes]
        # grouped arange: for each row, indices [start, start+len)
        reps = np.repeat(starts - np.r_[0, np.cumsum(lengths)[:-1]], lengths)
        idx = np.arange(total, dtype=np.int64) + reps
        lab = np.asarray(u.span_labels, dtype=object)
        st = np.asarray(u.span_starts, dtype=np.int64)
        en = np.asarray(u.span_ends, dtype=np.int64)
        res.span_labels = lab[idx].tolist()
        res.span_starts = st[idx].tolist()
        res.span_ends = en[idx].tolist()
    return res


def _extract_rows(s: pd.Series) -> FlatResult:
    n = len(s)
    sv = s.to_numpy(dtype=object)
    res = FlatResult(n)
    res.kinds = detect_kinds(s)

    # spans accumulate per row index; build per-kind then reorder once
    row_spans_label: List[Optional[List[str]]] = [None] * n
    row_spans_se: List[Optional[Tuple[List[int], List[int]]]] = [None] * n

    plain_idx = np.flatnonzero(res.kinds == KIND_PLAIN)
    if len(plain_idx):
        res.text[plain_idx] = sv[plain_idx]
        for i in plain_idx.tolist():
            t = sv[i]
            if t:
                row_spans_label[i] = ["text"]
                row_spans_se[i] = ([0], [len(t)])
                res.span_counts[i] = 1
                res.kept[i] = 1

    html_idx = np.flatnonzero(res.kinds == KIND_HTML)
    for i in html_idx.tolist():
        t, spans, k, dcount, f = strip_html_doc(sv[i])
        res.text[i] = t
        if spans:
            row_spans_label[i] = [sp[0] for sp in spans]
            row_spans_se[i] = ([sp[1] for sp in spans], [sp[2] for sp in spans])
            res.span_counts[i] = len(spans)
        res.kept[i], res.dropped[i], res.failed[i] = k, dcount, f

    pdf_idx = np.flatnonzero(res.kinds == KIND_PDF)
    if len(pdf_idx):
        pdf_texts = [sv[i] for i in pdf_idx.tolist()]
        sizes, t_arr, coord, dec_failed = _decode_envelopes_flat(pdf_texts)
        reflowed = reflow_flat(len(pdf_texts), sizes, t_arr, coord, dec_failed)
        for j, i in enumerate(pdf_idx.tolist()):
            if dec_failed[j]:
                # undecodable envelope -> conservative passthrough
                t = sv[i]
                res.text[i] = t
                if t:
                    row_spans_label[i] = ["text"]
                    row_spans_se[i] = ([0], [len(t)])
                    res.span_counts[i] = 1
                    res.kept[i] = 1
                res.failed[i] = True
                continue
            lines = reflowed[j]
            labels: List[str] = []
            starts: List[int] = []
            ends: List[int] = []
            parts: List[str] = []
            pos = 0
            for label, line_text in lines:
                parts.append(line_text)
                labels.append(label)
                starts.append(pos)
                pos += len(line_text)
                ends.append(pos)
                pos += 1
            res.text[i] = "\n".join(parts)
            if labels:
                row_spans_label[i] = labels
                row_spans_se[i] = (starts, ends)
                res.span_counts[i] = len(labels)
            res.kept[i] = len(lines)
            res.failed[i] = len(lines) == 0

    for i in range(n):
        if row_spans_label[i] is not None:
            res.span_labels.extend(row_spans_label[i])
            st, en = row_spans_se[i]
            res.span_starts.extend(st)
            res.span_ends.extend(en)
    return res


def extract_batch(texts: pd.Series) -> pd.DataFrame:
    """Row-oriented wrapper over extract_batch_flat (tests/golden
    comparisons); Spark uses the flat form directly."""
    res = extract_batch_flat(texts)
    return pd.DataFrame(
        {
            "payload_kind": res.kinds,
            "extracted_text": res.text,
            "spans": res.spans_per_row(),
            "blocks_kept": res.kept,
            "blocks_dropped": res.dropped,
            "parse_failed": res.failed,
        }
    )
