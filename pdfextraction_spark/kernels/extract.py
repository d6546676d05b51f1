"""Batch extraction dispatcher — the body of the Spark mapInArrow stage.

Takes one Arrow-batch worth of turn texts, detects payload kinds
vectorized, routes each kind to its kernel, and assembles the output
columns (payload_kind, extracted_text, spans, blocks_kept,
blocks_dropped, parse_failed) as one Arrow batch: every span of the
batch lands in flat label/start/end lists that become one ListArray.
Replaces the reference's three LLM call sites with its own
deterministic machinery (SURVEY.md §2.10).

Envelope decoding has a regex fast path matched to the canonical
encoder shape (payload.encode_pdf_envelope) that extracts word
text/coords straight into flat NumPy arrays (no per-word dicts). It
takes an envelope only when the word matches tile the words array
between the encoder's head and tail, so it decodes exactly what
json.loads would; any other envelope falls back to strict json.loads,
and a failed parse degrades to passthrough+parse_failed (the
conservative stance of SURVEY.md §7.4)."""

from __future__ import annotations

import json
import os
import re
from typing import List

import numpy as np
import pandas as pd
import pyarrow as pa

from ..payload import (
    KIND_HTML,
    KIND_PDF,
    KIND_PLAIN,
    _HTML_PREFIX_RE,
    _PDF_PREFIX_RE,
)
from .htmlstrip import strip_html_doc
from .layout import reflow_flat

# a JSON number (json.loads's grammar; NaN/Infinity take the strict
# path). Possessive quantifiers (Python >= 3.11): a number never needs
# backtracking, and without them the word pattern is ~1/3 slower.
_NUM = r"-?+(?:0|[1-9][0-9]*+)(?:\.[0-9]++)?+(?:[eE][-+]?+[0-9]++)?+"
# canonical encoder word shape: {"t": "...", "x0": N, "y0": N, "x1": N, "y1": N}
# (a JSON string body holds no raw control character)
_WORD_FAST_RE = re.compile(
    r'\{"t": "([^"\\\x00-\x1f]*+(?:\\.[^"\\\x00-\x1f]*+)*+)", '
    r'"x0": (' + _NUM + r'), "y0": (' + _NUM + r'), '
    r'"x1": (' + _NUM + r'), "y1": (' + _NUM + r')\}'
)
# the encoder's head and tail around the ", "-joined words
_HEAD_RE = re.compile(
    r'[ \t\n\r]*\{"kind": "pdf_layout", "page_width": ' + _NUM
    + r', "page_height": ' + _NUM + r', "words": \['
)
_TAIL_RE = re.compile(r"\]\}[ \t\n\r]*")


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


def _canonical_split(s: str):
    """``_WORD_FAST_RE.split(s)`` when ``s`` is exactly a canonical
    envelope (the encoder's head, its words joined by ", " and its
    tail), else None. Such an envelope is valid JSON with exactly those
    words, up to escapes inside a word text; the caller checks those."""
    parts = _WORD_FAST_RE.split(s)
    head = _HEAD_RE.match(parts[0])
    if head is None:
        return None
    n_words = len(parts) // 6
    tail = parts[0][head.end():]
    if n_words:
        if tail or parts[6:-1:6].count(", ") != n_words - 1:
            return None
        tail = parts[-1]
    return parts if _TAIL_RE.fullmatch(tail) else None


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
        parts = _canonical_split(s)
        if parts is None:
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
        ts = parts[1::6]
        if "\\" in s:
            # fast-path tokens are raw JSON string bodies: decode
            # escapes per token (rare — gated on the envelope
            # containing a backslash at all). An invalid escape
            # (e.g. C:\path unescaped) is invalid JSON, so fail the
            # doc exactly as the strict parser would.
            try:
                ts = [json.loads(f'"{t}"') if "\\" in t else t for t in ts]
            except ValueError:
                failed[i] = True
                continue
        sizes[i] = len(ts)
        all_t.extend(ts)
        cs_x0.extend(parts[2::6])
        cs_y0.extend(parts[3::6])
        cs_x1.extend(parts[4::6])
        cs_y1.extend(parts[5::6])
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


def decode_pdf_rows(texts: pd.Series):
    """Detect a batch's payload kinds and decode its pdf_layout rows:
    the prelude the extraction kernel and every envelope operator
    share. Returns (kinds, pdf_idx, decoded), where ``decoded`` is
    _decode_envelopes_flat's (sizes, t_arr, coord, failed) over the
    rows ``pdf_idx``, in that order."""
    kinds = detect_kinds(texts)
    pdf_idx = np.flatnonzero(kinds == KIND_PDF)
    # a pdf_layout row matched its prefix, so it is never null
    pdf_texts = texts.to_numpy(dtype=object)[pdf_idx].tolist()
    return kinds, pdf_idx, _decode_envelopes_flat(pdf_texts)


# content-level dedup default (PDFX_CONTENT_DEDUP=0 to disable, e.g.
# for benchmarking the unique-text kernel-bound workload)
CONTENT_DEDUP = os.environ.get("PDFX_CONTENT_DEDUP", "1") != "0"


def extract_batch_flat(texts: pd.Series) -> pa.RecordBatch:
    """Extract one batch of turn texts into the extracted columns
    (payload_kind, extracted_text, spans, blocks_kept, blocks_dropped,
    parse_failed), one row per text; a null text extracts as "".

    With content dedup on (the default) the kernels run once per
    UNIQUE text and the unique-level batch is expanded back by code
    with one ``take`` — repeated payloads (retries, boilerplate pages,
    templated tool outputs) are pervasive at corpus scale and
    extraction is a pure function of the text. Byte-identical to the
    non-deduped path (tests compare both).
    """
    sv = texts.fillna("").to_numpy(dtype=object)
    if CONTENT_DEDUP:
        codes, uniques = pd.factorize(sv)
        if len(uniques) < len(sv):
            return _extract_rows(uniques).take(pa.array(codes))
    return _extract_rows(sv)


def _extract_rows(sv: np.ndarray) -> pa.RecordBatch:
    n = len(sv)
    kinds, pdf_idx, (sizes, t_arr, coord, dec_failed) = decode_pdf_rows(
        pd.Series(sv, dtype=object)
    )
    # plain turns and undecodable envelopes pass their text through
    text = sv.copy()
    kept = np.zeros(n, dtype=np.int32)
    dropped = np.zeros(n, dtype=np.int32)
    failed = np.zeros(n, dtype=bool)
    # one entry per span, appended kind by kind; ordered by row at the end
    rows: List[int] = []
    labels: List[str] = []
    starts: List[int] = []
    ends: List[int] = []

    # passthrough: one "text" span over a non-empty text
    undecoded = pdf_idx[dec_failed]
    passthrough = np.concatenate([np.flatnonzero(kinds == KIND_PLAIN), undecoded])
    lens = np.fromiter(map(len, sv[passthrough]), dtype=np.int64,
                       count=len(passthrough))
    spanned = passthrough[lens > 0]
    rows += spanned.tolist()
    labels += ["text"] * len(spanned)
    starts += [0] * len(spanned)
    ends += lens[lens > 0].tolist()
    kept[spanned] = 1
    failed[undecoded] = True

    for i in np.flatnonzero(kinds == KIND_HTML).tolist():
        text[i], doc_spans, kept[i], dropped[i], failed[i] = strip_html_doc(sv[i])
        if doc_spans:
            ls, ss, es = zip(*doc_spans)
            rows += [i] * len(doc_spans)
            labels += ls
            starts += ss
            ends += es

    reflowed = reflow_flat(len(pdf_idx), sizes, t_arr, coord, dec_failed)
    for i, lines in zip(pdf_idx.tolist(), reflowed):
        if lines is None:
            continue  # undecodable: passed through above
        pos = 0
        for label, line_text in lines:
            rows.append(i)
            labels.append(label)
            starts.append(pos)
            pos += len(line_text)
            ends.append(pos)
            pos += 1
        text[i] = "\n".join([line_text for _label, line_text in lines])
        kept[i] = len(lines)
        failed[i] = len(lines) == 0

    row = np.asarray(rows, dtype=np.int64)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.bincount(row, minlength=n), out=offsets[1:])
    spans = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.StructArray.from_arrays(
            [
                pa.array(labels, type=pa.string()),
                pa.array(starts, type=pa.int32()),
                pa.array(ends, type=pa.int32()),
            ],
            names=["label", "start", "end"],
        ).take(pa.array(np.argsort(row, kind="stable"))),
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(kinds, type=pa.string()),
            pa.array(text, type=pa.string()),
            spans,
            pa.array(kept),
            pa.array(dropped),
            pa.array(failed),
        ],
        names=["payload_kind", "extracted_text", "spans", "blocks_kept",
               "blocks_dropped", "parse_failed"],
    )
