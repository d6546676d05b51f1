"""Loop-based golden extractor for PDF-layout payloads.

This is the engine's *oracle*: a deliberately simple, eager,
per-document implementation whose observable behaviour mirrors the
reference's deterministic spatial core
(/root/reference/services/spatial_preprocessor.py) bug-for-bug:

- line grouping with anchored y-tolerance 5.0 (``group_words_into_lines``,
  spatial_preprocessor.py:184-223)
- proximity clustering at 2.0 x mean same-line gap
  (``cluster_words_by_proximity``, :255-296)
- field/value classification truth table (``is_field_pattern`` /
  ``is_obvious_value_pattern``, :298-390)
- same-line next-cluster pairing (``format_as_field_cluster``, :392-420)
- cross-line pairing with 30 px alignment gate and 50 px nearest-match
  (``is_value_line_for_fields`` :98-127, ``process_field_line_with_values``
  :129-182) including its quirks: a value may be drawn from the next
  line even when that line is not consumed, and a closer field-looking
  cluster does not block a farther value cluster
- output formatting ``Field:\\t(value|[EMPTY])`` joined by 4 spaces,
  lines joined by ``\\n`` (:174-182, :253)

The Spark pipeline never calls this module; pytest asserts the
vectorized kernels (kernels/layout.py) agree with it exactly.
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional, Sequence, Tuple

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

# A word is (text, x0, y0, x1, y1); center_x derived as (x0+x1)/2 like
# pdf_processor.py:70.
Word = Tuple[str, float, float, float, float]

_DATE_RE = re.compile(r"\d{1,2}/\d{1,2}/\d{4}")
_PHONE_RE = re.compile(r"\d{3}-\d{3}-\d{4}")
_SSN_RE = re.compile(r"\d{3}-\d{2}-\d{4}")
_PURE_NUM_STRIP = str.maketrans("", "", ".,-/")


def center_x(w: Word) -> float:
    return (w[1] + w[3]) / 2.0


def keep_word(text: str) -> bool:
    """Whitespace-only words are dropped at scan time (pdf_processor.py:61-62)."""
    return bool(text.strip())


def reading_order(words: Sequence[Word]) -> List[Word]:
    """Stable sort into reading order (y0, x0) — pdf_processor.py:81."""
    return sorted(words, key=lambda w: (w[2], w[1]))


def group_lines(words: Sequence[Word], y_tol: float = LINE_Y_TOL) -> List[List[Word]]:
    """Anchored line grouping: a word joins the current line while
    |y0 - first_word_of_line.y0| <= y_tol; each line is re-sorted by x0.
    Mirrors spatial_preprocessor.py:184-223."""
    if not words:
        return []
    ordered = reading_order(words)
    lines: List[List[Word]] = []
    cur: List[Word] = [ordered[0]]
    anchor_y = ordered[0][2]
    for w in ordered[1:]:
        if abs(w[2] - anchor_y) <= y_tol:
            cur.append(w)
        else:
            cur.sort(key=lambda x: x[1])
            lines.append(cur)
            cur = [w]
            anchor_y = w[2]
    cur.sort(key=lambda x: x[1])
    lines.append(cur)
    return lines


def cluster_line(line: Sequence[Word]) -> List[List[Word]]:
    """Split a line into clusters at gaps > 2.0 x mean gap
    (spatial_preprocessor.py:255-296)."""
    line = list(line)
    if len(line) <= 1:
        return [line]
    gaps = [line[i + 1][1] - line[i][3] for i in range(len(line) - 1)]
    threshold = (sum(gaps) / len(gaps)) * CLUSTER_GAP_MULT
    clusters: List[List[Word]] = []
    cur = [line[0]]
    for i in range(1, len(line)):
        if line[i][1] - line[i - 1][3] <= threshold:
            cur.append(line[i])
        else:
            clusters.append(cur)
            cur = [line[i]]
    clusters.append(cur)
    return clusters


def cluster_text(cluster: Sequence[Word]) -> str:
    return " ".join(w[0] for w in cluster)


def is_obvious_value(text: str) -> bool:
    """Value-pattern truth table — spatial_preprocessor.py:349-390."""
    t = text.strip()
    if len(t) == 1 and t.isalpha():
        return True
    if t.translate(_PURE_NUM_STRIP).isdigit():
        return True
    if t.startswith("$") or t.endswith("%"):
        return True
    if _DATE_RE.match(t):
        return True
    if _PHONE_RE.match(t):
        return True
    if _SSN_RE.match(t):
        return True
    low = t.lower()
    if t.isupper() and len(t) <= ALLCAPS_VALUE_MAXLEN and not any(
        k in low for k in FIELD_KEYWORDS
    ):
        return True
    return False


def is_field_cluster(cluster: Sequence[Word]) -> bool:
    """Field-label truth table — spatial_preprocessor.py:298-347.

    Patterns (in order, after the obvious-value veto):
      1 keyword substring  2 ending match  3 >=70% title-case (>=2 words)
      4 common-field substring  5 last word in field-word set
    """
    if not cluster:
        return False
    texts = [w[0] for w in cluster]
    original = " ".join(texts)
    lowered = " ".join(t.lower() for t in texts)
    if is_obvious_value(original):
        return False
    if any(k in lowered for k in FIELD_KEYWORDS):
        return True
    if any(lowered.endswith(e) for e in FIELD_ENDINGS):
        return True
    if len(texts) >= 2:
        n_title = sum(
            1 for t in texts if t and t[0].isupper() and not t.isupper()
        )
        if n_title >= len(texts) * TITLE_CASE_RATIO:
            return True
    if any(f in lowered for f in COMMON_FIELDS):
        return True
    # the reference re-splits the JOINED text with str.split() (any
    # whitespace), so a single word containing internal whitespace can
    # still end with a field token (spatial_preprocessor.py:341-344)
    parts = original.split()
    if parts and parts[-1].lower() in LAST_WORD_FIELDS:
        return True
    return False


def line_has_field_words(line: Sequence[Word]) -> bool:
    """Any single word classifying as a field marks the line
    (spatial_preprocessor.py:87-96)."""
    return any(is_field_cluster([w]) for w in line)


def is_value_line(field_line: Sequence[Word], value_line: Sequence[Word]) -> bool:
    """>=1 field word has a value word within 30 px of its center_x
    (spatial_preprocessor.py:98-127)."""
    if not field_line or not value_line:
        return False
    vxs = [center_x(w) for w in value_line]
    for fw in field_line:
        fx = center_x(fw)
        if any(abs(fx - vx) <= VALUE_ALIGN_TOL for vx in vxs):
            return True
    return False


def format_field_line_with_values(
    field_line: Sequence[Word], value_line: Optional[Sequence[Word]]
) -> str:
    """Cross-line pairing — spatial_preprocessor.py:129-182.

    Quirks preserved: the 50 px nearest match scans value clusters in x
    order with a strict '<' so the first of equal distances wins; a
    closer cluster that itself looks like a field is skipped WITHOUT
    updating the running minimum (so a farther value can still win).
    """
    if not field_line:
        return ""
    fclusters = cluster_line(field_line)
    vclusters = cluster_line(value_line) if value_line else []
    vinfo = [
        (cluster_text(c), sum(center_x(w) for w in c) / len(c), is_field_cluster(c))
        for c in vclusters
    ]
    parts: List[str] = []
    for fc in fclusters:
        if is_field_cluster(fc):
            fname = cluster_text(fc)
            fx = sum(center_x(w) for w in fc) / len(fc)
            best: Optional[str] = None
            best_d = float("inf")
            for vtext, vx, v_is_field in vinfo:
                d = abs(fx - vx)
                if d <= PAIR_DIST_TOL and d < best_d and not v_is_field:
                    best, best_d = vtext, d
            parts.append(f"{fname}:\t{best}" if best else f"{fname}:\t{EMPTY_SENTINEL}")
        else:
            parts.append(cluster_text(fc))
    return CLUSTER_SEP.join(parts)


def format_plain_line(line: Sequence[Word]) -> str:
    """Same-line pairing via next cluster — spatial_preprocessor.py:225-253
    + :392-420. The value cluster is ALSO emitted standalone (reference
    behaviour)."""
    if not line:
        return ""
    clusters = cluster_line(line)
    parts: List[str] = []
    for i, c in enumerate(clusters):
        if is_field_cluster(c):
            fname = cluster_text(c)
            if i + 1 < len(clusters):
                nxt = clusters[i + 1]
                if is_field_cluster(nxt):
                    parts.append(f"{fname}:\t{EMPTY_SENTINEL}")
                else:
                    parts.append(f"{fname}:\t{cluster_text(nxt)}")
            else:
                parts.append(f"{fname}:\t{EMPTY_SENTINEL}")
        else:
            parts.append(cluster_text(c))
    return CLUSTER_SEP.join(parts)


def reflow(words: Sequence[Word]) -> List[Tuple[str, str]]:
    """Full document reflow — preprocess_document + process_multiline_fields
    (spatial_preprocessor.py:27-85). Returns [(line_kind, text)] where
    line_kind is 'fields' (field-bearing line) or 'text'.

    Quirk preserved: the field branch always pairs against the next
    line's clusters even when the 30 px gate later decides NOT to
    consume that line (spatial_preprocessor.py:69-77)."""
    kept = [w for w in words if keep_word(w[0])]
    if not kept:
        return []
    lines = group_lines(kept)
    out: List[Tuple[str, str]] = []
    i = 0
    while i < len(lines):
        line = lines[i]
        if line_has_field_words(line):
            nxt = lines[i + 1] if i + 1 < len(lines) else None
            formatted = format_field_line_with_values(line, nxt)
            out.append(("fields", formatted))
            i += 2 if (nxt is not None and is_value_line(line, nxt)) else 1
        else:
            formatted = format_plain_line(line)
            if formatted.strip():
                out.append(("text", formatted))
            i += 1
    return out


def spacing_stats(words: Sequence[Word]) -> Tuple[float, float, float]:
    """A1 word-spacing stats (calculate_word_spacing_stats,
    spatial_preprocessor.py:422-463): over consecutive reading-order
    pairs on the same line (|Δy0| <= 5), gaps next.x0 - cur.x1 with
    negative (overlap) gaps ignored; returns (avg, median, population
    std) with median = sorted[n//2] (upper median, not interpolated).
    Whitespace-only words are dropped first (scan-time filter)."""
    kept = [w for w in words if keep_word(w[0])]
    if len(kept) < 2:
        return (0.0, 0.0, 0.0)
    ordered = reading_order(kept)
    gaps = []
    for a, b in zip(ordered, ordered[1:]):
        if abs(a[2] - b[2]) <= 5:
            g = b[1] - a[3]
            if g >= 0:
                gaps.append(g)
    if not gaps:
        return (0.0, 0.0, 0.0)
    avg = sum(gaps) / len(gaps)
    med = sorted(gaps)[len(gaps) // 2]
    var = sum((g - avg) ** 2 for g in gaps) / len(gaps)
    return (avg, med, var ** 0.5)
