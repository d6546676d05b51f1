"""Batch HTML boilerplate-strip kernel (regex tokenizer).

Independent implementation of the block semantics defined by the
oracle (oracle/htmlstrip.py, stdlib HTMLParser): same drop-subtree
set, block segmentation, link density and keep thresholds — pytest
asserts byte equality between the two.

The tokenizer is a compiled-regex scan (C regex engine); the Python
loop is over *tags*, not characters, and documents are processed
within Arrow batches. script/style contents are treated as CDATA
(skipped to the matching close tag), mirroring HTMLParser.
"""

from __future__ import annotations

import re
from html import unescape
from typing import List, Tuple

from ..config import (
    HTML_BLOCK_TAGS,
    HTML_DROP_SUBTREES,
)
from ..oracle.htmlstrip import _VOID, keep_block

_WS_RE = re.compile(r"\s+")
_TAG_RE = re.compile(
    r"<!--.*?-->"                      # comments
    r"|<!\[CDATA\[.*?\]\]>"            # CDATA
    r"|<!(?:[^>]*)>"                   # doctype / declarations
    r"|<\?(?:[^>]*)>"                  # processing instructions
    r"|<(/?)([a-zA-Z][a-zA-Z0-9:-]*)"  # open/close tag name
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)"  # attrs (quote-aware)
    r"(/?)>",
    re.DOTALL,
)
_CDATA_TAGS = frozenset(["script", "style"])


def _norm(s: str) -> str:
    return _WS_RE.sub(" ", s).strip()


_CDATA_CLOSE = {
    t: re.compile(rf"</{t}(?:\s[^>]*)?>", re.IGNORECASE) for t in _CDATA_TAGS
}


def _norm_len(seg: str) -> int:
    """len(_norm(seg)) without building the normalized string:
    str.split() splits on the same unicode whitespace class as \\s+."""
    words = seg.split()
    if not words:
        return 0
    return sum(map(len, words)) + len(words) - 1


def strip_html_doc(html: str) -> Tuple[str, List[Tuple[str, int, int]], int, int, bool]:
    """Single-document strip; same return contract as
    oracle.htmlstrip.strip_html. Flat scan loop: one regex match per
    tag, text segments handled inline."""
    blocks: List[Tuple[str, str, int, int]] = []
    drop_depth = 0
    cur_tag = "p"
    buf: List[str] = []
    link_depth = 0
    chars = 0
    link_chars = 0
    pos = 0
    length = len(html)

    while pos < length:
        m = _TAG_RE.search(html, pos)
        seg_end = m.start() if m else length
        if seg_end > pos and not drop_depth:
            seg = html[pos:seg_end]
            if "&" in seg:
                seg = unescape(seg)
            buf.append(seg)
            nn = _norm_len(seg)
            chars += nn
            if link_depth:
                link_chars += nn
        if m is None:
            break
        pos = m.end()
        tag = m.group(2)
        if tag is None:
            continue  # comment / doctype / CDATA / PI
        tag = tag.lower()
        closing = m.group(1) == "/"
        selfclose = m.group(4) == "/"
        if not closing and tag in _CDATA_TAGS and not selfclose:
            # CDATA content: skip straight to the matching close tag
            cm = _CDATA_CLOSE[tag].search(html, pos)
            pos = cm.end() if cm else length
            continue
        if tag in HTML_DROP_SUBTREES:
            if tag in _VOID or selfclose:
                continue
            if closing:
                if drop_depth:
                    drop_depth -= 1
            else:
                drop_depth += 1
            continue
        if drop_depth:
            continue
        if tag in HTML_BLOCK_TAGS:
            blocks.append((cur_tag, "".join(buf), chars, link_chars))
            buf = []
            chars = 0
            link_chars = 0
            if closing:
                cur_tag = "p"
            elif tag in ("br", "hr"):
                pass  # void separators keep the enclosing block tag
            else:
                cur_tag = tag
        elif tag == "a":
            if closing:
                if link_depth:
                    link_depth -= 1
            elif not selfclose:
                link_depth += 1
    blocks.append((cur_tag, "".join(buf), chars, link_chars))

    kept: List[Tuple[str, str]] = []
    dropped = 0
    for tag, raw, nch, lch in blocks:
        t = _norm(raw)
        if not t:
            continue
        density = (lch / nch) if nch else 0.0
        if keep_block(tag, t, density):
            kept.append((tag, t))
        else:
            dropped += 1
    spans: List[Tuple[str, int, int]] = []
    parts: List[str] = []
    p = 0
    for tag, t in kept:
        parts.append(t)
        spans.append((tag, p, p + len(t)))
        p += len(t) + 1
    return "\n".join(parts), spans, len(kept), dropped, len(kept) == 0
