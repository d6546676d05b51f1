"""S4 page render (reference vision_extractor.py:22-61
``convert_pdf_to_image(pdf_path, page_num, dpi=300) -> PNG bytes``).

The reference rasterizes a PDF page via PyMuPDF at
``scale = dpi / 72`` and returns PNG bytes for the vision call. The
engine has no PDF binaries — its layout turns carry the word-box
envelope — so the parity operator rasterizes exactly what the engine
knows about the page: the page canvas at the same dpi scaling rule,
with every word's bbox inked. The PNG container itself is REAL
(functions/png.py pure-NumPy codec, round-trips through decode_png /
image_features), so the Spark-side plumbing — schema, partitioning,
mapInPandas batch shape, bytes-column handling — is the production
shape; only the glyph painter is the deterministic box fill.

Scale: one page renders independently of every other page — the stage
is embarrassingly parallel (mapInPandas over the turns scan, zero
shuffles) and the canvas size is bounded per row, so the operator's
memory is O(max page pixels), not O(corpus).
"""

from __future__ import annotations

import math
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..payload import decode_pdf_envelope_full
from .png import encode_png

# guard against absurd dpi x page combinations (a 300-dpi letter page
# is 8.4 MP; the cap allows ~8x that before refusing the row)
MAX_PIXELS = 64_000_000

RENDER_SCHEMA = (
    "conv_id string, turn_idx int, dpi int, width int, height int, "
    "n_words int, ink_pixels long, rendered boolean, png binary"
)


def rasterize_words(
    words: List[Tuple[str, float, float, float, float]],
    page_width: float,
    page_height: float,
    dpi: int = 300,
) -> np.ndarray:
    """White page canvas at ``scale = dpi / 72`` (the reference's
    fitz.Matrix rule) with each word bbox filled black. Box edges use
    floor/ceil so a box never loses its sub-pixel sliver; degenerate
    boxes still ink one pixel (a word is never invisible)."""
    s = dpi / 72.0
    w = max(1, int(math.ceil(page_width * s)))
    h = max(1, int(math.ceil(page_height * s)))
    if w * h > MAX_PIXELS:
        raise ValueError(
            f"render of {w}x{h} at dpi={dpi} exceeds MAX_PIXELS={MAX_PIXELS}"
        )
    canvas = np.full((h, w), 255, dtype=np.uint8)
    for _t, x0, y0, x1, y1 in words:
        xa = min(max(int(math.floor(x0 * s)), 0), w - 1)
        ya = min(max(int(math.floor(y0 * s)), 0), h - 1)
        xb = min(max(int(math.ceil(x1 * s)), xa + 1), w)
        yb = min(max(int(math.ceil(y1 * s)), ya + 1), h)
        canvas[ya:yb, xa:xb] = 0
    return canvas


def render_pages(turns: DataFrame, dpi: int = 300) -> DataFrame:
    """Rasterize every pdf_layout turn to a PNG page image.

    Narrow mapInPandas over the turns scan — no shuffle; non-layout
    rows are skipped (they have no page to render). A page the guard
    refuses (untrusted page dims x dpi over MAX_PIXELS) is FLAGGED,
    not fatal: it comes out as rendered=false with a null png, the
    same honest-degrade stance as the multimodal codecs — one
    corrupt envelope must never abort a corpus-scale job. Output
    carries the PNG bytes plus the scalar facts a downstream
    vision/feature stage partitions on (dims, ink mass, word count)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "conv_id": [], "turn_idx": [], "dpi": [], "width": [],
                "height": [], "n_words": [], "ink_pixels": [],
                "rendered": [], "png": [],
            }
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                full = decode_pdf_envelope_full(text) if text else None
                if full is None:
                    continue
                words, pw, ph = full
                try:
                    img = rasterize_words(words, pw, ph, dpi)
                except ValueError:
                    img = None
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(int(turn_idx))
                out["dpi"].append(int(dpi))
                out["width"].append(0 if img is None else img.shape[1])
                out["height"].append(0 if img is None else img.shape[0])
                out["n_words"].append(len(words))
                out["ink_pixels"].append(
                    0 if img is None else int((img == 0).sum())
                )
                out["rendered"].append(img is not None)
                out["png"].append(None if img is None else encode_png(img))
            yield pd.DataFrame(out)

    return turns.select("conv_id", "turn_idx", "text").mapInPandas(
        fn, schema=RENDER_SCHEMA
    )
