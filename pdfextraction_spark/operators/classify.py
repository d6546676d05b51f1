"""Step-1 block classification (form / table / mixed) — the
deterministic replacement for the reference's first LLM call.

The reference classifies each page by prompting a model with the raw
text (/root/reference/services/openai_service.py:256-283; output shape
/root/reference/services/prompts.py:14-40: classification + confidence
+ regions). This engine derives the same decision from structure the
extraction pipeline already computed, per SURVEY.md §2.10:

- field evidence  = extracted lines labeled 'fields' (X1-X13 density
  via the layout kernel's span labels)
- table evidence  = W4 table regions found by the coordinate table
  extractor

Classification rule (deterministic, mirrored by the SQL oracle):

    table regions > 0 and field lines > 0  -> 'mixed'
    table regions > 0                      -> 'table'
    field lines  > 0                       -> 'form'
    neither                                -> 'unknown'  (reference
                                              emits 'unknown' only on
                                              LLM error; here it marks
                                              structure-free pages)

Confidence is a pinned monotone function of the evidence count
(0.5 + 0.1 * min(field_lines + 2 * regions, 4); 0.0 for unknown) —
the reference's confidence is model-reported and unreproducible, so
the engine defines its own deterministic scale. The reference's
``regions`` list is summarized as counts (n_table_regions,
n_field_lines) rather than prose descriptions.

One narrow mapInArrow stage over the turns: each pdf_layout envelope
is decoded once and feeds both the layout kernel (field lines) and
the table kernel (regions); no join, no shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame


_FUSED_DDL = ("conv_id string, turn_idx int, block_class string, "
              "confidence double, n_table_regions long, n_field_lines long")

_FUSED_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("block_class", pa.string()),
        ("confidence", pa.float64()),
        ("n_table_regions", pa.int64()),
        ("n_field_lines", pa.int64()),
    ]
)


def _classify_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from ..kernels.extract import decode_pdf_rows
    from ..kernels.layout import reflow_flat
    from ..kernels.tables import tables_flat

    for batch in it:
        texts = batch.column("text").to_pandas()
        conv = batch.column("conv_id").to_pylist()
        turn = batch.column("turn_idx").to_pylist()
        out = {k: [] for k in ("conv_id", "turn_idx", "block_class",
                               "confidence", "n_table_regions",
                               "n_field_lines")}
        # ONE decode feeds both kernels (the fusion this operator
        # exists for)
        _, pdf_idx, (sizes, t_arr, coord, failed) = decode_pdf_rows(texts)
        lines = reflow_flat(len(pdf_idx), sizes, t_arr, coord, failed)
        tables = tables_flat(len(pdf_idx), sizes, t_arr, coord, failed)
        for j, i in enumerate(pdf_idx.tolist()):
            if failed[j] or not lines[j]:
                continue  # undecodable/empty: parse_failed turns
            nf = sum(1 for label, _t in lines[j] if label == "fields")
            nt = len(tables[j])
            cls = ("mixed" if nf and nt else "table" if nt
                   else "form" if nf else "unknown")
            conf = 0.0 if cls == "unknown" else round(
                0.5 + 0.1 * min(nf + 2 * nt, 4), 2
            )
            out["conv_id"].append(conv[i])
            out["turn_idx"].append(turn[i])
            out["block_class"].append(cls)
            out["confidence"].append(conf)
            out["n_table_regions"].append(nt)
            out["n_field_lines"].append(nf)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out["conv_id"], type=pa.string()),
                pa.array(out["turn_idx"], type=pa.int32()),
                pa.array(out["block_class"], type=pa.string()),
                pa.array(out["confidence"], type=pa.float64()),
                pa.array(out["n_table_regions"], type=pa.int64()),
                pa.array(out["n_field_lines"], type=pa.int64()),
            ],
            schema=_FUSED_SCHEMA,
        )


def classify_turns(turns: DataFrame) -> DataFrame:
    """Per-turn block classification for decodable pdf_layout turns.
    Returns (conv_id, turn_idx, block_class, confidence,
    n_table_regions, n_field_lines); undecodable or empty envelopes
    (parse_failed turns) and non-PDF turns yield no row."""
    return turns.select("conv_id", "turn_idx", "text").mapInArrow(
        _classify_batches, _FUSED_DDL
    )
