"""Spark extraction operator — one fused mapInArrow stage.

The reference's three sequential steps (classify -> identify ->
extract, app.py:206-904) collapse into a single narrow Arrow stage
(SURVEY.md §7.1): detect payload kind, strip/reflow, emit text +
spans + metrics. No shuffle; whole batches flow Arrow -> NumPy ->
Arrow. Span structs are built via ``ListArray.from_arrays`` over flat
label/start/end arrays — zero per-span Python objects cross the
boundary."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..kernels.extract import extract_batch_flat

# ts passes through (zero-copy) when present, so each extracted row
# keeps the event time of its turn
_PASSTHROUGH = ["conv_id", "turn_idx", "role", "ts"]


def _spans_list_array(res) -> pa.ListArray:
    offsets = pa.array(
        np.r_[np.int32(0), np.cumsum(res.span_counts, dtype=np.int64)].astype(
            np.int32
        )
    )
    struct = pa.StructArray.from_arrays(
        [
            pa.array(res.span_labels, type=pa.string()),
            pa.array(res.span_starts, type=pa.int32()),
            pa.array(res.span_ends, type=pa.int32()),
        ],
        names=["label", "start", "end"],
    )
    return pa.ListArray.from_arrays(offsets, struct)


def _make_extract_fn(has_ts: bool):
    def _extract_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            texts = batch.column("text").to_pandas()
            res = extract_batch_flat(texts)
            arrays = [
                batch.column("conv_id"),
                batch.column("turn_idx").cast(pa.int32()),
                batch.column("role"),
            ]
            names = ["conv_id", "turn_idx", "role"]
            if has_ts:
                arrays.append(batch.column("ts"))
                names.append("ts")
            arrays += [
                pa.array(res.kinds, type=pa.string()),
                pa.array(res.text, type=pa.string()),
                _spans_list_array(res),
                pa.array(res.kept, type=pa.int32()),
                pa.array(res.dropped, type=pa.int32()),
                pa.array(res.failed, type=pa.bool_()),
            ]
            names += ["payload_kind", "extracted_text", "spans",
                      "blocks_kept", "blocks_dropped", "parse_failed"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return _extract_batches


def extract_turns(turns: DataFrame) -> DataFrame:
    """Apply the fused extraction stage to a transcripts DataFrame.

    Input requires (conv_id, turn_idx, role, text); ts is carried
    through when present. Narrow transformation — preserves
    partitioning.
    """
    has_ts = "ts" in turns.columns
    cols = [c for c in _PASSTHROUGH if c in turns.columns] + ["text"]
    ts_ddl = (
        f"ts {turns.schema['ts'].dataType.simpleString()}, " if has_ts else ""
    )
    ddl = (
        "conv_id string, turn_idx int, role string, "
        + ts_ddl
        + "payload_kind string, extracted_text string, "
        "spans array<struct<label:string,start:int,end:int>>, "
        "blocks_kept int, blocks_dropped int, parse_failed boolean"
    )
    return turns.select(*cols).mapInArrow(_make_extract_fn(has_ts), ddl)
