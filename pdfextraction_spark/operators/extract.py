"""Spark extraction operator — one fused mapInArrow stage.

The reference's three sequential steps (classify -> identify ->
extract, app.py:206-904) collapse into a single narrow Arrow stage
(SURVEY.md §7.1): detect payload kind, strip/reflow, emit text +
spans + metrics. No shuffle; whole batches flow Arrow -> NumPy ->
Arrow. The kernel returns its columns as an Arrow batch (spans one
``ListArray`` over flat label/start/end arrays); this operator only
puts the passthrough columns in front of them."""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ..kernels.extract import extract_batch_flat

# ts passes through (zero-copy) when present, so each extracted row
# keeps the event time of its turn
_PASSTHROUGH = ["conv_id", "turn_idx", "role", "ts"]


def _extract_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    out = extract_batch_flat(batch.column("text").to_pandas())
    names = [c for c in _PASSTHROUGH if c in batch.schema.names]
    arrays = [batch.column(c) for c in names]
    arrays[1] = arrays[1].cast(pa.int32())  # turn_idx
    return pa.RecordBatch.from_arrays(arrays + out.columns,
                                      names=names + out.schema.names)


def _extract_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    # map holds no reference to batch k, its input or its result,
    # while batch k+1 is read and extracted, so a task receiving
    # several byte-capped batches keeps one batch's working set
    return map(_extract_batch, it)


def extract_turns(turns: DataFrame) -> DataFrame:
    """Apply the fused extraction stage to a transcripts DataFrame.

    Input requires (conv_id, turn_idx, role, text); ts is carried
    through when present. Narrow transformation — preserves
    partitioning.
    """
    cols = [c for c in _PASSTHROUGH if c in turns.columns] + ["text"]
    ts_ddl = (
        f"ts {turns.schema['ts'].dataType.simpleString()}, "
        if "ts" in turns.columns else ""
    )
    ddl = (
        "conv_id string, turn_idx int, role string, "
        + ts_ddl
        + "payload_kind string, extracted_text string, "
        "spans array<struct<label:string,start:int,end:int>>, "
        "blocks_kept int, blocks_dropped int, parse_failed boolean"
    )
    return turns.select(*cols).mapInArrow(_extract_batches, ddl)
