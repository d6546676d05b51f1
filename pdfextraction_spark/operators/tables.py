"""Spark table-extraction operator (M3): pdf_layout turns -> exploded
structured table rows.

Output one row per extracted TABLE ROW:
  (conv_id, turn_idx, table_idx, headers array<string>,
   columns array<string>, row_idx, cells array<string>)

Narrow mapInArrow stage like the reflow extractor; non-pdf turns and
table-less pages emit nothing.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ..kernels.extract import decode_pdf_rows
from ..kernels.tables import tables_flat

_OUT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("table_idx", pa.int32()),
        ("headers", pa.list_(pa.string())),
        ("columns", pa.list_(pa.string())),
        ("row_idx", pa.int32()),
        ("cells", pa.list_(pa.string())),
    ]
)

_DDL = (
    "conv_id string, turn_idx int, table_idx int, headers array<string>, "
    "columns array<string>, row_idx int, cells array<string>"
)


def _table_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in it:
        texts = batch.column("text").to_pandas()
        conv = batch.column("conv_id").to_pylist()
        turn = batch.column("turn_idx").to_pylist()
        rows = {k: [] for k in ("conv_id", "turn_idx", "table_idx",
                                "headers", "columns", "row_idx", "cells")}
        _, pdf_idx, (sizes, t_arr, coord, failed) = decode_pdf_rows(texts)
        all_tables = tables_flat(len(pdf_idx), sizes, t_arr, coord, failed)
        for i, tables in zip(pdf_idx.tolist(), all_tables):
            for ti, tab in enumerate(tables or ()):
                for ri, cells in enumerate(tab["rows"]):
                    rows["conv_id"].append(conv[i])
                    rows["turn_idx"].append(turn[i])
                    rows["table_idx"].append(ti)
                    rows["headers"].append(tab["headers"])
                    rows["columns"].append(tab["columns"])
                    rows["row_idx"].append(ri)
                    rows["cells"].append(cells)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(rows["conv_id"], type=pa.string()),
                pa.array(rows["turn_idx"], type=pa.int32()),
                pa.array(rows["table_idx"], type=pa.int32()),
                pa.array(rows["headers"], type=pa.list_(pa.string())),
                pa.array(rows["columns"], type=pa.list_(pa.string())),
                pa.array(rows["row_idx"], type=pa.int32()),
                pa.array(rows["cells"], type=pa.list_(pa.string())),
            ],
            schema=_OUT_SCHEMA,
        )


def extract_tables(turns: DataFrame) -> DataFrame:
    return turns.select("conv_id", "turn_idx", "text").mapInArrow(
        _table_batches, _DDL
    )
