"""A1 word-spacing statistics operator (spatial_preprocessor.py:422-463
analogue) — per pdf_layout turn, Arrow-batched."""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ..kernels.extract import decode_pdf_rows
from ..kernels.tables import spacing_stats_flat

_DDL = ("conv_id string, turn_idx int, avg_spacing double, "
        "median_spacing double, spacing_std double")

_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("avg_spacing", pa.float64()),
        ("median_spacing", pa.float64()),
        ("spacing_std", pa.float64()),
    ]
)


def _batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in it:
        _, pdf_idx, (sizes, t_arr, coord, failed) = decode_pdf_rows(
            batch.column("text").to_pandas()
        )
        # undecodable envelopes yield no row
        stats = spacing_stats_flat(len(pdf_idx), sizes, t_arr, coord)[~failed]
        rows = pa.array(pdf_idx[~failed])
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("conv_id").take(rows),
                batch.column("turn_idx").take(rows),
                pa.array(stats[:, 0]),
                pa.array(stats[:, 1]),
                pa.array(stats[:, 2]),
            ],
            schema=_SCHEMA,
        )


def spacing_stats_turns(turns: DataFrame) -> DataFrame:
    return turns.select("conv_id", "turn_idx", "text").mapInArrow(_batches, _DDL)
