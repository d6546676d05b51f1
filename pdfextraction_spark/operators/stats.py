"""A1 word-spacing statistics operator (spatial_preprocessor.py:422-463
analogue) — per pdf_layout turn, Arrow-batched."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..kernels.extract import decode_pdf_rows
from ..kernels.tables import spacing_stats_batch

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
        texts = batch.column("text").to_pandas()
        conv = batch.column("conv_id").to_pylist()
        turn = batch.column("turn_idx").to_pylist()
        out = {"conv_id": [], "turn_idx": [], "stats": []}
        _, pdf_idx, (sizes, t_arr, coord, failed) = decode_pdf_rows(texts)
        # spacing_stats_batch takes per-doc word lists (None for an
        # undecodable envelope): rebuild them from the flat decode
        docs = []
        off = 0
        for j in range(len(pdf_idx)):
            k = int(sizes[j])
            if failed[j]:
                docs.append(None)
            else:
                docs.append(
                    [(t_arr[off + m], *coord[off + m]) for m in range(k)]
                )
            off += k
        stats = spacing_stats_batch(docs)
        for j, i in enumerate(pdf_idx.tolist()):
            if docs[j] is None:
                continue
            out["conv_id"].append(conv[i])
            out["turn_idx"].append(turn[i])
            out["stats"].append(stats[j])
        st = np.asarray(out["stats"]) if out["stats"] else np.zeros((0, 3))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out["conv_id"], type=pa.string()),
                pa.array(out["turn_idx"], type=pa.int32()),
                pa.array(st[:, 0] if len(st) else [], type=pa.float64()),
                pa.array(st[:, 1] if len(st) else [], type=pa.float64()),
                pa.array(st[:, 2] if len(st) else [], type=pa.float64()),
            ],
            schema=_SCHEMA,
        )


def spacing_stats_turns(turns: DataFrame) -> DataFrame:
    return turns.select("conv_id", "turn_idx", "text").mapInArrow(_batches, _DDL)
