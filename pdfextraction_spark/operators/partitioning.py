"""Partitioning / skew handling (SURVEY.md §4.2, north rule).

- ``logical_partition_id``: stable bucket = pmod(xxhash64(conv_id), N)
  — the checkpoint-manifest key, independent of physical layout.
- ``prepare_for_extraction``: the extraction stage's only exchange.
  An input whose scan already has ``defaultParallelism`` splits that
  own rows runs as it is scanned. An undersplit one (a single
  pandas-written file scans as ONE task) is hashed on (conv_id,
  turn_idx) into ``defaultParallelism`` partitions: one wave of Python
  tasks per core. Keying on the turn spreads a mega-conversation
  evenly, with no salt width to tune, and is safe because per-turn
  extraction never crosses turns; a conversation-level merge
  (operators/merge.py) shuffles on conv_id alone. Row order inside a
  partition is not part of the contract. It also returns the number
  of task waves the prepared input runs in, which sizes the job's
  chunk plan (pipeline.py).
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple
from urllib.parse import unquote, urlsplit

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_NUM_PARTITIONS


def logical_partition_id(df: DataFrame, num_buckets: int = DEFAULT_NUM_PARTITIONS,
                         col_name: str = "partition_id") -> DataFrame:
    return df.withColumn(
        col_name,
        F.pmod(F.xxhash64(F.col("conv_id")), F.lit(num_buckets)).cast("int"),
    )


def _row_group_midpoints(path: str) -> List[int]:
    """Byte offsets that assign each non-empty row group of a Parquet
    file to a scan split: Spark's reader keeps a row group in the
    split whose range holds its midpoint, the start of its first
    column chunk plus half its compressed size."""
    md = pq.read_metadata(path)
    mids = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0 or rg.num_columns == 0:
            continue
        first = rg.column(0)
        start = first.data_page_offset
        if first.has_dictionary_page and first.dictionary_page_offset is not None:
            start = min(start, first.dictionary_page_offset)
        size = sum(rg.column(j).total_compressed_size
                   for j in range(rg.num_columns))
        mids.append(start + size // 2)
    return mids


# a PartitionedFile as Spark renders it: "path: <url>, range: <a>-<b>, ..."
_SPLIT_FILE = re.compile(r"path: (\S+), range: (\d+)-(\d+)")


def _splits_owning_rows(rdd) -> Optional[int]:
    """How many of ``rdd``'s partitions, when they are the planned scan
    splits of a narrow plan over local Parquet files, hold at
    least one row group, or None when the partitions are not such
    splits (an exchange, an in-memory relation, another file format
    or file system). Spark plans byte-range splits that own no row
    group: one 6.4 MB single-row-group file read at a 1 MB split size
    plans 7 splits and runs every row in one of them. A split's files
    cross py4j as one string, Spark's rendering of its file list."""
    wrap = rdd.ctx._jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray
    jparts = rdd._jrdd.partitions()
    mids: Dict[str, List[int]] = {}
    owning = 0
    # by index: iterating a py4j list costs a JVM round trip per step
    for part in map(jparts.get, range(jparts.size())):
        if not part.toString().startswith("FilePartition("):
            return None
        files = _SPLIT_FILE.findall(wrap(part.files()).mkString("\n"))
        if not files:
            return None
        owns = False
        for href, lo, hi in files:
            url = urlsplit(href)
            if url.scheme != "file":
                return None
            path = unquote(url.path)
            if path not in mids:
                try:
                    mids[path] = _row_group_midpoints(path)
                except (OSError, pa.ArrowInvalid):
                    return None
            owns = owns or any(int(lo) <= m < int(hi) for m in mids[path])
        owning += owns
    return owning


def prepare_for_extraction(df: DataFrame) -> Tuple[DataFrame, int]:
    """``(prepared, waves)``. ``prepared`` is ``df`` itself when its
    scan has at least ``defaultParallelism`` splits that own rows;
    else ``df`` hash-repartitioned on (conv_id, turn_idx) to
    ``defaultParallelism`` partitions. ``waves`` is how many rounds of
    ``defaultParallelism`` tasks the row-owning splits need, 1 for an
    exchanged input. Both come from one planning pass (``df.rdd``'s
    partitions; the footers of a Parquet scan's files are read on the
    driver). File count is not the proxy: Spark bin-packs tiny files
    into shared splits and splits a large file with many row groups
    into several."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    rdd = df.rdd
    splits = rdd.getNumPartitions()
    if splits >= cores:
        owning = _splits_owning_rows(rdd)
        splits = splits if owning is None else owning
    if splits < cores:
        return df.repartition(cores, "conv_id", "turn_idx"), 1
    return df, -(-splits // cores)
