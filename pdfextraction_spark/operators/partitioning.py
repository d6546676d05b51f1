"""Partitioning / skew handling (SURVEY.md §4.2, north rule).

- ``logical_partition_id``: stable bucket = pmod(xxhash64(conv_id), N)
  — the checkpoint-manifest key, independent of physical layout.
- ``prepare_for_extraction``: the extraction stage's only exchange.
  An input whose scan already has ``defaultParallelism`` partitions
  runs as it is scanned. An undersplit one (a single pandas-written
  file scans as ONE task) is hashed on (conv_id, turn_idx) into
  ``defaultParallelism`` partitions: one wave of Python tasks per
  core. Keying on the turn spreads a mega-conversation evenly, with no
  salt width to tune, and is safe because per-turn extraction never
  crosses turns; a conversation-level merge (operators/merge.py)
  shuffles on conv_id alone. Row order inside a partition is not part
  of the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_NUM_PARTITIONS


def logical_partition_id(df: DataFrame, num_buckets: int = DEFAULT_NUM_PARTITIONS,
                         col_name: str = "partition_id") -> DataFrame:
    return df.withColumn(
        col_name,
        F.pmod(F.xxhash64(F.col("conv_id")), F.lit(num_buckets)).cast("int"),
    )


def prepare_for_extraction(df: DataFrame) -> DataFrame:
    """``df`` itself when its planned scan has at least
    ``defaultParallelism`` partitions, counted the way Spark will run
    it; else ``df`` hash-repartitioned on (conv_id, turn_idx) to
    ``defaultParallelism`` partitions. File count is not that proxy:
    Spark bin-packs tiny files into shared splits and splits a large
    file with many row groups into several."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores, "conv_id", "turn_idx")
