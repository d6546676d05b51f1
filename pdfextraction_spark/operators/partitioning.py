"""Partitioning / skew handling (SURVEY.md §4.2, north rule).

- ``logical_partition_id``: stable bucket = pmod(xxhash64(conv_id), N)
  — the checkpoint-manifest key, independent of physical layout.
- ``salted_repartition``: physical shuffle on (conv_id-hash, salt)
  where salt = turn_idx div K, so a mega-conversation with 10^5 turns
  spreads over ceil(turns/K) partitions instead of hot-spotting one
  executor. Safe because per-turn extraction never crosses turns; a
  conversation-level merge (operators/merge.py) re-shuffles unsalted.
- ``sort_within``: (conv_id, turn_idx) order inside every partition
  after that shuffle, whose arrival order is not deterministic. It
  runs only with the exchange, for undersplit scans; a scan-parallel
  input keeps its file order. Per-turn values never depend on it
  (the kernel is row-local), only the row order within a file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_NUM_PARTITIONS, MEGA_CONV_TURNS_PER_SALT


def logical_partition_id(df: DataFrame, num_buckets: int = DEFAULT_NUM_PARTITIONS,
                         col_name: str = "partition_id") -> DataFrame:
    return df.withColumn(
        col_name,
        F.pmod(F.xxhash64(F.col("conv_id")), F.lit(num_buckets)).cast("int"),
    )


def salted_repartition(
    df: DataFrame,
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
    salt_turns: int = MEGA_CONV_TURNS_PER_SALT,
) -> DataFrame:
    salt = (F.col("turn_idx") / F.lit(salt_turns)).cast("int")
    return df.repartition(num_partitions, F.xxhash64(F.col("conv_id")), salt)


def sort_within(df: DataFrame) -> DataFrame:
    return df.sortWithinPartitions("conv_id", "turn_idx")


def prepare_for_extraction(
    df: DataFrame,
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
) -> DataFrame:
    return sort_within(salted_repartition(df, num_partitions))
