"""End-to-end batch extraction job (SURVEY.md §7.1 design stance):

    transcripts scan
      -> anti-join committed partitions (resume)
      -> [undersplit scan only] repartition by hash(conv_id, turn_idx)
         to defaultParallelism, decided once per job
      -> fused mapInArrow extraction stage
      -> append output parquet (lineage columns)
      -> append per-partition manifest rows (metrics)

Chunked commits: logical partitions are processed in ``n_chunks``
groups. The job prepares the input once (``prepare_for_extraction``:
one planning pass for its split count). A group is a filter on
``partition_id`` (a pure function of conv_id, so no exchange is needed
to find its rows; Spark pushes it below the exchange into the scan),
extracted by ``extract_turns``, and runs ONE Spark job, the output
append. The Spark driver then does the chunk's bookkeeping with
pyarrow: it groups the metric columns of the chunk's committed files
into per-partition stats and commits the manifest rows
(sources/manifest.py). The job summary's
``observed_metrics`` are sums of those manifest rows, so the summary
and the manifest count the same committed rows. A killed run resumes
at chunk granularity with no duplicate rows (tests/test_resume.py).
Job start reads the manifest the same way, so a resume with nothing
left to do runs no Spark job for its bookkeeping.

This is a batch job, resumable through its manifest; the engine has no
Structured Streaming path.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime
from typing import Dict, List, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import __version__
from .config import DEFAULT_NUM_PARTITIONS
from .operators.extract import extract_turns
from .operators.partitioning import (
    logical_partition_id,
    prepare_for_extraction,
)
from .sources.manifest import (
    append_manifest,
    committed_partitions,
    manifest_table,
    reconcile_orphan_commits,
    snapshot_id_for_path,
    writer_lock,
)
from .sources.transcripts import read_transcripts


def extract_dataframe(turns: DataFrame) -> DataFrame:
    """Pure transformation: transcripts -> extracted turns (no sinks).

    Per-turn extraction is row-local (``extract_turns`` is a narrow
    map with no cross-row state), so the exchange contributes nothing
    to correctness here. It exists to give undersplit inputs
    parallelism; when the scan itself already spreads the corpus
    across the cluster, shuffling every byte before a per-row kernel
    doubles the I/O for zero gain (guide §2.1: remove shuffles
    outright). ``prepare_for_extraction`` holds that gate. Values are
    identical on both paths (pinned by test); output ROW ORDER is not
    part of the contract either way.
    """
    return extract_turns(prepare_for_extraction(turns))


def run_extraction_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    manifest_path: str,
    run_id: Optional[str] = None,
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
    n_chunks: int = 4,
    fail_after_chunks: Optional[int] = None,
    fail_before_manifest_chunk: Optional[int] = None,
    debug_dir: Optional[str] = None,
) -> dict:
    """Resumable extraction job. Returns a summary dict.

    ``debug_dir`` is the S9 debug-response sink (reference
    openai_service.py:47-69 dumps every prompt/response to
    ``debug_responses/*.txt``): when set, every parse-FAILED turn of a
    committed chunk is appended there as parquet — raw payload (the
    "prompt"), extractor output (the "response"), and the run/commit
    lineage the reference encodes in its debug filenames. Failures
    only: at corpus scale dumping every success is a second copy of
    the corpus; the reference's all-calls dump is a single-process
    debugging aid, and failures are the rows a debugger needs. The
    dump runs after the manifest commit, so a crash in that window is
    healed at the next start: committed chunks with parse_failures > 0
    but no debug rows are backfilled (summary key
    ``debug_commits_backfilled``) — the debug dir is therefore
    complete relative to the manifest once a job finishes cleanly.

    SINGLE WRITER ONLY: at most one job at a time per
    (output_path, manifest_path) — orphan-commit reconciliation at job
    start would otherwise delete a concurrent run's in-flight commit
    (see sources/manifest.py reconcile_orphan_commits). The contract
    is ENFORCED by a writer lock on output_path: a second concurrent
    job raises WriterLockHeld instead of corrupting the first; locks
    left by hard-killed processes are reclaimed (pid-liveness / age).
    Concurrent runs against DIFFERENT outputs are fine.

    ``fail_after_chunks`` injects a crash after k committed chunks;
    ``fail_before_manifest_chunk`` injects a crash INSIDE the commit
    window of chunk k — after its output append, before its manifest
    append (resume tests only).
    """
    # zero chunks would run nothing yet report every partition processed
    if n_chunks < 1 or num_partitions < 1:
        raise ValueError(f"need n_chunks >= 1 and num_partitions >= 1, "
                         f"got {n_chunks} and {num_partitions}")
    with writer_lock(output_path):
        return _run_locked(
            spark, input_path, output_path, manifest_path, run_id,
            num_partitions, n_chunks, fail_after_chunks,
            fail_before_manifest_chunk, debug_dir,
        )


def _dump_debug_rows(
    spark: SparkSession,
    output_path: str,
    turns: DataFrame,
    debug_dir: str,
    commit_id: str,
    now: datetime,
) -> None:
    """S9 debug-response sink for ONE committed chunk: parse-failed
    rows, raw payload joined back from the input scan (the extractor
    output drops the raw text by design). Failures are rare, so the
    filtered side is small; the equi-join is partition-local after the
    commit_id partition prune."""
    failed = (
        spark.read.parquet(output_path)
        .filter((F.col("commit_id") == commit_id) & F.col("parse_failed"))
        .select(
            "conv_id", "turn_idx", "payload_kind", "extracted_text",
            "run_id", "commit_id", "extractor_version",
        )
    )
    raw = turns.select(
        "conv_id", "turn_idx", F.col("text").alias("raw_payload")
    )
    (
        failed.join(raw, ["conv_id", "turn_idx"], "left")
        .withColumn("dumped_at", F.lit(now))
        .write.mode("append")
        .partitionBy("commit_id")
        .parquet(debug_dir)
    )


def _reconcile_debug_dir(
    spark: SparkSession,
    output_path: str,
    manifest_path: str,
    debug_dir: str,
    turns: DataFrame,
    snapshot: str,
) -> List[str]:
    """Backfill debug dumps a prior crash skipped. The in-loop dump
    runs AFTER append_manifest, so a crash inside that window leaves a
    committed chunk (the resume skips it) whose parse-failure rows
    never reached the debug dir — absence of debug rows would silently
    read as absence of failures. At job start, diff the manifest's
    commit_ids with parse_failures > 0 (current snapshot) against the
    debug dir's commit_id partitions and dump the missing ones.
    Bounded: both sides are read on the driver, one or two columns
    each, never a row scan of the output."""
    need = set(
        manifest_table(
            manifest_path,
            ["commit_id", "source_snapshot_id", "parse_failures"],
            (ds.field("source_snapshot_id") == snapshot)
            & (ds.field("parse_failures") > 0),
        ).column("commit_id").to_pylist()
    )
    need.discard(None)  # legacy manifest rows carry no commit_id
    if not need:
        return []
    have = set()
    if os.path.isdir(debug_dir):
        have = set(
            ds.dataset(debug_dir, format="parquet", partitioning=ds.partitioning(
                pa.schema([("commit_id", pa.string())]), flavor="hive"))
            .to_table(columns=["commit_id"])
            .column("commit_id").to_pylist()
        )
    missing = sorted(need - have)
    now = datetime.now()
    for commit_id in missing:
        _dump_debug_rows(spark, output_path, turns, debug_dir,
                         commit_id, now)
    return missing


_NO_ROWS = {"row_count": 0, "blocks_kept": 0, "blocks_dropped": 0,
            "parse_failures": 0}


def _commit_stats(output_path: str, commit_id: str) -> Dict[int, dict]:
    """Per-partition manifest metrics of one COMMITTED chunk, read on
    the driver from its durable files: the ``commit_id=<id>``
    directory only, the 4 metric columns only, grouped with pyarrow.
    So the manifest provably describes what is on disk, at the cost of
    a footer-and-column read instead of a Spark job."""
    path = os.path.join(output_path, f"commit_id={commit_id}")
    if not os.path.isdir(path):
        return {}
    t = ds.dataset(path, format="parquet").to_table(
        columns=["partition_id", "blocks_kept", "blocks_dropped",
                 "parse_failed"]
    )
    t = t.set_column(3, "parse_failed", pc.cast(t["parse_failed"], pa.int64()))
    grouped = t.group_by("partition_id").aggregate([
        ([], "count_all"),
        ("blocks_kept", "sum"),
        ("blocks_dropped", "sum"),
        ("parse_failed", "sum"),
    ])
    return {
        r["partition_id"]: {
            "row_count": r["count_all"],
            "blocks_kept": r["blocks_kept_sum"] or 0,
            "blocks_dropped": r["blocks_dropped_sum"] or 0,
            "parse_failures": r["parse_failed_sum"] or 0,
        }
        for r in grouped.to_pylist()
    }


def _run_locked(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    manifest_path: str,
    run_id: Optional[str],
    num_partitions: int,
    n_chunks: int,
    fail_after_chunks: Optional[int],
    fail_before_manifest_chunk: Optional[int],
    debug_dir: Optional[str] = None,
) -> dict:
    run_id = run_id or uuid.uuid4().hex[:12]
    snapshot = snapshot_id_for_path(input_path)
    turns = read_transcripts(spark, input_path)
    turns = logical_partition_id(turns, num_partitions)

    # a prior crash between output append and manifest append leaves
    # rows under a commit_id the manifest never saw: drop them before
    # computing todo, or the re-extraction would duplicate them
    orphans = reconcile_orphan_commits(spark, output_path, manifest_path)
    # symmetric reconcile for the debug sink: the in-loop dump runs
    # after the manifest commit, so a crash in between leaves a chunk
    # the resume skips but whose failures were never dumped
    debug_backfilled: List[str] = []
    if debug_dir is not None:
        debug_backfilled = _reconcile_debug_dir(
            spark, output_path, manifest_path, debug_dir, turns, snapshot
        )
    done = committed_partitions(spark, manifest_path, snapshot)
    all_parts = list(range(num_partitions))
    todo = [p for p in all_parts if p not in done]
    chunks: List[List[int]] = [
        todo[i::n_chunks] for i in range(n_chunks) if todo[i::n_chunks]
    ]

    # the exchange gate plans the input scan, so it runs once per job
    # with work, never per chunk and never on a no-op resume
    prepared = prepare_for_extraction(turns) if chunks else turns
    total_rows = 0
    observed = {"turns": 0, "parse_failures": 0, "blocks_dropped": 0}
    for ci, part_group in enumerate(chunks):
        extracted = extract_turns(
            prepared.filter(F.col("partition_id").isin(part_group)))
        # partition_id is a pure function of conv_id -> recompute after
        # the Arrow stage instead of shipping it through the kernel
        out = logical_partition_id(extracted, num_partitions)
        commit_id = f"{run_id}-{ci:04d}"
        out = (
            out.withColumn("run_id", F.lit(run_id))
            .withColumn("source_snapshot_id", F.lit(snapshot))
            .withColumn("extractor_version", F.lit(__version__))
            .withColumn("commit_id", F.lit(commit_id))
        )
        # the chunk's one Spark job: a single write pass (no persist —
        # at corpus scale the chunk output cannot be cached)
        out.write.mode("append").partitionBy("commit_id").parquet(output_path)
        if fail_before_manifest_chunk is not None and ci + 1 >= fail_before_manifest_chunk:
            raise RuntimeError(
                f"injected failure inside commit window of chunk {ci + 1}"
            )
        seen = _commit_stats(output_path, commit_id)
        now = datetime.now()
        rows = [
            {
                "run_id": run_id,
                "commit_id": commit_id,
                "source_snapshot_id": snapshot,
                "partition_id": p,
                **seen.get(p, _NO_ROWS),
                "extractor_version": __version__,
                "committed_at": now,
            }
            for p in part_group
        ]
        append_manifest(spark, manifest_path, rows)
        if debug_dir is not None:
            _dump_debug_rows(spark, output_path, turns, debug_dir,
                             commit_id, now)
        chunk_rows = sum(r["row_count"] for r in rows)
        total_rows += chunk_rows
        # S8 usage-log analogue (cost_tracker.py:51-69): the summary's
        # metrics are the committed manifest rows, summed
        observed["turns"] += chunk_rows
        for k in ("parse_failures", "blocks_dropped"):
            observed[k] += sum(r[k] for r in rows)
        if fail_after_chunks is not None and ci + 1 >= fail_after_chunks:
            raise RuntimeError(f"injected failure after {ci + 1} chunks")

    return {
        "run_id": run_id,
        "source_snapshot_id": snapshot,
        "orphan_commits_reconciled": orphans,
        "debug_commits_backfilled": debug_backfilled,
        "partitions_done_before": len(done),
        "partitions_processed": len(todo),
        "rows_written": total_rows,
        "observed_metrics": observed,
    }
