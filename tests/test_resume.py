"""Resume/idempotence + skew tests (SURVEY.md §5.2, FIXTURES.md §4).

Kill the job after k committed chunks, restart, assert the output
table equals an uninterrupted run with no duplicate rows.
"""

import pandas as pd
import pytest

from fixtures.generate import write_transcripts_parquet
from pdfextraction_spark.pipeline import run_extraction_job


@pytest.fixture(scope="module")
def s_parquet(tmp_path_factory):
    p = tmp_path_factory.mktemp("fix") / "transcripts_s.parquet"
    # small 's' profile: keep runtime modest but retain the skew shape
    return write_transcripts_parquet(str(p), "s", total_turns=3000)


@pytest.mark.slow
def test_resume_no_duplicates_identical_output(spark, s_parquet, tmp_path):
    out_a = str(tmp_path / "out_uninterrupted")
    mf_a = str(tmp_path / "mf_uninterrupted")
    summary = run_extraction_job(
        spark, s_parquet, out_a, mf_a, num_partitions=8, n_chunks=4
    )
    assert summary["partitions_processed"] == 8

    out_b = str(tmp_path / "out_resumed")
    mf_b = str(tmp_path / "mf_resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(
            spark, s_parquet, out_b, mf_b,
            num_partitions=8, n_chunks=4, fail_after_chunks=2,
        )
    # restart: must skip the 2 committed chunks (4 partitions)
    summary2 = run_extraction_job(
        spark, s_parquet, out_b, mf_b, num_partitions=8, n_chunks=4
    )
    assert summary2["partitions_done_before"] == 4
    assert summary2["partitions_processed"] == 4

    cols = ["conv_id", "turn_idx", "extracted_text", "parse_failed"]
    a = spark.read.parquet(out_a).select(cols).orderBy("conv_id", "turn_idx").toPandas()
    b = spark.read.parquet(out_b).select(cols).orderBy("conv_id", "turn_idx").toPandas()
    assert len(a) == len(b)
    assert not b.duplicated(["conv_id", "turn_idx"]).any()
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))

    # manifest metrics reconcile with the output table
    mf = spark.read.parquet(mf_b).toPandas()
    assert mf["row_count"].sum() == len(b)


@pytest.mark.slow
def test_skew_salting_bounds_partition_size(spark, s_parquet):
    """The 's' tier plants 2 mega-conversations holding ~20% of turns.
    The extraction exchange keys on the turn, so on this undersplit
    single-file input the biggest conversation must land on every one
    of the ``defaultParallelism`` partitions, none above twice its fair
    share (output values are checked by the resume tests' full
    equality; here we check the physical spread)."""
    from pyspark.sql import functions as F

    from pdfextraction_spark.operators.partitioning import (
        prepare_for_extraction,
    )

    n_cores = spark.sparkContext.defaultParallelism
    turns = spark.read.parquet(s_parquet)
    assert turns.rdd.getNumPartitions() < n_cores
    mega, n_mega = turns.groupBy("conv_id").count().orderBy(
        F.desc("count")).first()
    parts = (
        prepare_for_extraction(turns)[0]
        .filter(F.col("conv_id") == mega)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .toPandas()
    )
    assert sorted(parts["pid"]) == list(range(n_cores))
    assert parts["count"].sum() == n_mega
    assert parts["count"].max() <= 2 * n_mega / n_cores


@pytest.mark.slow
def test_resume_after_crash_inside_commit_window(spark, s_parquet, tmp_path):
    """Crash AFTER a chunk's output append but BEFORE its manifest
    append: the orphan commit's rows must be reconciled away on
    restart, yielding output identical to an uninterrupted run."""
    out_a = str(tmp_path / "out_clean")
    mf_a = str(tmp_path / "mf_clean")
    run_extraction_job(spark, s_parquet, out_a, mf_a,
                       num_partitions=8, n_chunks=4)

    out_b = str(tmp_path / "out_window")
    mf_b = str(tmp_path / "mf_window")
    with pytest.raises(RuntimeError, match="commit window"):
        run_extraction_job(
            spark, s_parquet, out_b, mf_b,
            num_partitions=8, n_chunks=4, fail_before_manifest_chunk=2,
        )
    # chunk 1 committed fully; chunk 2's rows are on disk but NOT in
    # the manifest — the historical duplicate-rows window
    import os
    orphan_dirs = [d for d in os.listdir(out_b) if d.startswith("commit_id=")]
    assert len(orphan_dirs) == 2  # 1 committed + 1 orphan

    summary = run_extraction_job(spark, s_parquet, out_b, mf_b,
                                 num_partitions=8, n_chunks=4)
    assert len(summary["orphan_commits_reconciled"]) == 1
    assert summary["partitions_done_before"] == 2  # only chunk 1's parts

    cols = ["conv_id", "turn_idx", "extracted_text", "parse_failed"]
    a = spark.read.parquet(out_a).select(cols).orderBy("conv_id", "turn_idx").toPandas()
    b = spark.read.parquet(out_b).select(cols).orderBy("conv_id", "turn_idx").toPandas()
    assert not b.duplicated(["conv_id", "turn_idx"]).any()
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))
    mf = spark.read.parquet(mf_b).toPandas()
    assert mf["row_count"].sum() == len(b)
    assert mf["commit_id"].notna().all()


@pytest.mark.slow
def test_changed_input_invalidates_checkpoints(spark, tmp_path):
    """Resume is keyed by the input SNAPSHOT: if the input table
    changes, committed partitions from the old snapshot must NOT be
    skipped (the north rule's lineage gate)."""
    import time

    src = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    mf = str(tmp_path / "mf")
    write_transcripts_parquet(src, "xs")
    s1 = run_extraction_job(spark, src, out, mf, num_partitions=4, n_chunks=2)
    assert s1["partitions_processed"] == 4

    # same input -> full skip
    s2 = run_extraction_job(spark, src, out, mf, num_partitions=4, n_chunks=2)
    assert s2["partitions_processed"] == 0

    # changed input (more turns -> different size/mtime) -> new snapshot
    time.sleep(1.1)  # mtime resolution guard
    write_transcripts_parquet(src, "xs", total_turns=260)
    s3 = run_extraction_job(spark, src, out, mf, num_partitions=4, n_chunks=2)
    assert s3["source_snapshot_id"] != s1["source_snapshot_id"]
    assert s3["partitions_processed"] == 4  # nothing wrongly skipped


def test_snapshot_id_content_semantics(tmp_path):
    """Snapshot ids are CONTENT-based (VERDICT r2 item 7): a
    touched-but-identical input keeps its id; appended/added/rewritten
    input rotates it (Iceberg new-snapshot-per-commit semantics)."""
    import os
    import time

    from pdfextraction_spark.sources.manifest import snapshot_id_for_path

    src = str(tmp_path / "in")
    write_transcripts_parquet(os.path.join(src, "a.parquet"), "xs")
    s1 = snapshot_id_for_path(src)

    # touch every file (mtime changes, bytes identical) -> SAME id
    time.sleep(1.1)
    for f in os.listdir(src):
        os.utime(os.path.join(src, f))
    assert snapshot_id_for_path(src) == s1

    # add a file -> NEW id
    write_transcripts_parquet(os.path.join(src, "b.parquet"), "xs",
                              total_turns=120)
    s2 = snapshot_id_for_path(src)
    assert s2 != s1

    # rewrite an existing file with different content -> NEW id
    write_transcripts_parquet(os.path.join(src, "b.parquet"), "xs",
                              total_turns=140)
    s3 = snapshot_id_for_path(src)
    assert s3 not in (s1, s2)

    # restore identical content (same generator args) -> id returns
    write_transcripts_parquet(os.path.join(src, "b.parquet"), "xs",
                              total_turns=120)
    assert snapshot_id_for_path(src) == s2


def test_legacy_manifest_never_reconciled_away(spark, tmp_path):
    """A manifest written before the commit_id column existed cannot
    attest which commits it covers — reconciliation must refuse to
    delete ANY output in that state (code-review r2: silent data
    loss)."""
    import os

    from pdfextraction_spark.sources.manifest import (
        committed_commit_ids,
        reconcile_orphan_commits,
    )

    out = str(tmp_path / "out")
    for cid in ("run-0000", "run-0001"):
        d = os.path.join(out, f"commit_id={cid}")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "wb") as f:
            f.write(b"x")

    # legacy manifest: no commit_id column at all
    mf_legacy = str(tmp_path / "mf_legacy")
    spark.createDataFrame(
        [("r1", "snap", 0, 10)],
        "run_id string, source_snapshot_id string, partition_id int, row_count long",
    ).write.parquet(mf_legacy)
    assert committed_commit_ids(spark, mf_legacy) is None
    assert reconcile_orphan_commits(spark, out, mf_legacy) == []
    assert sorted(os.listdir(out)) == ["commit_id=run-0000", "commit_id=run-0001"]

    # mixed manifest: commit_id column present but a legacy null row
    mf_mixed = str(tmp_path / "mf_mixed")
    spark.createDataFrame(
        [("r1", None, "snap", 0, 10), ("r2", "run-0000", "snap", 1, 10)],
        "run_id string, commit_id string, source_snapshot_id string, "
        "partition_id int, row_count long",
    ).write.parquet(mf_mixed)
    assert committed_commit_ids(spark, mf_mixed) is None
    assert reconcile_orphan_commits(spark, out, mf_mixed) == []
    assert len(os.listdir(out)) == 2

    # fully-attributed manifest: the true orphan (and only it) goes
    mf_new = str(tmp_path / "mf_new")
    spark.createDataFrame(
        [("r1", "run-0000", "snap", 0, 10)],
        "run_id string, commit_id string, source_snapshot_id string, "
        "partition_id int, row_count long",
    ).write.parquet(mf_new)
    assert reconcile_orphan_commits(spark, out, mf_new) == ["run-0001"]
    assert os.listdir(out) == ["commit_id=run-0000"]


def test_writer_lock_excludes_concurrent_and_reclaims_stale(
    spark, s_parquet, tmp_path
):
    """Single-writer contract is enforced, not just documented: a held
    lock refuses a second job; a lock left by a dead pid is reclaimed;
    a failed job releases its lock (the resume tests above double as
    proof, since they rerun after injected crashes)."""
    import json
    import os
    import socket

    from pdfextraction_spark.sources.manifest import (
        WriterLockHeld,
        writer_lock,
    )

    out = str(tmp_path / "out_lock")
    mf = str(tmp_path / "mf_lock")
    # someone else (an alive pid on this host: ours) holds the lock
    with writer_lock(out):
        with pytest.raises(WriterLockHeld):
            run_extraction_job(
                spark, s_parquet, out, mf, num_partitions=2, n_chunks=1
            )
    # lock released on exit -> a dead-pid lock is reclaimed silently
    os.makedirs(out, exist_ok=True)
    lock_fp = os.path.join(out, "_writer.lock")
    with open(lock_fp, "w") as f:
        json.dump(
            {"pid": 2 ** 22 + 1, "host": socket.gethostname(), "ts": 0.0},
            f,
        )
    summary = run_extraction_job(
        spark, s_parquet, out, mf, num_partitions=2, n_chunks=1
    )
    assert summary["partitions_processed"] == 2
    assert not os.path.exists(lock_fp)
    # a foreign-host lock younger than the stale bound blocks...
    with open(lock_fp, "w") as f:
        json.dump({"pid": 1, "host": "other-host"}, f)
    with pytest.raises(WriterLockHeld):
        with writer_lock(out):
            pass
    # ...as does an EMPTY (mid-write) lock file — an unreadable lock
    # must read as HELD, not corrupt-therefore-stale (that would let
    # two racing creators steal each other's fresh locks)
    with open(lock_fp, "w") as f:
        pass
    with pytest.raises(WriterLockHeld):
        with writer_lock(out):
            pass
    # ...and is reclaimed once the FILE (mtime, not content) ages past
    # the bound
    with open(lock_fp, "w") as f:
        json.dump({"pid": 1, "host": "other-host"}, f)
    os.utime(lock_fp, (0, 0))
    with writer_lock(out):
        pass
    assert not os.path.exists(lock_fp)
