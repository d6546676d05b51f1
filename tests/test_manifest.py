"""Checkpoint-manifest format and commit point (sources/manifest.py).

The driver writes each chunk's manifest rows with pyarrow into a hidden
file and renames it to a visible name; these tests pin what Spark reads
back, how driver-written files mix with Spark-written ones, and what a
crash between the write and the rename leaves behind.
"""

import os
import time
from datetime import datetime

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from pdfextraction_spark.schema import MANIFEST_SCHEMA
from pdfextraction_spark.sources.manifest import (
    append_manifest,
    committed_commit_ids,
    committed_partitions,
    reconcile_orphan_commits,
)


def _row(commit_id, partition_id, committed_at, snapshot="snap"):
    return {
        "run_id": "r", "commit_id": commit_id,
        "source_snapshot_id": snapshot, "partition_id": partition_id,
        "row_count": 10, "blocks_kept": 3, "blocks_dropped": 1,
        "parse_failures": 0, "extractor_version": "v",
        "committed_at": committed_at,
    }


@pytest.fixture
def non_utc_local_time(monkeypatch):
    """Run with a local zone away from UTC, so a naive ``committed_at``
    written as UTC wall-clock time would read back shifted."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_manifest_schema_round_trip(spark, tmp_path, non_utc_local_time):
    """Spark reads a driver-written manifest back as exactly
    MANIFEST_SCHEMA (``committed_at`` a TimestampType, not
    TIMESTAMP_NTZ), holding the same instant Spark itself stores for
    the naive ``datetime.now()`` the job passes."""
    mf = str(tmp_path / "mf")
    now = datetime.now()
    rows = [_row("r-0000", 0, now), _row("r-0000", 1, now)]
    append_manifest(spark, mf, rows)

    got = spark.read.parquet(mf)
    assert got.schema == MANIFEST_SCHEMA
    via_spark = spark.createDataFrame(
        [tuple(r[f.name] for f in MANIFEST_SCHEMA.fields) for r in rows],
        MANIFEST_SCHEMA,
    )
    assert sorted(got.collect()) == sorted(via_spark.collect())
    assert {r.committed_at for r in got.collect()} == {now}
    # the hidden in-flight file was renamed, not left beside the data
    assert [f for f in os.listdir(mf) if f.startswith(".")] == []


def _spark_written(spark, path, rows, ddl):
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode("append").parquet(path)


def test_legacy_manifest_mixed_writers_never_reconciled_away(spark, tmp_path):
    """Manifests written by Spark (INT96 ``committed_at``) before the
    driver took over appends keep their answers once driver-written
    files join them: a legacy file without commit_ids still blocks all
    reconciliation, and a fully attributed mix deletes exactly the
    true orphan."""
    out = str(tmp_path / "out")
    for cid in ("run-0000", "run-0001", "run-0002"):
        d = os.path.join(out, f"commit_id={cid}")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "wb") as f:
            f.write(b"x")
    now = datetime.now()

    # legacy Spark file (no commit_id column) + a driver-written file
    mf_legacy = str(tmp_path / "mf_legacy")
    _spark_written(
        spark, mf_legacy, [("r1", "snap", 0, 10, now)],
        "run_id string, source_snapshot_id string, partition_id int, "
        "row_count long, committed_at timestamp",
    )
    spark_file = next(f for f in os.listdir(mf_legacy) if f.startswith("part-"))
    # Spark's INT96 reads as nanoseconds in pyarrow; the driver writes
    # microseconds with a UTC zone — the two types really differ
    assert str(pq.read_schema(os.path.join(mf_legacy, spark_file))
               .field("committed_at").type) == "timestamp[ns]"
    append_manifest(spark, mf_legacy, [_row("run-0002", 1, now)])
    assert committed_commit_ids(spark, mf_legacy) is None
    assert reconcile_orphan_commits(spark, out, mf_legacy) == []
    assert len(os.listdir(out)) == 3
    assert committed_partitions(spark, mf_legacy, "snap") == {0, 1}

    # mixed: a Spark-written legacy null commit_id + a driver file
    mf_mixed = str(tmp_path / "mf_mixed")
    _spark_written(
        spark, mf_mixed,
        [("r1", None, "snap", 0, 10, now), ("r2", "run-0000", "snap", 1, 10, now)],
        "run_id string, commit_id string, source_snapshot_id string, "
        "partition_id int, row_count long, committed_at timestamp",
    )
    append_manifest(spark, mf_mixed, [_row("run-0002", 2, now)])
    assert committed_commit_ids(spark, mf_mixed) is None
    assert reconcile_orphan_commits(spark, out, mf_mixed) == []
    assert len(os.listdir(out)) == 3

    # fully attributed: Spark-written full-schema rows + a driver file;
    # only the commit neither attests is an orphan
    mf_new = str(tmp_path / "mf_new")
    _spark_written(
        spark, mf_new,
        [tuple(_row("run-0000", 0, now)[f.name] for f in MANIFEST_SCHEMA.fields)],
        MANIFEST_SCHEMA,
    )
    append_manifest(spark, mf_new, [_row("run-0002", 1, now)])
    assert committed_commit_ids(spark, mf_new) == {"run-0000", "run-0002"}
    assert reconcile_orphan_commits(spark, out, mf_new) == ["run-0001"]
    assert sorted(os.listdir(out)) == ["commit_id=run-0000", "commit_id=run-0002"]
    # Spark still reads the mixed directory as one table
    assert spark.read.parquet(mf_new).schema == MANIFEST_SCHEMA
    assert spark.read.parquet(mf_new).count() == 2


@pytest.mark.slow
def test_crash_before_manifest_rename(spark, tmp_path, monkeypatch):
    """A crash after the hidden manifest file is written but before its
    rename leaves that file in place. Every reader skips it, so the
    chunk reads as uncommitted; the restart reconciles its output away
    and re-extracts it with no duplicate rows."""
    from fixtures.generate import write_transcripts_parquet
    from pdfextraction_spark.pipeline import run_extraction_job

    src = write_transcripts_parquet(str(tmp_path / "in.parquet"), "s",
                                    total_turns=1500)
    n_turns = spark.read.parquet(src).count()
    out, mf = str(tmp_path / "out"), str(tmp_path / "mf")

    real_replace = os.replace
    renames = []

    def crash_on_second_rename(src_fp, dst_fp):
        if os.path.dirname(dst_fp) == mf:
            renames.append(dst_fp)
        if len(renames) == 2:
            raise RuntimeError("injected crash before manifest rename")
        real_replace(src_fp, dst_fp)

    monkeypatch.setattr(os, "replace", crash_on_second_rename)
    with pytest.raises(RuntimeError, match="before manifest rename"):
        run_extraction_job(spark, src, out, mf, run_id="r1",
                           num_partitions=8, n_chunks=4)
    monkeypatch.setattr(os, "replace", real_replace)

    hidden = [f for f in os.listdir(mf) if f.startswith(".part-")]
    assert len(hidden) == 1
    assert len(pq.read_table(os.path.join(mf, hidden[0]))) == 2
    # both readers see chunk 1 only
    assert spark.read.parquet(mf).select("commit_id").distinct().collect() == [
        ("r1-0000",)]
    assert set(ds.dataset(mf, format="parquet").to_table()
               .column("commit_id").to_pylist()) == {"r1-0000"}
    assert committed_commit_ids(spark, mf) == {"r1-0000"}
    assert sorted(d for d in os.listdir(out) if d.startswith("commit_id=")) == [
        "commit_id=r1-0000", "commit_id=r1-0001"]

    summary = run_extraction_job(spark, src, out, mf, run_id="r2",
                                 num_partitions=8, n_chunks=4)
    assert summary["orphan_commits_reconciled"] == ["r1-0001"]
    assert summary["partitions_done_before"] == 2
    assert summary["partitions_processed"] == 6
    got = spark.read.parquet(out).select("conv_id", "turn_idx").toPandas()
    assert len(got) == n_turns
    assert not got.duplicated().any()
    mf_rows = spark.read.parquet(mf).toPandas()
    assert mf_rows["row_count"].sum() == n_turns
    assert sorted(mf_rows["partition_id"]) == list(range(8))


@pytest.mark.parametrize("bad", [{"n_chunks": 0}, {"num_partitions": 0}])
def test_job_rejects_empty_chunking(spark, tmp_path, bad):
    """With no chunk or no partition the job would run nothing yet
    report work done, so it refuses before taking the writer lock."""
    from pdfextraction_spark.pipeline import run_extraction_job

    out = tmp_path / "out"
    with pytest.raises(ValueError, match=">= 1"):
        run_extraction_job(spark, str(tmp_path / "in"), str(out),
                           str(tmp_path / "mf"), **bad)
    assert not out.exists()


@pytest.mark.slow
def test_resume_on_scan_parallel_input(spark, tmp_path, xs_parquet,
                                       monkeypatch):
    """An input that scans as at least ``defaultParallelism`` partitions
    is extracted chunk by chunk with no exchange. A crash after one
    chunk and a resume leave no duplicate rows and the same rows as the
    job on the single-file fixture, whose undersplit scan keeps the
    exchange."""
    import pdfextraction_spark.pipeline as pipeline

    wide = str(tmp_path / "wide")
    spark.read.parquet(xs_parquet).repartition(8).write.parquet(wide)
    assert (spark.read.parquet(wide).rdd.getNumPartitions()
            >= spark.sparkContext.defaultParallelism)

    plans = []
    real_extract = pipeline.extract_turns

    def capture_plan(*args):
        df = real_extract(*args)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return df

    monkeypatch.setattr(pipeline, "extract_turns", capture_plan)

    out, mf = str(tmp_path / "out"), str(tmp_path / "mf")
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run_extraction_job(spark, wide, out, mf, run_id="w1",
                                    num_partitions=8, n_chunks=4,
                                    fail_after_chunks=1)
    summary = pipeline.run_extraction_job(spark, wide, out, mf, run_id="w2",
                                          num_partitions=8, n_chunks=4)
    assert summary["partitions_done_before"] == 2
    assert summary["partitions_processed"] == 6
    assert len(plans) == 1 + 4  # the crashed run's chunk + the resume's
    assert all("Exchange" not in p for p in plans)

    plans.clear()
    ref_out = str(tmp_path / "ref_out")
    pipeline.run_extraction_job(spark, xs_parquet, ref_out,
                                str(tmp_path / "ref_mf"),
                                num_partitions=8, n_chunks=4)
    assert len(plans) == 4
    assert all(p.count("Exchange") == 1 for p in plans)

    lineage = ["run_id", "commit_id", "source_snapshot_id"]
    got = spark.read.parquet(out).drop(*lineage)
    ref = spark.read.parquet(ref_out).drop(*lineage)
    n = got.count()
    assert n == ref.count() == spark.read.parquet(xs_parquet).count()
    assert got.select("conv_id", "turn_idx").distinct().count() == n
    assert got.exceptAll(ref).count() == 0 == ref.exceptAll(got).count()
    mf_rows = pq.read_table(mf, columns=["row_count"]).column("row_count")
    assert sum(mf_rows.to_pylist()) == n


@pytest.mark.slow
def test_job_plans_split_count_once(spark, tmp_path, xs_parquet,
                                    monkeypatch):
    """The exchange gate plans the input scan to count its splits. The
    count does not depend on a chunk's ``partition_id`` filter, so a
    run with work asks it once, however many chunks it has, and a
    no-op resume never."""
    from pyspark import RDD

    import pdfextraction_spark.pipeline as pipeline

    gates, counts = [], []
    real_gate = pipeline.prepare_for_extraction
    real_count = RDD.getNumPartitions

    def gate(*args):
        gates.append(1)
        return real_gate(*args)

    def count(rdd):
        counts.append(1)
        return real_count(rdd)

    monkeypatch.setattr(pipeline, "prepare_for_extraction", gate)
    monkeypatch.setattr(RDD, "getNumPartitions", count)

    out, mf = str(tmp_path / "out"), str(tmp_path / "mf")
    first = pipeline.run_extraction_job(spark, xs_parquet, out, mf,
                                        num_partitions=8, n_chunks=4)
    assert first["partitions_processed"] == 8
    assert (len(gates), len(counts)) == (1, 1)

    gates.clear()
    counts.clear()
    again = pipeline.run_extraction_job(spark, xs_parquet, out, mf,
                                        num_partitions=8, n_chunks=4)
    assert again["partitions_processed"] == 0
    assert (len(gates), len(counts)) == (0, 0)


@pytest.mark.slow
def test_job_chunk_plan(spark, tmp_path, xs_parquet):
    """By default the job commits one chunk per wave of scan
    tasks, at most 4, and its summary counts the commits. The
    single-file fixture is exchanged into one wave: one chunk, one
    commit_id in the manifest. The same rows as one file per split,
    at least four waves of splits that own rows, keep 4 chunks. An
    explicit ``n_chunks`` is honored."""
    import pdfextraction_spark.pipeline as pipeline

    def run(src, name, **kw):
        out, mf = str(tmp_path / f"{name}_out"), str(tmp_path / f"{name}_mf")
        summary = pipeline.run_extraction_job(spark, src, out, mf,
                                              num_partitions=8, **kw)
        ids = set(pq.read_table(mf, columns=["commit_id"])
                  .column("commit_id").to_pylist())
        again = pipeline.run_extraction_job(spark, src, out, mf,
                                            num_partitions=8, **kw)
        assert again["chunks"] == 0
        return summary, ids

    one, ids = run(xs_parquet, "one")
    assert one["chunks"] == 1 and len(ids) == 1
    assert one["partitions_processed"] == 8

    explicit, ids = run(xs_parquet, "explicit", n_chunks=4)
    assert explicit["chunks"] == 4 and len(ids) == 4
    assert explicit["rows_written"] == one["rows_written"]

    n_cores = spark.sparkContext.defaultParallelism
    many = str(tmp_path / "many_files")
    spark.read.parquet(xs_parquet).repartition(4 * n_cores).write.parquet(many)
    # a 1 KB split size: each file's one row group lands in a split
    # of its own, so the splits that own rows number the files
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    spark.conf.set("spark.sql.files.openCostInBytes", "1k")
    try:
        wide, ids = run(many, "wide")
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert wide["chunks"] == 4 and len(ids) == 4
    assert wide["rows_written"] == one["rows_written"]
