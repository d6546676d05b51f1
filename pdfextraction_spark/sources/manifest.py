"""Checkpoint-manifest source/sink — the engine's resumability story.

Replaces the reference's whole-file documents.json rewrite
(storage.py:142-145, its central scalability anti-pattern) with an
append-only manifest table keyed by (source_snapshot_id,
partition_id): a restart reads committed partition ids for the same
input snapshot and skips them (anti-join), so output appends are
exactly-once at partition granularity (north rule "resumable from
checkpoint with per-partition lineage + metrics").

Local builds use a parquet directory as the manifest table (an
Iceberg catalog is not available in this sandbox); the protocol —
append manifest rows only AFTER the chunk's output append is durable —
is identical with an Iceberg table, where the two appends can share a
transaction.

The manifest is control-plane data (a few rows per chunk), so the
driver reads and writes it with pyarrow instead of running Spark jobs.
A chunk's rows land in one hidden file that is then renamed to a
visible name: the rename is the commit point. A crash before it leaves
only a hidden file, which every reader (Spark and pyarrow) skips, so
the chunk reads as uncommitted and is reconciled and re-extracted.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import socket
import time
import uuid
from datetime import timezone
from typing import List, Optional, Set

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..schema import MANIFEST_SCHEMA

_ARROW_SCHEMA = to_arrow_schema(MANIFEST_SCHEMA)


_SNAPSHOT_PROBE_BYTES = 4096


def _file_content_entry(fp: str, rel: str) -> str:
    """Content signature of one data file: relative path, size, and a
    hash of the head + tail probe windows. For parquet the tail window
    covers the footer (schema, row-group metadata, row counts), so any
    rewrite that changes data changes the signature; reading two 4 KiB
    windows keeps the cost independent of file size."""
    st = os.stat(fp)
    h = hashlib.sha256()
    with open(fp, "rb") as f:
        h.update(f.read(_SNAPSHOT_PROBE_BYTES))
        if st.st_size > _SNAPSHOT_PROBE_BYTES:
            f.seek(max(st.st_size - _SNAPSHOT_PROBE_BYTES, 0))
            h.update(f.read(_SNAPSHOT_PROBE_BYTES))
    return f"{rel}:{st.st_size}:{h.hexdigest()}"


def snapshot_id_for_path(path: str) -> str:
    """Deterministic stand-in for an Iceberg snapshot id: hash of the
    CONTENT manifest — sorted relative file list, sizes, and per-file
    head/tail probe hashes (parquet footers live in the tail).

    Content-based on purpose: a touched-but-identical input keeps the
    same snapshot id (resume still skips committed partitions), while
    an appended-to or rewritten input rotates it (the changed table is
    re-extracted, matching Iceberg's new-snapshot-per-commit
    semantics). mtime is deliberately excluded."""
    entries = []
    if os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                fp = os.path.join(root, f)
                entries.append(
                    _file_content_entry(fp, os.path.relpath(fp, path))
                )
    elif os.path.exists(path):
        entries.append(_file_content_entry(path, os.path.basename(path)))
    digest = hashlib.sha256("\n".join(entries).encode()).hexdigest()
    return digest[:16]


class WriterLockHeld(RuntimeError):
    """Another job currently holds the writer lock for this output."""


_LOCK_NAME = "_writer.lock"


@contextlib.contextmanager
def writer_lock(output_path: str, stale_after_sec: float = 3600.0):
    """Enforce the single-writer contract (see
    reconcile_orphan_commits): a second concurrent job against the
    same output would have its in-flight commit directory deleted as
    an orphan, so refuse to start instead.

    The lock is an O_EXCL-created file holding (pid, host, ts). It is
    released in ``finally`` — a job that FAILS (including the resume
    tests' injected crashes) releases it on the way out, because the
    lock guards concurrency, not crash state; the manifest protocol
    alone makes the restart safe. A lock left by a hard-killed
    process is reclaimed when its pid is dead on this host, or — for
    a foreign host, where liveness can't be probed — when the lock is
    older than ``stale_after_sec``. This mirrors what an Iceberg
    catalog's optimistic commit lock would arbitrate; the parquet
    stand-in has no catalog, so the filesystem token does it."""
    os.makedirs(output_path, exist_ok=True)
    lock_fp = os.path.join(output_path, _LOCK_NAME)
    me = {"pid": os.getpid(), "host": socket.gethostname(),
          "ts": time.time()}
    for attempt in range(2):
        try:
            fd = os.open(lock_fp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                json.dump(me, f)
            break
        except FileExistsError:
            holder = {}
            with contextlib.suppress(OSError, ValueError):
                with open(lock_fp) as f:
                    holder = json.load(f)
            stale = False
            if holder.get("host") == me["host"] and "pid" in holder:
                try:
                    os.kill(int(holder["pid"]), 0)
                except (ProcessLookupError, ValueError):
                    stale = True  # same host, pid gone -> hard-killed
                except PermissionError:
                    pass  # alive under another uid
            else:
                # foreign-host OR unreadable/mid-write lock: age by the
                # FILE's mtime, never by content — a concurrent creator
                # that hasn't flushed its json yet reads as {} and a
                # content-ts default of 0 would make a freshly-created
                # LIVE lock look ancient and get reclaimed (the exact
                # race the lock exists to prevent). mtime is stamped by
                # the filesystem at creation, so a mid-write lock is
                # always young.
                try:
                    age = time.time() - os.stat(lock_fp).st_mtime
                except OSError:
                    age = 0.0  # vanished -> retry the O_EXCL create
                stale = age > stale_after_sec
            if stale and attempt == 0:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(lock_fp)
                continue
            raise WriterLockHeld(
                f"writer lock for {output_path} held by "
                f"{holder or 'an unreadable lock file'}; at most one job "
                f"may write a given (output_path, manifest_path) at a "
                f"time"
            )
    try:
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(lock_fp)


def manifest_table(manifest_path: str, columns: List[str],
                   filter: Optional[ds.Expression] = None) -> pa.Table:
    """Only ``columns`` of the committed manifest rows, read on the
    driver through pyarrow. Hidden names (an in-flight ``.part-*``
    file, ``_SUCCESS``) are skipped, as Spark's reader skips them. The
    read schema is the manifest's own, narrowed to ``columns``: a file
    written before one of them existed reads as nulls there, and
    columns left out are never decoded, so Spark-written INT96 and
    driver-written ``committed_at`` types never meet. An absent
    manifest reads as an empty table."""
    schema = pa.schema([_ARROW_SCHEMA.field(c) for c in columns])
    if not os.path.isdir(manifest_path):
        return schema.empty_table()
    return ds.dataset(manifest_path, schema=schema, format="parquet").to_table(
        filter=filter
    )


def committed_partitions(
    spark: SparkSession, manifest_path: str, source_snapshot_id: str
) -> Set[int]:
    t = manifest_table(
        manifest_path, ["source_snapshot_id", "partition_id"],
        ds.field("source_snapshot_id") == source_snapshot_id,
    )
    return set(t.column("partition_id").to_pylist())


def committed_commit_ids(spark: SparkSession, manifest_path: str):
    """All commit_ids with at least one manifest row (any run/snapshot).

    Returns ``None`` when the manifest predates the commit_id column
    (a file without the column, or any row carrying a null) — in that
    state the manifest cannot say which output commits are covered, so
    callers must NOT treat on-disk commits as orphans."""
    ids = manifest_table(manifest_path, ["commit_id"]).column("commit_id")
    if ids.null_count:
        return None
    return set(ids.to_pylist())


def reconcile_orphan_commits(spark: SparkSession, output_path: str,
                             manifest_path: str) -> List[str]:
    """Delete output commit_id=... partitions whose commit never made
    it into the manifest — the crash window between a chunk's output
    append and its manifest append otherwise leaves orphan rows that a
    restart would duplicate (the chunk's partitions are re-extracted
    under a new commit_id).

    Cheap by construction: the output table is partitioned by
    commit_id, so this is a directory listing + a pruned manifest
    scan, independent of data volume. With an Iceberg output table the
    same reconciliation is `DELETE WHERE commit_id IN (orphans)` —
    or unnecessary outright when the two appends share a transaction.
    Returns the deleted commit_ids.

    SINGLE-WRITER REQUIREMENT: exactly one job may run against a given
    (output_path, manifest_path) at a time. A second concurrent run
    would see the first run's in-flight commit directory (output
    appended, manifest row not yet) as an orphan and delete it. This
    is the same contract Iceberg enforces with optimistic commit
    locking on the table metadata; the parquet stand-in has no catalog
    to arbitrate, so the caller must serialize runs."""
    if not os.path.isdir(output_path):
        return []
    on_disk = {
        d.split("=", 1)[1]: os.path.join(output_path, d)
        for d in os.listdir(output_path)
        if d.startswith("commit_id=")
    }
    if not on_disk:
        return []
    committed = committed_commit_ids(spark, manifest_path)
    if committed is None:
        # legacy manifest without commit_id rows: it cannot attest
        # which commits it covers — deleting here would destroy
        # previously committed output. Leave everything in place.
        return []
    orphans = sorted(set(on_disk) - committed)
    for cid in orphans:
        shutil.rmtree(on_disk[cid])
    return orphans


def append_manifest(spark: SparkSession, manifest_path: str,
                    rows: List[dict]) -> None:
    """Commit one chunk's manifest rows from the driver: write them to
    a hidden ``.part-<uuid>.parquet`` in the manifest directory, then
    ``os.replace`` it to its visible name. The rename is the commit
    point: before it every reader skips the file, after it the whole
    file is visible. ``committed_at`` is written as a UTC instant, a
    naive datetime read as local time (as Spark reads one), so Spark
    reads the column back as ``TimestampType``."""
    if not rows:
        return
    table = pa.Table.from_pylist(
        [{**r, "committed_at": r["committed_at"].astimezone(timezone.utc)}
         for r in rows],
        schema=_ARROW_SCHEMA,
    )
    os.makedirs(manifest_path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    hidden = os.path.join(manifest_path, "." + name)
    pq.write_table(table, hidden)
    os.replace(hidden, os.path.join(manifest_path, name))
