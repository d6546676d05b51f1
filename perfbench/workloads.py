"""The benchmark's workloads.

Each workload prepares its seeded inputs, runs one untimed warm
iteration, then timed iterations, and checks every output it reads.
``traced()`` repeats one iteration under a ``Tracer`` and returns the
per-layer numbers. Checks are untimed and count toward ``Ops``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from . import inputs
from .trace import MB

# registry queries over the seeded ``documents`` table: the hot-shingle
# stoplist behind near-dup blocking (shingling, a grouped document
# frequency, a semi join), whose wall at 4000 documents is mostly
# executor work. Queries whose wall is mostly driver-side plan building
# (minhash_lsh_pairs: about 2900 py4j calls a run; pack_chunks) moved by
# 30-50% between runs with the host's load, and semantic_dedup's cost
# follows the seeded embeddings' cluster sizes. The queries that read the
# package's transcripts fixture are left out (their fixture and oracle
# live outside the benchmark's checkout), and so are the heavy ones
# (curation_funnel_v2, pq_adc_topk, incremental_update), whose cold runs
# would not fit the run's time budget
QUERIES = ["hot_shingles"]

_EXTRACT_FIELDS = ["payload_kind", "extracted_text", "spans", "blocks_kept",
                   "blocks_dropped", "parse_failed"]


class Ops:
    """Operations attempted and failed (raised or failed a check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] FAILED: {what}", file=sys.stderr)
        return ok


def checksum(df, obs):
    """``df`` observed into ``obs``: an order-independent sum of a
    64-bit hash over every column (doubles rounded to 6 places) and a
    row count."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [F.round(F.col(f.name), 6) if isinstance(f.dataType, (DoubleType, FloatType))
            else F.col(f.name) for f in df.schema.fields]
    return df.observe(
        obs,
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    )


def force(df) -> dict:
    """Compute every column of ``df`` (no-op sink); returns the
    checksum and row count."""
    from pyspark.sql import Observation

    obs = Observation()
    checksum(df, obs).write.format("noop").mode("overwrite").save()
    return obs.get


def oracle_row(text):
    """The loop oracle's per-turn output, in the extracted table's
    field order and types."""
    from pdfextraction_spark.oracle import extract_turn

    kind, out, spans, kept, dropped, failed = extract_turn(text)
    return [kind, out, [(l, s, e) for (l, s, e) in spans], kept, dropped, failed]


def rows_match(got: dict, text) -> bool:
    raw = got["spans"] if got["spans"] is not None else []
    spans = [(s["label"], s["start"], s["end"]) for s in raw]
    return [got["payload_kind"], got["extracted_text"], spans, got["blocks_kept"],
            got["blocks_dropped"], got["parse_failed"]] == oracle_row(text)


def sample_frame(path: str, seed: int, n: int) -> pd.DataFrame:
    """A seeded sample of ``n`` input turns (keys and text)."""
    t = ds.dataset(path, format="parquet").to_table(columns=["conv_id", "turn_idx", "text"])
    idx = np.sort(np.random.default_rng([seed, 3]).choice(t.num_rows, size=min(n, t.num_rows), replace=False))
    return t.take(idx).to_pandas()


def kernel_probe(path: str, seed: int, n_sample: int, repeats: int = 3) -> dict:
    """Single-thread kernel rates on a seeded sample of the input at
    ``path``, in this process: rows/s per payload kind on kind-pure
    subsets, the mixed sample's detect and batch times (medians of
    ``repeats``), and the share of distinct texts in the whole input."""
    import pyarrow.compute as pc

    from pdfextraction_spark.kernels.extract import detect_kinds, extract_batch_flat

    texts = sample_frame(path, seed, n_sample).text.reset_index(drop=True)
    column = ds.dataset(path, format="parquet").to_table(columns=["text"]).column("text")

    def timed(fn, arg):
        walls = []
        for _ in range(repeats):
            t = time.perf_counter()
            fn(arg)
            walls.append(time.perf_counter() - t)
        return statistics.median(walls)

    kinds = detect_kinds(texts)
    out = {
        "kernels.extract.detect_s": timed(detect_kinds, texts),
        "kernels.extract.batch_s": timed(extract_batch_flat, texts),
        "kernels.extract.unique_frac": pc.count_distinct(column).as_py() / len(column),
    }
    for kind, key in (("html", "html"), ("pdf_layout", "pdf"), ("plain", "plain")):
        sub = texts[kinds == kind].reset_index(drop=True)
        if len(sub):
            out[f"kernels.{key}_rows_per_s"] = len(sub) / timed(extract_batch_flat, sub)
    return out


def plan_layers(p: dict) -> dict:
    """Extraction-stage layer metrics from a summed plan rollup."""
    return {
        "operators.extract.sent_mb": p.get("extract_sent_bytes", 0) / MB,
        "operators.extract.recv_mb": p.get("extract_recv_bytes", 0) / MB,
        "operators.extract.python_s": p.get("extract_python_s", 0),
        "operators.extract.boot_s": p.get("extract_boot_s", 0),
        "operators.extract.init_s": p.get("extract_init_s", 0),
        "operators.extract.rows_out": p.get("extract_rows_out", 0),
        "operators.partitioning.shuffle_mb": p.get("extract_in_shuffle_bytes", 0) / MB,
        "operators.partitioning.shuffle_records": p.get("extract_in_shuffle_records", 0),
        "sources.scan_rows": p.get("extract_scan_rows", 0),
        "sources.scan_mb": p.get("extract_scan_bytes", 0) / MB,
    }


class Workload:
    """Shared shape: ``prepare`` (untimed inputs), ``warm`` (the untimed
    first iteration), ``iteration`` (returns its wall), ``finish``
    (end-of-run checks), ``traced`` (per-layer numbers)."""

    def __init__(self, root: str, seed: int, work_dir: str, smoke: bool,
                 corrupt: bool, ops: Ops):
        self.root = root
        self.seed = seed
        self.work_dir = work_dir
        self.smoke = smoke
        self.corrupt = corrupt
        self.ops = ops
        self.cache_dir = os.path.join(root, "perfbench", ".cache")
        self.ncpu = len(os.sched_getaffinity(0))

    def finish(self, spark) -> None:
        pass

    def extra_layers(self) -> dict:
        return {}


class Extract(Workload):
    """``extract_dataframe`` over one transcripts shape, split into at
    least ``nproc`` files (the shuffle-free path)."""

    shape = "unique"
    n_turns = 50_000
    n_files = 8
    n_sample = 100

    def prepare(self) -> None:
        n = 2_000 if self.smoke else self.n_turns
        self.n_turns = n
        self.input = inputs.transcripts_dir(self.cache_dir, self.shape, self.seed, n,
                                            max(self.n_files, self.ncpu))
        self.sample = sample_frame(self.input, self.seed, 20 if self.smoke else self.n_sample)

    def _frame(self, spark):
        from pdfextraction_spark.pipeline import extract_dataframe

        return extract_dataframe(spark.read.parquet(self.input))

    def warm(self, spark) -> None:
        from pyspark.sql import Observation, functions as F

        keys = spark.createDataFrame(self.sample[["conv_id", "turn_idx"]])
        obs = Observation()
        got = (checksum(self._frame(spark), obs)
               .join(F.broadcast(keys), ["conv_id", "turn_idx"]).collect())
        self.ref = dict(obs.get)
        if self.corrupt:
            self.ref["h"] += 1
        self.ops.record(self.ref["n"] == self.n_turns, f"warm rows {self.ref['n']} != {self.n_turns}")
        by_key = {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True) for r in got}
        ok = len(by_key) == len(self.sample) and all(
            rows_match(by_key[(c, t)], text)
            for c, t, text in zip(self.sample.conv_id, self.sample.turn_idx, self.sample.text))
        self.ops.record(ok, "sampled rows differ from oracle.extract_turn")

    def iteration(self, spark) -> float:
        t = time.perf_counter()
        got = force(self._frame(spark))
        wall = time.perf_counter() - t
        self.ops.record(got["n"] == self.n_turns and got["h"] == self.ref["h"],
                        f"iteration output {dict(got)} != reference {self.ref}")
        return wall

    def traced(self, spark, tracer) -> tuple:
        with tracer.span("pipeline.extract_dataframe") as root:
            self.iteration(spark)
        layers = plan_layers(tracer.plan_totals(root))
        layers.update(kernel_probe(self.input, self.seed, 600 if self.smoke else 3000))
        return tracer.duration(root), layers


class ExtractPooled(Extract):
    """The same call over turns tiled from a pool of about 4k payloads,
    in 32 files: content dedup collapses most of each batch."""

    shape = "pooled"
    n_turns = 150_000
    n_files = 32


class ExtractionJob(Workload):
    """``run_extraction_job`` with default arguments into a fresh output
    and manifest, then the same job again: a resume with nothing to
    do."""

    n_turns = 50_000
    n_sample = 100

    def prepare(self) -> None:
        from pdfextraction_spark.config import DEFAULT_NUM_PARTITIONS

        self.n_partitions = DEFAULT_NUM_PARTITIONS
        n = 2_000 if self.smoke else self.n_turns
        self.n_turns = n
        self.input = inputs.transcripts_dir(self.cache_dir, "pooled", self.seed, n, 32)
        self.sample = sample_frame(self.input, self.seed, 20 if self.smoke else self.n_sample)
        self.resume_walls = []
        self.runs = 0

    def _dirs(self):
        base = os.path.join(self.work_dir, f"job{self.runs}")
        self.runs += 1
        shutil.rmtree(base, ignore_errors=True)
        return os.path.join(base, "out"), os.path.join(base, "manifest")

    def _job(self, spark, out, manifest) -> dict:
        from pdfextraction_spark.pipeline import run_extraction_job

        return run_extraction_job(spark, self.input, out, manifest)

    def _run(self, spark, tracer=None) -> float:
        out, manifest = self._dirs()
        t = time.perf_counter()
        first = self._job(spark, out, manifest)
        wall = time.perf_counter() - t
        if self.corrupt and self.runs == 1:
            first["rows_written"] -= 1
        mf = pq.read_table(manifest, columns=["partition_id", "row_count"]).to_pandas()
        self.ops.record(
            first["rows_written"] == self.n_turns
            and first["partitions_processed"] == self.n_partitions
            and set(mf.partition_id) == set(range(self.n_partitions))
            and int(mf.row_count.sum()) == self.n_turns,
            f"job summary {first} / manifest rows {len(mf)}")
        if tracer is not None:
            tracer.prefix = "resume."
        t = time.perf_counter()
        again = self._job(spark, out, manifest)
        self.resume_walls.append(time.perf_counter() - t)
        self.ops.record(again["partitions_processed"] == 0 and again["rows_written"] == 0,
                        f"resume did work: {again}")
        self.last_out, self.manifest_rows = out, len(mf)
        return wall

    def warm(self, spark) -> None:
        self._run(spark)
        self.resume_walls.clear()

    def iteration(self, spark) -> float:
        return self._run(spark)

    def finish(self, spark) -> None:
        t = ds.dataset(self.last_out, format="parquet", partitioning="hive")
        got = t.to_table(columns=["conv_id", "turn_idx"] + _EXTRACT_FIELDS).to_pandas()
        got = got.set_index(["conv_id", "turn_idx"])
        ok = all(
            (c, ti) in got.index
            and rows_match(got.loc[(c, ti)].to_dict(), text)
            for c, ti, text in zip(self.sample.conv_id, self.sample.turn_idx, self.sample.text))
        self.ops.record(ok and len(got) == self.n_turns, "job output differs from oracle.extract_turn")

    def traced(self, spark, tracer) -> tuple:
        from pyspark.sql.readwriter import DataFrameWriter

        import pdfextraction_spark.pipeline as pipeline

        restores = [
            tracer.wrap(pipeline, "snapshot_id_for_path", "sources.manifest.snapshot"),
            tracer.wrap(pipeline, "reconcile_orphan_commits", "sources.manifest.reconcile"),
            tracer.wrap(pipeline, "committed_partitions", "sources.manifest.committed"),
            tracer.wrap(pipeline, "append_manifest", "sources.manifest.append"),
            tracer.wrap(pipeline, "run_extraction_job", "pipeline.run_extraction_job"),
            tracer.wrap(DataFrameWriter, "parquet", "pipeline.write"),
        ]
        n_spans = len(tracer.spans)
        try:
            self._run(spark, tracer)
        finally:
            tracer.prefix = ""
            for restore in restores:
                restore()
        job = next(s for s in tracer.spans[n_spans:] if s["name"] == "pipeline.run_extraction_job")
        layers = plan_layers(tracer.plan_totals(job))
        out_files = [os.path.join(d, f) for d, _, fs in os.walk(self.last_out)
                     for f in fs if f.endswith(".parquet")]
        job_name = "pipeline.run_extraction_job"
        layers.update({
            "sources.manifest.snapshot_s": tracer.total("sources.manifest.snapshot", job_name),
            "sources.manifest.reconcile_s": tracer.total("sources.manifest.reconcile", job_name),
            "sources.manifest.committed_s": tracer.total("sources.manifest.committed", job_name),
            "sources.manifest.append_s": tracer.total("sources.manifest.append", job_name),
            "sources.manifest.rows": self.manifest_rows,
            "resume.sources.manifest.snapshot_s": tracer.total("resume.sources.manifest.snapshot"),
            "resume.sources.manifest.reconcile_s": tracer.total("resume.sources.manifest.reconcile"),
            "resume.sources.manifest.committed_s": tracer.total("resume.sources.manifest.committed"),
            "pipeline.write_s": tracer.total("pipeline.write", job_name),
            "pipeline.chunks": len(tracer.matching("pipeline.write", job_name)),
            "pipeline.job_self_s": tracer.duration(job) - sum(
                tracer.duration(c) for c in tracer.children(job)),
            "pipeline.output_mb": sum(os.path.getsize(f) for f in out_files) / MB,
            "pipeline.output_files": len(out_files),
        })
        layers.update(kernel_probe(self.input, self.seed, 600 if self.smoke else 3000))
        return tracer.duration(job), layers

    def extra_layers(self) -> dict:
        return {"pipeline.resume_s": statistics.median(self.resume_walls)}


class CorpusQueries(Workload):
    """Registry queries over a seeded ``documents`` table split into
    ``nproc`` files, each forced by a hash over every column; one wall
    is one run of every query."""

    n_docs = 4_000
    # the first run of a query in a session takes 3-5x a later one, so
    # setup runs the suite this many times
    warm_runs = 3

    def prepare(self) -> None:
        import __spark_entry__ as entry

        if self.smoke:
            # fewer documents leave no shingle above the query's
            # document-frequency cut, and an empty result cannot be
            # corrupted
            self.n_docs = 1_000
            self.warm_runs = 1
        self.split, self.single = inputs.corpus_dirs(
            self.cache_dir, self.seed, self.n_docs, self.ncpu)
        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.ref = {}

    def warm(self, spark) -> None:
        from pyspark.sql import Observation

        self.results = {}
        for name in QUERIES:
            obs = Observation()
            self.results[name] = checksum(self.registry[name](spark, self.split), obs).toPandas()
            self.ref[name] = dict(obs.get)
        if self.corrupt:
            first = self.results[QUERIES[0]]
            self.results[QUERIES[0]] = first.iloc[1:]
        for _ in range(self.warm_runs - 1):
            self.iteration(spark)

    def _query(self, spark, name) -> None:
        got = force(self.registry[name](spark, self.split))
        self.ops.record(got == self.ref[name], f"{name}: output {got} != reference {self.ref[name]}")

    def iteration(self, spark) -> float:
        t = time.perf_counter()
        for name in QUERIES:
            self._query(spark, name)
        return time.perf_counter() - t

    def finish(self, spark) -> None:
        import duckdb

        from tools.check_correctness import _normalize

        con = duckdb.connect()
        try:
            p = os.path.join(self.single, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
            for name in QUERIES:
                exp = _normalize(con.execute(self.oracles[name]).df())
                got = _normalize(self.results[name])
                self.ops.record(list(got.columns) == list(exp.columns) and got.equals(exp),
                                f"{name}: differs from its DuckDB oracle")
        finally:
            con.close()

    def traced(self, spark, tracer) -> tuple:
        layers = {}
        with tracer.span("queries") as root:
            for name in QUERIES:
                with tracer.span(f"queries.{name}") as s:
                    self._query(spark, name)
                p = tracer.plan_totals(s)
                layers[f"queries.{name}_s"] = tracer.duration(s)
                layers[f"queries.{name}.shuffle_mb"] = p.get("shuffle_bytes", 0) / MB
                layers[f"queries.{name}.python_s"] = p.get("python_s", 0)
        return tracer.duration(root), layers


WORKLOADS = {
    "extract_unique": Extract,
    "extract_pooled": ExtractPooled,
    "extraction_job": ExtractionJob,
    "corpus_queries": CorpusQueries,
}
