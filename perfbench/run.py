"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload extraction_job --seed 1 --seconds 15 --trace 0

Workloads: ``extraction_job`` and ``corpus_queries`` (the two listed in
``BENCHMARK.json``), and ``extract_unique`` and ``extract_pooled``, run
by hand (see ``perfbench/LAYERS.md``).

Run from the repository root. Builds a ``local[nproc]`` session with
``build_session`` defaults and sets no engine environment dial. Inputs
are generated from ``--seed`` and cached under ``perfbench/.cache``;
Spark and Python temporary files go to a per-run directory under
``perfbench/.work`` that is removed at exit.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` also runs
one traced iteration and prints the per-layer metrics, writing its
spans to ``perfbench/out/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--smoke`` runs
tiny inputs; ``--corrupt`` perturbs one output the checks read, so a
run must report a failure (used by ``perfbench/test_smoke.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "peak_worker_rss_mb": "MB",
}

PER_LAYER = {
    "kernels.html_rows_per_s": "1/s",
    "kernels.pdf_rows_per_s": "1/s",
    "kernels.plain_rows_per_s": "1/s",
    "kernels.extract.batch_s": "s",
    "kernels.extract.detect_s": "s",
    "kernels.extract.unique_frac": "fraction",
    "operators.extract.sent_mb": "MB",
    "operators.extract.recv_mb": "MB",
    "operators.extract.python_s": "s",
    "operators.extract.boot_s": "s",
    "operators.extract.init_s": "s",
    "operators.extract.rows_out": "count",
    "operators.partitioning.shuffle_mb": "MB",
    "operators.partitioning.shuffle_records": "count",
    "sources.scan_rows": "count",
    "sources.scan_mb": "MB",
    "sources.manifest.snapshot_s": "s",
    "sources.manifest.reconcile_s": "s",
    "sources.manifest.committed_s": "s",
    "sources.manifest.append_s": "s",
    "sources.manifest.rows": "count",
    "resume.sources.manifest.snapshot_s": "s",
    "resume.sources.manifest.reconcile_s": "s",
    "resume.sources.manifest.committed_s": "s",
    "pipeline.write_s": "s",
    "pipeline.chunks": "count",
    "pipeline.job_self_s": "s",
    "pipeline.output_mb": "MB",
    "pipeline.output_files": "count",
    "pipeline.resume_s": "s",
    "trace.overhead_s": "s",
}


def _query_metrics():
    from perfbench.workloads import QUERIES

    out = {}
    for q in QUERIES:
        out[f"queries.{q}_s"] = "s"
        out[f"queries.{q}.shuffle_mb"] = "MB"
        out[f"queries.{q}.python_s"] = "s"
    return out


def _isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside ``work`` and make
    the package importable by the Python workers."""
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={work}"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM and Python workers to exit."""
    from perfbench.trace import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, "perfbench", ".work", str(os.getpid()))
    _isolate(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass


def _run(args, work: str) -> int:
    from pdfextraction_spark.session import build_session
    from perfbench.trace import PlanCollector, RssSampler, Tracer
    from perfbench.workloads import WORKLOADS, Ops

    ops = Ops()
    wl = WORKLOADS[args.workload](ROOT, args.seed, work, args.smoke, args.corrupt, ops)
    t_prep = time.perf_counter()
    wl.prepare()

    ncpu = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = build_session(f"perfbench-{args.workload}", master=f"local[{ncpu}]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t_session = time.perf_counter()
        wl.warm(spark)
        setup_s = time.perf_counter() - t0

        walls = []
        with RssSampler() as rss:
            start = time.perf_counter()
            # iterate while the next one, as long as the last, still
            # ends within --seconds; at least one iteration
            while not walls or time.perf_counter() - start + walls[-1] <= args.seconds:
                walls.append(wl.iteration(spark))
        t_finish = time.perf_counter()
        wl.finish(spark)
        print(f"[perfbench] {args.workload} seed={args.seed} prepare={t0 - t_prep:.2f}s "
              f"session={t_session - t0:.2f}s setup={setup_s:.2f}s "
              f"walls={[round(w, 3) for w in walls]} "
              f"finish={time.perf_counter() - t_finish:.2f}s", file=sys.stderr)

        if args.trace:
            tracer = Tracer()
            tracer.collector = PlanCollector(spark)
            try:
                traced_wall, layers = wl.traced(spark, tracer)
            finally:
                tracer.collector.close()
            for err in tracer.collector.errors:
                print(f"[perfbench] plan metrics not read: {err}", file=sys.stderr)
            layers.update(wl.extra_layers())
            layers["trace.overhead_s"] = traced_wall - statistics.median(walls)
            tracer.dump(os.path.join(ROOT, "perfbench", "out",
                                     f"trace_{args.workload}_s{args.seed}.json"))
            units = dict(PER_LAYER, **_query_metrics())
            values = {k: float(layers.get(k, 0.0)) for k in units}
        else:
            units = END_TO_END
            values = {"setup_s": setup_s, "wall_s": statistics.median(walls),
                      "peak_worker_rss_mb": rss.peak_bytes / 1e6}
    finally:
        _stop(spark)

    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
