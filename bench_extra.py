"""Extra benchmarks for the optimization rounds (bench.py is FROZEN
for the driver's measurement; this file holds the noop-sink /
per-query isolation harness from the optimization guide §1.4-1.5).

Usage:
  python bench_extra.py time [query ...] [--runs N]   per-query walls
  python bench_extra.py explain [query ...] --out DIR --suffix SUF
  python bench_extra.py extract-profile                headline stages
  python bench_extra.py extract-growth [--runs N]      1x vs 10x tier

Timing methodology matches bench.py exactly (same _force full-column
hash aggregate, one untimed warm pass per query, same session config)
so numbers here are comparable to BENCH_r{N}.json entries; the only
addition is --runs medians and plan capture.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (frozen harness: reuse fixtures + methodology)


def _session():
    from pdfextraction_spark.session import build_session

    return build_session(
        "bench-extra", master=f"local[{bench.CPUS}]",
        shuffle_partitions=bench.CPUS,
    )


def _queries():
    import __spark_entry__ as entrymod

    return {**entrymod.queries(), **bench.production_queries()}


def cmd_time(names, runs=3):
    spark = _session()
    qs = _queries()
    bench_sf = bench.ensure_parallel_sf(bench.SF_DIR, n_files=bench.CPUS)
    qs["group_stats"](spark, bench_sf).count()
    out = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"warm:{name}")
        bench._force(fn(spark, bench_sf))
        walls = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"timed:{name}:{i}")
            t0 = time.time()
            bench._force(fn(spark, bench_sf))
            walls.append(round(time.time() - t0, 3))
        out[name] = {
            "walls": walls,
            "median": sorted(walls)[len(walls) // 2],
            "min": min(walls),
        }
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps(out))
    return out


def cmd_explain(names, out_dir, suffix):
    spark = _session()
    qs = _queries()
    bench_sf = bench.ensure_parallel_sf(bench.SF_DIR, n_files=bench.CPUS)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, bench_sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


def _ensure_big_transcripts(total_turns: int, n_convs: int,
                            n_files: int = 32) -> str:
    """10x-tier transcripts fixture: the bench fixture's pool/skew
    profile with 10x the CONVERSATIONS (corpus growth — the way a real
    corpus scales — not 10x-longer conversations, which would change
    the per-group workload shape instead of the input size)."""
    from fixtures.generate import FIXTURE_VERSION, gen_transcripts_fast

    path = os.path.join(
        bench.CACHE,
        f"transcripts_growth_{total_turns}_c{n_convs}_v{FIXTURE_VERSION}",
    )
    if not os.path.exists(path):
        os.makedirs(bench.CACHE, exist_ok=True)
        tmp = path + ".tmp"
        # a crashed earlier run may have left a partial tmp dir
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        df = gen_transcripts_fast(total_turns, n_convs=n_convs)
        step = (len(df) + n_files - 1) // n_files
        for i in range(n_files):
            part = df.iloc[i * step:(i + 1) * step]
            if len(part):
                part.to_parquet(
                    os.path.join(tmp, f"part-{i:05d}.parquet"),
                    index=False,
                )
        os.replace(tmp, path)
    return path


def cmd_extract_growth(runs=3):
    """Growth exponent for the fused extraction kernel path (VERDICT
    r6 item 7): the bench extract job at 1x (~600k turns) and 10x (6M
    turns, 10x conversations), content dedup OFF so every turn runs
    the kernel — the same kernel-bound stance as bench.run_scaling.
    Reuses bench.py's frozen --extract-worker subprocess (its warm
    pass + median-of-runs methodology) per tier, fits
    e = log(w_hi/w_lo) / log(n_hi/n_lo) on the median walls, and
    merges the row into SF_GROWTH.json."""
    import math
    import subprocess

    lo_n = bench.BENCH_TURNS
    hi_n = bench.BENCH_TURNS * 10
    tiers = [
        (lo_n, bench.ensure_bench_fixture()),
        (hi_n, _ensure_big_transcripts(hi_n, n_convs=20_000)),
    ]
    env = dict(os.environ)
    env["PDFX_CONTENT_DEDUP"] = "0"
    env["PDFX_WORKER_RUNS"] = str(runs)
    res = {}
    for n, path in tiers:
        out_path = f"/tmp/pdfx_growth_extract_{n}.json"
        subprocess.run(
            [sys.executable, os.path.abspath(bench.__file__),
             "--extract-worker", f"local[{bench.CPUS}]", path, out_path],
            check=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            env=env,
        )
        with open(out_path) as f:
            res[n] = json.load(f)
        print(json.dumps({str(n): res[n]}), flush=True)
    e = math.log(res[hi_n]["wall"] / res[lo_n]["wall"]) / math.log(
        hi_n / lo_n
    )
    row = {
        "tiers": [lo_n, hi_n],
        "walls": [round(res[lo_n]["wall"], 3), round(res[hi_n]["wall"], 3)],
        "tps": [round(res[lo_n]["tps"], 1), round(res[hi_n]["tps"], 1)],
        "exponent": round(e, 3),
        "content_dedup": False,
        "runs": runs,
    }
    print(json.dumps({"extract_growth": row}))
    sf_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "SF_GROWTH.json")
    sf = {}
    if os.path.exists(sf_path):
        with open(sf_path) as f:
            sf = json.load(f)
    sf.setdefault("extract_family", {})["extract_pipeline"] = row
    with open(sf_path, "w") as f:
        json.dump(sf, f, indent=1)
    return row


def cmd_extract_profile(runs=3):
    """Stage-isolated timing of the headline extraction job: scan only,
    scan plus the exchange the engine plans for it (kernels skipped),
    and the full job — tells
    which part of the 600k-turn pipeline owns the wall."""
    from pyspark.sql import functions as F

    from pdfextraction_spark.operators.extract import extract_turns
    from pdfextraction_spark.operators.partitioning import (
        prepare_for_extraction,
    )

    spark = _session()
    parquet = bench.ensure_bench_fixture()
    turns = spark.read.parquet(parquet)
    n = turns.count()

    def timed(label, mk):
        mk().count() if label != "noop" else None
        walls = []
        for _ in range(runs):
            t0 = time.time()
            mk().count()
            walls.append(time.time() - t0)
        med = sorted(walls)[len(walls) // 2]
        print(json.dumps({label: round(med, 3),
                          "tps": round(n / med, 1)}), flush=True)

    timed("scan_count", lambda: turns)
    timed("scan_full", lambda: turns.select(
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", "role", "text"))))
    timed("prepare_only", lambda: prepare_for_extraction(turns))
    timed("full_extract", lambda: extract_turns(
        prepare_for_extraction(turns)))
    spark.stop()


if __name__ == "__main__":
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        sys.exit(1)
    cmd = args[0]
    rest = args[1:]
    runs = 3
    if "--runs" in rest:
        i = rest.index("--runs")
        runs = int(rest[i + 1])
        rest = rest[:i] + rest[i + 2:]
    if cmd == "time":
        cmd_time(rest or bench.HEADLINE, runs=runs)
    elif cmd == "explain":
        out_dir = "plans/r07"
        suffix = "before"
        if "--out" in rest:
            i = rest.index("--out")
            out_dir = rest[i + 1]
            rest = rest[:i] + rest[i + 2:]
        if "--suffix" in rest:
            i = rest.index("--suffix")
            suffix = rest[i + 1]
            rest = rest[:i] + rest[i + 2:]
        cmd_explain(rest or bench.HEADLINE, out_dir, suffix)
    elif cmd == "extract-profile":
        cmd_extract_profile(runs=runs)
    elif cmd == "extract-growth":
        cmd_extract_growth(runs=runs)
    else:
        raise SystemExit(f"unknown command {cmd}")
