"""The benchmark's kernel probe runs on the package's kernel API.

``perfbench/workloads.py:kernel_probe`` imports ``detect_kinds`` and
``extract_batch_flat`` and calls them on a pandas Series of texts; the
traced benchmark run reports what it returns as the ``kernels.*``
per-layer metrics. A kernel API change that breaks the probe fails
here, in the fast suite (``perfbench/test_smoke.py`` covers it too, but
starts Spark for each run).

Needs no Spark.
"""

import json
import math
import os

from perfbench.workloads import kernel_probe

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    KERNEL_METRICS = {m["name"] for m in json.load(_f)["per_layer"]
                      if m["name"].startswith("kernels.")}


def test_kernel_probe_reports_every_kernel_metric(xs_parquet):
    out = kernel_probe(xs_parquet, seed=7, n_sample=50, repeats=1)
    assert len(KERNEL_METRICS) == 6
    assert set(out) == KERNEL_METRICS
    assert all(math.isfinite(v) and v > 0 for v in out.values()), out
