"""Measurement helpers for the benchmark: spans, Spark plan metrics and
Python-worker memory.

- ``Tracer`` keeps spans in memory (name, start, end, parent) and
  writes them as JSON when the run ends. Spans are recorded around the
  benchmark's own calls into the package; nothing inside the package
  is instrumented.
- ``PlanCollector`` is a Spark ``QueryExecutionListener`` (via py4j)
  that walks the executed plan of every action, descending into
  ``AdaptiveSparkPlan.executedPlan()`` and ``*QueryStage.plan()``, and
  rolls node metrics up by layer. Each rollup is attached to the
  innermost span open when the action finished.
- ``RssSampler`` samples ``/proc`` on one thread and keeps the peak
  resident set of the PySpark worker processes under this process.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1e6  # metrics named *_mb are in 10^6 bytes


class Tracer:
    """In-memory spans. ``span()`` nests; ``total()`` sums durations
    by name."""

    def __init__(self):
        self.spans = []
        self._stack = []
        self.collector = None
        self.prefix = ""  # prepended to the names of wrapped calls

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None, "plan": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            if self.collector is not None:
                rec["plan"] = self.collector.drain()
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` with a version that records a span;
        returns a function that restores the original."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(self.prefix + name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)

    def duration(self, rec) -> float:
        return rec["end"] - rec["start"]

    def children(self, rec):
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def matching(self, name: str, parent_name: str | None = None) -> list:
        """Spans called ``name``, optionally only those whose parent is
        called ``parent_name``."""
        by_id = {s["id"]: s for s in self.spans}
        return [
            s for s in self.spans
            if s["name"] == name and (
                parent_name is None
                or (s["parent"] is not None and by_id[s["parent"]]["name"] == parent_name))
        ]

    def total(self, name: str, parent_name: str | None = None) -> float:
        return sum(self.duration(s) for s in self.matching(name, parent_name))

    def plan_totals(self, root) -> dict:
        """Plan rollups of ``root`` and every span below it, summed."""
        ids = {root["id"]}
        out = defaultdict(float)
        for s in self.spans:  # spans are stored in start order
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                for k, v in (s["plan"] or {}).items():
                    out[k] += v
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


# --------------------------------------------------------------------------
# plan metrics

_PYTHON_TIME = "pythonTotalTime"  # summed over tasks
# SQLMetric types whose values are times, and their scale to seconds
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _node_metrics(plan) -> dict:
    """A node's SQL metrics by name; times are in seconds."""
    out = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        out[kv._1()] = metric.value() * _TIME_SCALE.get(metric.metricType(), 1)
    return out


def plan_nodes(plan, under_extract: bool = False):
    """Yield ``(class_name, metrics, under_extract)`` for each physical
    node of an executed plan; ``under_extract`` marks nodes that feed a
    ``MapInArrow`` (the extraction stage's input side)."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from plan_nodes(plan.executedPlan(), under_extract)
        return
    if cls.endswith("QueryStageExec"):
        yield from plan_nodes(plan.plan(), under_extract)
        return
    if cls == "ReusedExchangeExec":  # metrics live on the original
        return
    yield cls, _node_metrics(plan), under_extract
    below = under_extract or cls == "MapInArrowExec"
    children = plan.children()
    for i in range(children.size()):
        yield from plan_nodes(children.apply(i), below)


def rollup(plan) -> dict:
    """Layer rollup of one executed plan (bytes, rows, seconds)."""
    r = defaultdict(float)
    for cls, m, under in plan_nodes(plan):
        if _PYTHON_TIME in m:
            r["python_s"] += m[_PYTHON_TIME]
        if cls == "ShuffleExchangeExec":
            r["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            r["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
            if under:
                r["extract_in_shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
                r["extract_in_shuffle_records"] += m.get("shuffleRecordsWritten", 0)
        elif cls == "MapInArrowExec":
            r["extract_sent_bytes"] += m.get("pythonDataSent", 0)
            r["extract_recv_bytes"] += m.get("pythonDataReceived", 0)
            r["extract_python_s"] += m.get(_PYTHON_TIME, 0)
            r["extract_boot_s"] += m.get("pythonBootTime", 0)
            r["extract_init_s"] += m.get("pythonInitTime", 0)
            r["extract_rows_out"] += m.get("pythonNumRowsReceived", 0)
        elif cls == "FileSourceScanExec" and under:
            r["extract_scan_rows"] += m.get("numOutputRows", 0)
            r["extract_scan_bytes"] += m.get("filesSize", 0)
    r["actions"] += 1
    return dict(r)


class PlanCollector:
    """Registers itself as a ``QueryExecutionListener`` and rolls up the
    executed plan of every successful action until ``close()``."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._lock = threading.Lock()
        self._pending = []
        self.errors = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    # py4j callback interface
    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        try:
            r = rollup(qe.executedPlan())
        except Exception as e:  # a listener must never fail the action
            self.errors.append(repr(e))
            return
        with self._lock:
            self._pending.append(r)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    def drain(self) -> dict:
        """Wait for queued listener events, then return and clear the
        summed rollup of actions finished since the last drain."""
        self._bus.waitUntilEmpty()
        with self._lock:
            pending, self._pending = self._pending, []
        out = defaultdict(float)
        for r in pending:
            for k, v in r.items():
                out[k] += v
        return dict(out)

    def close(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# --------------------------------------------------------------------------
# worker memory

def _proc_table():
    """pid -> (ppid, rss_bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), int(fields[21]) * page)
    return out


def descendants(table=None) -> list:
    """Pids of every process below this one."""
    table = table if table is not None else _proc_table()
    me = os.getpid()
    out = []
    for pid, (ppid, _) in table.items():
        p, depth = ppid, 0
        while p in table and p != me and depth < 16:
            p, depth = table[p][0], depth + 1
        if p == me and pid != me:
            out.append(pid)
    return out


def _is_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class RssSampler:
    """Peak RSS of the PySpark Python workers (forked children of the
    ``pyspark.daemon`` process) below this process, sampled from
    ``/proc`` on one background thread."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._workers = {}  # pid -> whether it is a worker

    def _sample(self) -> None:
        table = _proc_table()
        for pid in descendants(table):
            ppid, rss = table[pid]
            if pid not in self._workers:
                # a worker is a daemon process whose parent is the daemon
                self._workers[pid] = _is_worker(pid) and _is_worker(ppid)
            if self._workers[pid]:
                self.peak_bytes = max(self.peak_bytes, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
