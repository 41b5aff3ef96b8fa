"""SparkSession helpers.

Local test sessions run on ``local[N]``; the configuration below is chosen so
the same code scales to a real cluster: AQE on (runtime skew-join + partition
coalescing), Arrow on (all pandas-UDF exchange is columnar), and a shuffle
partition count that AQE can shrink.

The codegen class cache holds 1024 entries, not Spark's 100, so a warm job
reuses the classes earlier jobs compiled. The default cache is a Guava LRU
in 4 segments that evict independently (~25 classes each), and one job's
working set is larger: the benchmark's first ``backtest_history`` job
compiles 139 classes and ``screen_corpus`` 197. At the default, each warm
job recompiled 55-62 and 174-193 of them, and the JIT then compiled each
new class again. At 1024, warm jobs compile 0-5 and 0-2 classes; the
residue is AQE plan variants that shift codegen stage ids, so the
generated source differs (BASELINE.md has the per-job counts).

Python workers fork from ``worker_daemon``, not ``pyspark.daemon``. The
daemon stat-gates the zip-archive re-reads behind PySpark's per-task
``importlib.invalidate_caches()``, imports this package (numpy, pandas,
pyarrow) once, and freezes its heap before the first fork. Per task, on a
warm ``backtest_history`` job on 4 cores, ``invalidate_caches`` fell from
190-210 ms to 0.2 ms, the daemon's ``gc.collect()`` after each task from
40-46 ms to 0.25 ms, and the Python workers' CPU from 2.5-2.6 s to
0.26-0.28 s a job over its 10 Python tasks (BASELINE.md, "Where a warm
perfbench job's CPU goes"). A file added with ``addPyFile`` later in the
session is still found: only unchanged archives skip the re-read, and
directory finders are invalidated as before. The daemon starts before any
``addPyFile`` include reaches the worker, so on a cluster the package must
be installed (or on ``PYTHONPATH``) where executors start Python.

The driver JVM starts with the tier-4 (C2) compile thresholds at 3x the
JDK 17 defaults: ``-XX:Tier4InvocationThreshold=15000``,
``-XX:Tier4MinInvocationThreshold=1800``, ``-XX:Tier4CompileThreshold=45000``
and ``-XX:Tier4BackEdgeThreshold=120000``. JIT compilation is the largest
CPU cost of a short session; with the higher bar only really hot methods
reach C2, and planner and launcher code that runs a few thousand times
stays in C1. The JVM's JIT compile time by session start fell from
8.3-9.4 s to 3.9-4.8 s (``bench.py`` ``setup_jit_s``, 5 runs a side)
while no ``bench.py`` query got slower beyond its spread; C1 only
(``TieredStopAtLevel=1``) lost ~70% there, and 5x slowed
``events_daily``. On perfbench ``backtest_history`` (4 cores, 10
interleaved pairs) ``setup_s`` fell from a median 18.2 s to 14.3 s in
10 of 10 pairs, ``first_job_cpu_s`` from 41.8 to 37.6 s and
``job_cpu_s.mean`` from 10.1 to 8.1 s.

The flags go through ``spark.driver.defaultJavaOptions``, not
``extraJavaOptions``: a ``--driver-java-options`` in
``PYSPARK_SUBMIT_ARGS`` replaces the latter but is appended to the
former, and ``SPARK_GRAFT_XMS`` joins the same string. They size a driver
that hosts local executors; on a cluster the executor JVMs keep the JVM
defaults (BASELINE.md, "JIT thresholds", has the sweep and the rejected
candidates).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession


# tier-4 (C2) compile thresholds at 3x the JDK 17 defaults (5000 / 600 /
# 15000 / 40000), so only really hot methods reach C2 (module docstring)
_DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=15000",
    "-XX:Tier4MinInvocationThreshold=1800",
    "-XX:Tier4CompileThreshold=45000",
    "-XX:Tier4BackEdgeThreshold=120000",
)


def get_spark(app_name: str = "polars_quant_spark", shuffle_partitions: int | None = None) -> SparkSession:
    # SPARK_GRAFT_CPUS pins the local thread count; without it, use the
    # cores this process may run on (not a fixed 32 that oversubscribes
    # small hosts)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is size-based and CPU-blind: the ~2 MB symbol
        # shuffle behind every indicator window packs onto ONE task at the
        # default 1 MB floor. 64k keeps small-but-CPU-heavy stages at the
        # hash-partition count (≈symbols); at real scale partitions dwarf
        # either floor and this is a no-op.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # one job's generated classes outgrow the default 100-entry cache,
        # so warm jobs recompiled most of them (measured counts in the
        # module docstring). Static conf: set when the session is built.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # Python workers fork from a daemon that has paid their fixed
        # costs once (module docstring)
        .config("spark.python.daemon.module", "polars_quant_spark.worker_daemon")
    )
    # Pre-size the heap (-Xms) for big-heap smoke runs: a fresh large-Xmx
    # JVM growing its heap under 32 threads of agg allocation pays a
    # one-time GC-storm tax measured at 30x on the first corpus pass
    # (803.7 s vs 26.7 s warm at the 1024x docs scale — docs/SCALE.md
    # "Round 13"). Cluster executors conventionally run Xms=Xmx for the
    # same reason; opt-in locally because pre-faulting 48 GB on a small CI
    # box would be hostile. Usage: SPARK_GRAFT_XMS=48g (normally set equal
    # to SPARK_DRIVER_MEMORY).
    xms = os.environ.get("SPARK_GRAFT_XMS")
    java_options = [*_DRIVER_JIT_OPTIONS, *([f"-Xms{xms}"] if xms else [])]
    # defaultJavaOptions: a --driver-java-options in PYSPARK_SUBMIT_ARGS
    # would replace extraJavaOptions (module docstring)
    builder = builder.config("spark.driver.defaultJavaOptions", " ".join(java_options))
    return builder.getOrCreate()


def is_dir(spark: SparkSession, path: str) -> bool:
    """True when ``path`` is a DIRECTORY on whatever filesystem backs it —
    the Hadoop FileSystem API, not os.path, so a Spark-written table on
    hdfs://, s3a://, etc. is classified correctly (r11 review: an
    os.path.isdir probe runs on the driver's LOCAL fs and silently sent
    remote directory-layout tables down the empty-glob branch — the exact
    silent-empty-source bug streaming's directory branch exists to fix).

    Public home of the former ``streaming.windows._is_dir`` (ADVICE r11:
    queries_pipeline imported the underscore-private symbol across
    modules)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.getFileStatus(hpath).isDirectory())


@contextmanager
def released(spark: SparkSession) -> Iterator[None]:
    """Release every cache pin CREATED inside the block when it exits.

    Several operators persist internal frames that feed the lazy result
    they return (``dedup.minhash_dedup_pairs``/``token_edit_pairs`` pin
    their exploded key frames; ``segmented.*`` pins each continuation
    piece DISK_ONLY) — the pin is load-bearing while the result is being
    computed, but the caller holds no handle to it, so in a long-lived
    session running many corpus passes the blocks accumulate for the
    session lifetime (ADVICE r10). Wrap the construction AND the final
    action in ``released(spark)`` and the pins are dropped on exit::

        with released(spark):
            pairs = token_edit_pairs(docs)
            pairs.write.parquet(out)          # fully consume inside

    Implementation: snapshot the persistent-RDD id set on entry and
    unpersist (non-blocking) every id that is new on exit. Pre-existing
    pins are untouched, so nesting and interleaving with caller-managed
    caches is safe. The one contract: CONSUME the result inside the
    block — localCheckpoint pins truncate lineage, so touching a frame
    after its pins are dropped recomputes from a plan that no longer
    exists. (Coarser alternative: ``spark.catalog.clearCache()``, which
    drops caller pins too.)

    SINGLE-THREADED DRIVER ASSUMPTION (ADVICE r11): the id-set diff is
    session-global, so if other driver threads create pins concurrently
    inside this block's lifetime, exit unpersists THEIR pins too (the
    same holds for the per-round pin release inside
    ``dedup.connected_components``). All repo drivers are
    single-threaded; for multi-threaded use, scope tracking with a job
    group or serialize corpus passes."""
    jsc = spark.sparkContext._jsc
    before = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
    try:
        yield
    finally:
        live = jsc.getPersistentRDDs()
        for rid in [int(i) for i in live.keySet().toArray()]:
            if rid not in before:
                live.get(rid).unpersist(False)
