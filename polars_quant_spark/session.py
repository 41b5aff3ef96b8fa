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

The driver JVM starts from a dynamic class-data-sharing (CDS) archive of the
classes an earlier session loaded (JDK 17, JEP 350): it maps them parsed
and verified instead of loading them from Spark's jars.
The archive lives at ``${XDG_CACHE_HOME:-~/.cache}/polars_quant_spark/jvm/
<key>.jsa``; the key hashes the JDK (``JAVA_HOME``'s real path and its
``release`` file), the names, sizes and mtimes of ``$SPARK_HOME/jars``, the
driver memory and the driver Java options, so a new JDK, Spark or flag
gets a new archive. When the file starts with the dynamic-archive magic the
JVM maps it (``-XX:SharedArchiveFile``). Otherwise the JVM writes it when
it exits (``-XX:ArchiveClassesAtExit``, its log silenced: a dumping JVM
warns on stdout about every class it cannot archive). Each archive is
130-175 MB, so a miss removes all but the two newest archives of other
keys: three keys (say the default driver memory and a 48g one, with and
without ``SPARK_GRAFT_XMS``) keep theirs. Only the JVM writes the file.
A dump killed part-way leaves a zero header, which fails the magic check
and is dumped again; a file cut short in place would crash the JVM, so
nothing else writes or truncates it. The archive holds the classes the
session that wrote it loaded. That first session of a key pays once: about
4 s more set-up CPU, and 9-12 s after it ends while the JVM writes the
file (on perfbench ``backtest_history``, ``setup_s`` 15.4 s at the parent,
18.9 s for a dumping session). After that, on ``backtest_history`` (4
cores, 10 interleaved pairs) ``setup_s`` fell from a median 15.70 s to
9.58 s in 10 of 10 pairs and the wall time of ``get_spark`` from 6.4 s to
3.0 s (BASELINE.md, "Class-data sharing (driver JVM)").

JDK 17 writes no archive while a non-empty directory is on the class path:
the dumping JVM prints ``Cannot have non-empty directory in paths`` on
stdout as it exits, and every later session dumps again. Spark's launcher
puts its conf directory there. So when the conf directory
(``SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) is missing or holds only
``*.template`` files, the driver JVM is launched with ``SPARK_CONF_DIR``
set to the empty ``.../jvm/conf``, and ``os.environ`` is restored after.
When it holds any other file (``spark-defaults.conf``, a log4j2
configuration), or the cache directory cannot be written, the driver runs
without an archive. The launcher also adds ``HADOOP_CONF_DIR``,
``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH`` and the driver class path of
``PYSPARK_SUBMIT_ARGS`` (``--driver-class-path``, ``--conf
spark.driver.extraClassPath=...``); a non-empty directory among them, a
``--properties-file`` (its class path is not read here) or a Spark build
tree's class directories (``SPARK_PREPEND_CLASSES``, ``SPARK_TESTING``)
also mean no archive. On a cluster the executor JVMs keep the JVM
defaults.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shlex
import shutil
from contextlib import contextmanager, suppress
from typing import Iterator, Mapping

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


# tier-4 (C2) compile thresholds at 3x the JDK 17 defaults (5000 / 600 /
# 15000 / 40000), so only really hot methods reach C2 (module docstring)
_DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=15000",
    "-XX:Tier4MinInvocationThreshold=1800",
    "-XX:Tier4CompileThreshold=45000",
    "-XX:Tier4BackEdgeThreshold=120000",
)


#: the first bytes of a JDK 17 dynamic CDS archive: its magic 0xf00baba8,
#: little-endian. A dump killed before its header was written leaves zeros
_CDS_MAGIC = bytes.fromhex("a8ab0bf0")

#: archives kept in the cache: one per key in use, 130-175 MB each
_CDS_KEEP = 3


def _launch_class_path(env: Mapping[str, str]) -> list[str] | None:
    """The class-path entries Spark's launcher gives the driver JVM besides
    Spark's jars and conf directory, or None when they are not known here
    (module docstring)."""
    if any(env.get(k) for k in ("SPARK_PREPEND_CLASSES", "SPARK_TESTING", "SPARK_SQL_TESTING")):
        return None
    paths = [env.get(k, "") for k in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")]
    try:
        args = shlex.split(env.get("PYSPARK_SUBMIT_ARGS", ""))
    except ValueError:
        return None
    # spark-submit takes both "--name value" and "--name=value"
    for arg, following in zip(args, [*args[1:], ""]):
        name, _, inline = arg.partition("=") if arg.startswith("--") else (arg, "", "")
        value = inline or following
        if name == "--properties-file":
            return None
        if name == "--driver-class-path":
            paths.append(value)
        elif name in ("--conf", "-c") and value.startswith("spark.driver.extraClassPath="):
            paths.append(value.partition("=")[2])
    return [entry for path in paths for entry in path.split(os.pathsep) if entry]


def _class_data_sharing(
    java_options: str, driver_memory: str, env: Mapping[str, str]
) -> tuple[list[str], str | None]:
    """The class-data-sharing flags for the driver JVM and the conf
    directory to launch it with, or ``([], None)`` to run without an
    archive. ``env`` stands for ``os.environ``; nothing in it is changed.
    Creates the cache directory and, on a key miss, removes the oldest
    archives of other keys (module docstring)."""
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = os.path.join(
        env.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "polars_quant_spark", "jvm"
    )
    empty_conf = os.path.join(cache, "conf")
    java = shutil.which("java", path=env.get("PATH"))
    java_home = env.get("JAVA_HOME") or (java and os.path.dirname(os.path.dirname(os.path.realpath(java))))
    key = hashlib.sha256(f"{driver_memory}\0{java_options}\0".encode())
    class_path = _launch_class_path(env)
    try:
        # JDK 17 dumps no archive while a non-empty directory is on the
        # class path: Spark's conf directory, or one the launcher adds.
        # Spark splits the option string at whitespace.
        if (
            (os.path.isdir(conf_dir) and not all(n.endswith(".template") for n in os.listdir(conf_dir)))
            or class_path is None
            or any(os.path.isdir(p) and os.listdir(p) for p in class_path)
            or not java_home
            or any(c.isspace() for c in cache)
        ):
            return [], None
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(cache, os.W_OK):
            return [], None
        key.update(os.path.realpath(java_home).encode())
        with open(os.path.join(java_home, "release"), "rb") as fh:
            key.update(fh.read())
        for entry in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
            st = entry.stat()
            key.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    except OSError:
        return [], None
    archive = os.path.join(cache, f"{key.hexdigest()[:16]}.jsa")
    try:
        with open(archive, "rb") as fh:
            if fh.read(len(_CDS_MAGIC)) == _CDS_MAGIC:
                return [f"-XX:SharedArchiveFile={archive}"], empty_conf
    except OSError:
        pass
    with suppress(OSError):
        others = sorted(set(glob.glob(os.path.join(cache, "*.jsa"))) - {archive}, key=os.path.getmtime)
        for stale in others[: 1 - _CDS_KEEP]:  # all but the newest _CDS_KEEP - 1
            os.remove(stale)
    # -Xlog:cds=off: a dumping JVM warns on stdout about every class it
    # cannot archive
    return [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off"], empty_conf


@contextmanager
def _environ(name: str, value: str | None) -> Iterator[None]:
    """``os.environ[name] = value`` inside the block (nothing when
    ``value`` is None), the earlier state restored on exit."""
    before = os.environ.get(name)
    if value is not None:
        os.environ[name] = value
    try:
        yield
    finally:
        if before is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = before


def get_spark(app_name: str = "polars_quant_spark", shuffle_partitions: int | None = None) -> SparkSession:
    # SPARK_GRAFT_CPUS pins the local thread count; without it, use the
    # cores this process may run on (not a fixed 32 that oversubscribes
    # small hosts)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
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
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # the console progress bar redraws over stdout lines (harness logs)
        .config("spark.ui.showConsoleProgress", "false")
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
    java_options = " ".join([*_DRIVER_JIT_OPTIONS, *([f"-Xms{xms}"] if xms else [])])
    cds_options, conf_dir = _class_data_sharing(java_options, driver_memory, os.environ)
    # defaultJavaOptions: a --driver-java-options in PYSPARK_SUBMIT_ARGS
    # would replace extraJavaOptions (module docstring)
    builder = builder.config("spark.driver.defaultJavaOptions", " ".join([java_options, *cds_options]))
    # the empty conf directory is for the launch of the driver JVM only
    with _environ("SPARK_CONF_DIR", conf_dir):
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
