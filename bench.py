"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}, plus the load the sweep ran under, as
measured (BASELINE.md, "How to read the load fields").

Each query is forced through a noop sink so the optimizer can't prune the
measured work (count() would drop every computed column).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_quant_spark.backtest.metrics import summary
from polars_quant_spark.backtest.vectorized import vectorized_backtest
from polars_quant_spark.functions import momentum as mo
from polars_quant_spark.functions import overlap as ov
from polars_quant_spark.functions import pattern as pat
from polars_quant_spark.functions import price as pr
from polars_quant_spark.functions import volume as vu
from polars_quant_spark.operators import dedup, similarity, text
from polars_quant_spark.operators.recurrence import Rec, with_recurrences
from polars_quant_spark.queries import QUERIES
from polars_quant_spark.session import get_spark, released
from polars_quant_spark.sources.bars import bars, load_table
from perfbench.run import cpu_steal_ticks, loadavg
from perfbench.trace import Tracer

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def host_fingerprint() -> str:
    """cpu model + the core count Spark runs on, e.g.
    ``intel(r)-xeon(r)-processor/4t``, so runs on different host classes
    are not compared by mistake. The count is ``$SPARK_GRAFT_CPUS`` (the
    ``local[N]`` get_spark starts), else the cores this process may run
    on — not ``os.cpu_count()``, which counts the machine's cores."""
    model = "unknown-cpu"
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.lower().startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"{'-'.join(model.lower().split())}/{cpus}t"


def scale_factor(sf_dir: str) -> float | None:
    """N of the last ``sf<N>`` component of ``sf_dir``, else None."""
    for part in reversed(sf_dir.rstrip("/").split("/")):
        m = re.fullmatch(r"sf(\d+(?:\.\d*)?)", part)
        if m:
            return float(m.group(1))
    return None


_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _relayout_cache(spark, sf_dir: str, splits: int = 16, min_rows: int = 50_000) -> str:
    """Bench-local re-layout of the driver tables (identical data, better
    physical layout): the driver writes each table as ONE parquet row group,
    so however many byte-range splits Spark plans, a single task decodes the
    whole table — q1/q3/q5/events_daily were paying a ~0.5 s single-task
    scan floor. Tables above ``min_rows`` are rewritten as ``splits`` files
    (≈ one row group each) so the scan parallelizes; small tables are
    hard-copied. Built once per SF dir and reused (marker file), excluded
    from timing — the same one-time layout choice any engine makes at data
    load, declared in the output JSON."""
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(), "pqs_bench_cache", os.path.basename(sf_dir.rstrip("/"))
    )
    marker = os.path.join(base, "_BUILT")
    if os.path.exists(marker):
        src_mtime = max(
            os.path.getmtime(os.path.join(sf_dir, t + ".parquet")) for t in _TABLES
        )
        if os.path.getmtime(marker) > src_mtime:
            return base
        # source tables regenerated since the cache was built — rebuild
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    for t in _TABLES:
        src = os.path.join(sf_dir, t + ".parquet")
        dst = os.path.join(base, t + ".parquet")
        # load_table, not a raw read: it sets the UTC/nanosAsLong confs
        # BEFORE the scan, so a TIMESTAMP(NANOS) events file relays
        # correctly regardless of which query ran first (r3 ADVICE — a raw
        # read of NANOS parquet throws unless an earlier load_table on this
        # session happened to have set the legacy flag already).
        df = load_table(spark, sf_dir, t)
        if df.count() >= min_rows:
            df.repartition(splits).write.mode("overwrite").parquet(dst)
        else:
            shutil.copyfile(src, dst)
    with open(marker, "w") as fh:
        fh.write(sf_dir)
    return base


def _force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_indicators_expr(spark, sf_dir):
    """~15 expression-layer indicators in one window pass."""
    from polars_quant_spark.functions._util import cached_build

    b = bars(spark, sf_dir)

    def build():
        # every Column is name-based (F.col) + integer params — a pure
        # prepared-statement tree, re-analyzed by Catalyst per query
        w = Window.partitionBy("symbol").orderBy("t")
        up, mid, lo = ov.bbands("close", 20, 2, 2, w)
        return [
            ov.sma("close", 20, w).alias("sma"),
            ov.wma("close", 10, w).alias("wma"),
            ov.midpoint("close", 14, w).alias("midpoint"),
            ov.midprice("high", "low", 14, w).alias("midprice"),
            up.alias("bb_up"),
            lo.alias("bb_lo"),
            mo.mom("close", 10, w).alias("mom"),
            mo.roc("close", 10, w).alias("roc"),
            mo.willr("high", "low", "close", 14, w).alias("willr"),
            mo.cmo("close", 14, w).alias("cmo"),
            mo.ultosc("high", "low", "close", 7, 14, 28, w).alias("ultosc"),
            mo.mfi("high", "low", "close", "volume", 14, w).alias("mfi"),
            mo.bop("open", "high", "low", "close").alias("bop"),
            pr.typprice("high", "low", "close").alias("typprice"),
            vu.ad("high", "low", "close", "volume", w).alias("ad"),
            vu.obv("close", "volume", w).alias("obv"),
        ]

    return b.select("symbol", "t", *cached_build(("bench_indicators_expr",), build))


def bench_indicators_rec(spark, sf_dir):
    """Recurrence batch — one applyInArrow pass computes 6 indicator families."""
    b = bars(spark, sf_dir)
    out = with_recurrences(
        b,
        [
            Rec("ema_20", "ema", ["close"], {"p": 20}),
            Rec("rsi_14", "rsi", ["close"], {"p": 14}),
            Rec("atr_14", "atr", ["high", "low", "close"], {"p": 14}),
            Rec("kama_10", "kama", ["close"], {"p": 10}),
            Rec("adx_14", "adx", ["high", "low", "close"], {"p": 14}),
            Rec(["macd_dif", "macd_dea", "macd_hist"], "macd", ["close"], {}),
        ],
    )
    return out.select("symbol", "t", "ema_20", "rsi_14", "atr_14", "kama_10", "adx_14", "macd_dif")


def bench_patterns(spark, sf_dir):
    """All 61 candlestick patterns in one projection (pre-lagged columns)."""
    b = bars(spark, sf_dir)
    return pat.with_patterns(b).select("symbol", "t", *sorted(pat.ALL_PATTERNS))


def bench_backtest(spark, sf_dir):
    """Signals → per-symbol fold → metrics, end to end."""
    b = bars(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("t")
    b = with_recurrences(
        b,
        [
            Rec("ema_12", "ema", ["close"], {"p": 12}),
            Rec("ema_26", "ema", ["close"], {"p": 26}),
        ],
    )
    sig = b.withColumn(
        "buy",
        (F.col("ema_12") > F.col("ema_26"))
        & (F.lag("ema_12").over(w) <= F.lag("ema_26").over(w)),
    ).withColumn(
        "sell",
        (F.col("ema_12") < F.col("ema_26"))
        & (F.lag("ema_12").over(w) >= F.lag("ema_26").over(w)),
    )
    return summary(vectorized_backtest(sig))


def bench_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, threshold=0.5)


def bench_ann(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    # a filter, not limit(10): a LIMIT's generated class carries a per-plan
    # counter name, so it recompiles on every rep (vec_id is dense from 0,
    # so these are the same 10 rows limit(10) returned)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk_auto(emb, queries, k=10)


def bench_text(spark, sf_dir):
    from polars_quant_spark.functions._util import cached_build, widen

    docs = widen(load_table(spark, sf_dir, "documents"))

    def build():
        return [
            text.token_count("text").alias("n_tokens"),
            text.detect_language("text").alias("lang_pred"),
            text.quality_score("text").alias("quality"),
            text.fingerprint("text").alias("fp"),
        ]

    return docs.select("doc_id", *cached_build(("bench_text",), build))


def bench_indicators_chunked(spark, sf_dir):
    """The indicators_expr set minus its two cumulative columns (AD/OBV use
    unbounded frames, outside the halo contract), evaluated over (symbol,
    block) halo chunks — the few-keys/long-history scale path
    (operators/chunked.py; oracle ind_chunked_expr proves exactness)."""
    from polars_quant_spark.operators.chunked import with_chunked_windows

    def bb(i):
        return lambda w: ov.bbands("close", 20, 2, 2, w)[i]

    return with_chunked_windows(
        bars(spark, sf_dir),
        {
            "sma": lambda w: ov.sma("close", 20, w),
            "wma": lambda w: ov.wma("close", 10, w),
            "midpoint": lambda w: ov.midpoint("close", 14, w),
            "midprice": lambda w: ov.midprice("high", "low", 14, w),
            "bb_up": bb(0),
            "bb_lo": bb(2),
            "mom": lambda w: mo.mom("close", 10, w),
            "roc": lambda w: mo.roc("close", 10, w),
            "willr": lambda w: mo.willr("high", "low", "close", 14, w),
            "cmo": lambda w: mo.cmo("close", 14, w),
            "ultosc": lambda w: mo.ultosc("high", "low", "close", 7, 14, 28, w),
            "mfi": lambda w: mo.mfi("high", "low", "close", "volume", 14, w),
        },
        lookback=28,
        chunk=4096,
        cache_key="bench_indicators_chunked",
    )


BENCH = {
    "q1": QUERIES["rel_q1_pricing_summary"],
    "q3": QUERIES["rel_q3_shipping_priority"],
    "q5": QUERIES["rel_q5_region_revenue"],
    "events_daily": QUERIES["agg_events_daily"],
    "indicators_expr": bench_indicators_expr,
    "indicators_chunked": bench_indicators_chunked,
    "indicators_rec": bench_indicators_rec,
    "patterns": bench_patterns,
    "backtest": bench_backtest,
    "dedup_minhash": bench_dedup,
    "ann_topk": bench_ann,
    "text_stats": bench_text,
}


def main() -> None:
    load_start = loadavg()
    steal_start = cpu_steal_ticks()
    spark = get_spark("pqs-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # JIT compile time (ms, summed over the compiler threads) the driver
    # JVM spent by session start, and per query around its timed reps,
    # both read outside the timed regions like gc_s
    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    setup_jit_s = round(jit.getTotalCompilationTime() / 1e3, 3)
    # Opt-in scale tier (VERDICT r13 #2): SPARK_GRAFT_BENCH_SCALE=N runs
    # the SAME queries over an N× replica of the driver tables
    # (tools/scale_smoke.build — the standing replica discipline: longer
    # per-symbol histories, content-disjoint documents, shifted keys).
    # The sf0.1 default tier is fixed-cost-floor-bound (the 8-core total
    # beats the 32-core total outright), so core-scaling is measured on
    # this tier, never inferred from the default one. The driver never
    # sets this env; the default path is unchanged.
    bench_scale = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE", "1") or "1")
    if bench_scale > 1:
        from tools import scale_smoke

        scale_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            ".scratch",
            f"scale{bench_scale}x",
        )
        if not os.path.exists(os.path.join(scale_dir, "events.parquet")):
            scale_smoke.build(spark, bench_scale, scale_dir)
        sf_dir = scale_dir
    else:
        sf_dir = _relayout_cache(spark, SF_DIR)
    # Size the shuffle to the data, not the core count: target ~64 MB per
    # shuffle partition with a floor of 8 — the standard sizing rule this
    # repo documents for cluster deployment (at 100 TB the same formula
    # yields thousands of partitions; at sf0.1's ~17 MB it yields the floor,
    # and 32 oversized partitions were pure task-dispatch overhead per
    # exchange). AQE still coalesces/splits at runtime on top of this.
    total_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(sf_dir)
        for f in fs
    )
    n_shuffle = max(8, min(4096, total_bytes // (64 * 1024 * 1024)))
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    # Warm the JVM: parquet reader, codegen'd agg, window exec and the Python
    # worker pool each JIT on first use — standard benchmarking practice so
    # the timings measure the plans, not first-call compilation.
    li = load_table(spark, sf_dir, "lineitem")
    li.count()
    li.groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
    b = bars(spark, sf_dir)
    _force(b.select("symbol", "t", ov.sma("close", 5, Window.partitionBy("symbol").orderBy("t")).alias("s")))
    _force(
        with_recurrences(b, [Rec("e", "ema", ["close"], {"p": 5})]).select("symbol", "e")
    )

    # Three reps per query, best-of: rep0 pays one-time plan compilation
    # (Catalyst analysis of ~180-column trees, janino codegen, JIT) that a
    # long-running engine pays once per app, not per batch; rep1 is the
    # steady-state number a 100 TB deployment actually sees. Methodology is
    # declared in the JSON ("timing").
    timings: dict[str, float] = {}
    split: dict[str, dict[str, float]] = {}
    # classes Spark compiled per rep, read outside the timed region: a
    # query whose later reps are not 0 misses the codegen cache every run
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiles: dict[str, list[int]] = {}
    # per-query load, from the stage store of the query's job group: read
    # right after its timed reps, since the store keeps only ~1,000 stages
    sc = spark.sparkContext
    stages = Tracer(spark, enabled=False)
    load: dict[str, dict[str, float | None]] = {}
    for name, fn in BENCH.items():
        reps: list[float] = []
        best_construct = float("inf")
        df = None
        compiles[name] = []
        group = f"bench/{name}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        jit_ms = jit.getTotalCompilationTime()
        for _ in range(3):
            n_compiled = codegen.getCount()
            t0 = time.time()
            # released(): drop the pins persist-on-return operators
            # (dedup_minhash) leave behind each rep, so rep N doesn't run
            # against rep N-1's leftover storage (VERDICT r11 #7)
            with released(spark):
                df = fn(spark, sf_dir)
                t_built = time.time()
                _force(df)
            reps.append(time.time() - t0)
            best_construct = min(best_construct, t_built - t0)
            compiles[name].append(int(codegen.getCount() - n_compiled))
        jit_ms = jit.getTotalCompilationTime() - jit_ms
        sc.setLocalProperty("spark.jobGroup.id", None)
        timings[name] = round(min(reps), 3)
        stages.drain()
        tot = stages.stage_totals(stages.job_ids(group))
        load[name] = {
            "spread_s": round(max(reps) - min(reps), 3),
            "cpu_ratio": round(tot["cpu_ns"] / 1e6 / tot["run_ms"], 3) if tot["run_ms"] else None,
            "gc_s": round(tot["gc_ms"] / 1e3, 3),
            "jit_s": round(jit_ms / 1e3, 3),
        }
        # Construction/exec split (VERDICT r13 #1/#2): construct_s is the
        # driver-side Column/plan build inside the timed reps above;
        # exec_s re-forces the SAME DataFrame object (plan already
        # analyzed in the Dataset), so it times pure execution from the
        # parquet inputs. Measured OUTSIDE the timed region — the
        # "queries" numbers keep the exact prior methodology — and makes
        # construction shaving and execution work separately trackable
        # round-over-round.
        exec_s = float("inf")
        for _ in range(2):
            t0 = time.time()
            with released(spark):
                _force(df)
            exec_s = min(exec_s, time.time() - t0)
        split[name] = {
            "construct_s": round(best_construct, 3),
            "exec_s": round(exec_s, 3),
        }

    # noop probe: a data-independent Spark job (range-sum), run after the
    # sweep, reported raw — scheduler, codegen and CPU throughput with no
    # I/O and no repo code
    noop = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(2_000_000_000).selectExpr("sum(id) s").collect()
        noop = min(noop, time.time() - t0)
    load_end = loadavg()
    steal_end = cpu_steal_ticks()

    print(
        json.dumps(
            {
                "metric": "pqs_bench_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": scale_factor(SF_DIR),
                "host": host_fingerprint(),
                "noop_s": round(noop, 3),
                # /proc/loadavg (1, 5, 15 min) before the session starts
                # and after the noop probe; the CPU-steal share between them
                "loadavg_start": load_start,
                "loadavg_end": load_end,
                "cpu_steal_share": round(
                    (steal_end[0] - steal_start[0]) / max(1, steal_end[1] - steal_start[1]), 4
                ),
                # per query: max-min of the 3 timed reps, executor CPU over
                # executor run time, and JVM GC, over those reps' stages;
                # the driver JVM's JIT compile time over the 3 reps
                "load": load,
                "setup_jit_s": setup_jit_s,
                "timing": "best of 3 reps per query (steady-state)",
                "layout": (
                    f"{bench_scale}x replica of the driver tables (opt-in scale tier)"
                    if bench_scale > 1
                    else "16-way re-laid parquet cache of the driver tables (same data)"
                ),
                # per-query construction (driver-side plan build, best of
                # the 3 timed reps) vs execution (same-DataFrame re-exec,
                # best of 2) — VERDICT r13 #1/#2
                "split": split,
                # codegen classes compiled in each timed rep, per query
                "compiles": compiles,
                "bench_scale": bench_scale,
            }
        )
    )


if __name__ == "__main__":
    main()
