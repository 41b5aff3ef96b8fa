"""The benchmark workloads: what one job builds, which plan nodes belong
to which layer, and how its output is checked.

A workload is a list of parts, each with its own seeded inputs. A job
builds every part's frames through the program's public functions, each
call wrapped in a span named after the layer it enters, and forces every
output frame through the ``noop`` sink. ``check`` computes the frames of
the run's first job once more, after its timed actions and before its
cache pins are released, and compares a seed-chosen sample of symbols (or
the whole corpus) with the repository's own specs: the numpy kernels in
``operators.recurrence.KERNELS``, the backtest fold
``backtest.vectorized._fold``, and the DuckDB twins in ``ORACLES``.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from perfbench.inputs import LARGE, BarShape, CorpusShape
from perfbench.trace import NodeRule

#: the recurrence families of the repository's ``indicators_rec`` bench
REC_SPECS = [
    ("ema_20", "ema", ["close"], {"p": 20}),
    ("rsi_14", "rsi", ["close"], {"p": 14}),
    ("atr_14", "atr", ["high", "low", "close"], {"p": 14}),
    ("kama_10", "kama", ["close"], {"p": 10}),
    ("adx_14", "adx", ["high", "low", "close"], {"p": 14}),
    (["macd_dif", "macd_dea", "macd_hist"], "macd", ["close"], {}),
]
#: bytes per row the recurrence kernels read: close, high, low (double) + t (int)
REC_USEFUL_ROW_BYTES = 3 * 8 + 4
PASSTHROUGH = 16

#: DuckDB twins covering the screen job's indicator and pattern columns
SCREEN_ORACLES = [
    "ind_sma_20", "ind_bbands_20", "ind_willr_14", "ind_cmo_14", "ind_mfi_14",
    "vol_ad_obv", "cdl_all_patterns",
]
CHUNKED_ORACLES = ["ind_sma_20", "ind_willr_14", "ind_mfi_14"]
FAMILY_KERNELS = {
    "rsi": ("rsi", ["close"], {"p": 14}),
    "atr": ("atr", ["high", "low", "close"], {"p": 14}),
    "plus_dm": ("plus_dm", ["high", "low"], {"p": 14}),
    "minus_dm": ("minus_dm", ["high", "low"], {"p": 14}),
    "plus_di": ("plus_di", ["high", "low", "close"], {"p": 14}),
    "minus_di": ("minus_di", ["high", "low", "close"], {"p": 14}),
    "dx": ("dx", ["high", "low", "close"], {"p": 14}),
    "adx": ("adx", ["high", "low", "close"], {"p": 14}),
    "adxr": ("adxr", ["high", "low", "close"], {"p": 14}),
    "t3": ("t3", ["close"], {"p": 5, "vfactor": 0.7}),
}
FLOAT_TOL = 1e-9
JOINS = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"


@dataclass
class Context:
    """What a job needs: the session, the input directory and manifest,
    the tracer, and the seed-chosen sample of symbols to check."""

    spark: object
    data_dir: str
    manifest: dict
    tracer: object
    sample: list = field(default_factory=list)


@dataclass
class Part:
    """One piece of a job: its input shapes, what it builds (output frames
    to force, and frames kept for the check), its check, and the rules
    that claim its plan nodes for layers."""

    name: str
    bars: BarShape | None
    corpus: CorpusShape | None
    build: Callable[[Context], tuple[dict, dict]]
    check: Callable[[Context, dict], list[str]]
    rules: list[NodeRule]


@dataclass
class Workload:
    name: str
    why: str
    parts: list[Part]

    @property
    def rules(self) -> list[NodeRule]:
        return [r for p in self.parts for r in p.rules]


def round6(x: np.ndarray) -> np.ndarray:
    """The cross-engine rounding both engines apply: floor(x*1e6 + 0.5)/1e6."""
    return np.floor(x * 1e6 + 0.5) / 1e6


# --------------------------------------------------------------------- screen


def _screen_columns(w):
    from polars_quant_spark.functions import momentum as mo
    from polars_quant_spark.functions import overlap as ov
    from polars_quant_spark.functions import volume as vu

    up, mid, lo = ov.bbands("close", 20, 2.0, 2.0, w)
    return [
        ov.sma("close", 20, w).alias("sma_20"),
        up.alias("bb_upper"),
        mid.alias("bb_middle"),
        lo.alias("bb_lower"),
        mo.willr("high", "low", "close", 14, w).alias("willr_14"),
        mo.cmo("close", 14, w).alias("cmo_14"),
        mo.mfi("high", "low", "close", "volume", 14, w).alias("mfi_14"),
        vu.ad("high", "low", "close", "volume", w, exact=True).alias("ad"),
        vu.obv("close", "volume", w, exact=True).alias("obv"),
    ]


def build_screen(ctx: Context):
    from pyspark.sql import Window

    from polars_quant_spark.functions import pattern as pat
    from polars_quant_spark.sources.bars import bars

    with ctx.tracer.span("sources.bars"):
        b = bars(ctx.spark, ctx.data_dir)
    with ctx.tracer.span("functions"):
        cols = _screen_columns(Window.partitionBy("symbol").orderBy("t"))
        ind = b.select("symbol", "t", "open", "high", "low", "close", *cols)
        names = sorted(pat.ALL_PATTERNS)
        out = pat.with_patterns(ind, names).select(
            "symbol", "t", *[c for c in ind.columns if c not in
                             ("symbol", "t", "open", "high", "low", "close")], *names
        )
    return {"screen": out}, {"screen": out}


def check_screen(ctx: Context, frames: dict) -> list[str]:
    got = _collect_sample(frames["screen"], ctx.sample)
    return _check_oracles(ctx, got, SCREEN_ORACLES)


# ------------------------------------------------------------------- backtest


def _widen(b):
    """16 passthrough float columns derived in the JVM from t and OHLCV."""
    from pyspark.sql import functions as F

    src = ["open", "high", "low", "close"]
    extra = [
        (F.col(src[k % 4]) * F.lit(1.0 + k / 1000.0) + F.col("t") * F.lit(k * 1e-4)).alias(f"px{k}")
        for k in range(PASSTHROUGH)
    ]
    return b.select("*", *extra)


def _recs():
    from polars_quant_spark.operators.recurrence import Rec

    return [Rec(out, kernel, cols, params) for out, kernel, cols, params in REC_SPECS]


def build_backtest(ctx: Context):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from polars_quant_spark.backtest.metrics import summary
    from polars_quant_spark.backtest.vectorized import vectorized_backtest
    from polars_quant_spark.operators.recurrence import with_recurrences
    from polars_quant_spark.sources.bars import bars

    with ctx.tracer.span("sources.bars"):
        b = _widen(bars(ctx.spark, ctx.data_dir))
    with ctx.tracer.span("operators.recurrence"):
        rec = with_recurrences(b, _recs())
    w = Window.partitionBy("symbol").orderBy("t")
    dif, dea = F.col("macd_dif"), F.col("macd_dea")
    up = (dif > dea) & (F.lag("macd_dif").over(w) <= F.lag("macd_dea").over(w))
    dn = (dif < dea) & (F.lag("macd_dif").over(w) >= F.lag("macd_dea").over(w))
    sig = rec.withColumn("buy", F.coalesce(up & (F.col("rsi_14") < 70), F.lit(False))).withColumn(
        "sell", F.coalesce(dn, F.lit(False))
    )
    with ctx.tracer.span("backtest.vectorized"):
        curve = vectorized_backtest(sig)
    with ctx.tracer.span("backtest.metrics"):
        summ = summary(curve)
    return {"summary": summ}, {"curve": curve, "summary": summ}


def _kernel_errors(label: str, got: np.ndarray, want: np.ndarray) -> list[str]:
    got = np.asarray(got, dtype="float64")
    want = np.asarray(want, dtype="float64")
    if got.shape != want.shape:
        return [f"{label}: shape {got.shape} != {want.shape}"]
    nan_g, nan_w = np.isnan(got), np.isnan(want)
    bad = (nan_g != nan_w) | (
        ~nan_g & ~nan_w & ~np.isclose(got, want, rtol=FLOAT_TOL, atol=FLOAT_TOL)
    )
    if bad.any():
        i = int(np.argmax(bad))
        return [f"{label}: {int(bad.sum())} rows differ, first at {i}: {got[i]!r} != {want[i]!r}"]
    return []


def _fold_errors(sym: str, g) -> list[str]:
    from polars_quant_spark.backtest.vectorized import BacktestParams, _fold

    px = g["close"].to_numpy(dtype="float64")
    buy = g["buy"].fillna(False).to_numpy(dtype="bool")
    sell = g["sell"].fillna(False).to_numpy(dtype="bool")
    pos, cash, eq, dd, trades, wins = _fold(px, buy, sell, BacktestParams())
    errs = []
    for name, want in (("position", pos), ("cash", cash), ("equity", eq), ("drawdown", dd)):
        errs += _kernel_errors(f"{sym}.{name}", g[name].to_numpy(dtype="float64"), want)
    got = (int(g["n_trades"].iloc[-1]), int(g["n_wins"].iloc[-1]))
    if got != (trades, wins):
        errs.append(f"{sym}: trades/wins {got} != {(trades, wins)}")
    return errs


def _recurrence_errors(sym: str, g, specs) -> list[str]:
    from polars_quant_spark.operators.recurrence import KERNELS

    errs = []
    for out, kernel, cols, params in specs:
        fn, _ = KERNELS[kernel]
        res = fn(*[g[c].to_numpy(dtype="float64") for c in cols], **params)
        res = res if isinstance(res, tuple) else (res,)
        outs = [out] if isinstance(out, str) else out
        for name, want in zip(outs, res):
            errs += _kernel_errors(f"{sym}.{name}", g[name].to_numpy(dtype="float64", na_value=np.nan), want)
    return errs


def check_backtest(ctx: Context, frames: dict) -> list[str]:
    # the summary is built on the curve; cached, the curve is computed once
    # for both reads (the job's own pin release drops the cache)
    frames["curve"].persist()
    curve = _collect_sample(frames["curve"], ctx.sample)
    summ = _collect_sample(frames["summary"], ctx.sample).set_index("symbol")
    errs: list[str] = []
    for sym, g in curve.groupby("symbol"):
        g = g.sort_values("t").reset_index(drop=True)
        errs += _recurrence_errors(sym, g, REC_SPECS)
        errs += _fold_errors(sym, g)
        eq_last = g["equity"].to_numpy(dtype="float64")[-1]
        row = summ.loc[sym]
        if int(row["n_bars"]) != len(g) or int(row["total_trades"]) != int(g["n_trades"].iloc[-1]):
            errs.append(f"{sym}: summary counts differ")
        errs += _kernel_errors(f"{sym}.total_return", np.array([row["total_return"]]),
                               round6(np.array([eq_last / 100_000.0 - 1.0])))
    if set(summ.index) != set(ctx.sample):
        errs.append(f"summary symbols {sorted(summ.index)} != sample {sorted(ctx.sample)}")
    return errs


# --------------------------------------------------------------- long_history

CHUNK = 512
LOOKBACK = 28


def _chunked_builders():
    from polars_quant_spark.functions import momentum as mo
    from polars_quant_spark.functions import overlap as ov

    return {
        "sma_20": lambda w: ov.sma("close", 20, w),
        "willr_14": lambda w: mo.willr("high", "low", "close", 14, w),
        "mfi_14": lambda w: mo.mfi("high", "low", "close", "volume", 14, w),
    }


#: segments per symbol: more than one, so every pass after the first
#: carries state in from the previous segment
SEGMENTS = 2


def segment_rows(ctx: Context) -> int:
    return -(-ctx.manifest["bars"]["bars"] // SEGMENTS)


def build_long_history(ctx: Context):
    from polars_quant_spark.operators.chunked import with_chunked_windows
    from polars_quant_spark.operators.segmented import indicator_family_segmented
    from polars_quant_spark.sources.bars import bars

    with ctx.tracer.span("sources.bars"):
        b = bars(ctx.spark, ctx.data_dir)
    with ctx.tracer.span("operators.segmented", group=True):
        fam = indicator_family_segmented(b, segment_rows=segment_rows(ctx))
    with ctx.tracer.span("operators.chunked"):
        ch = with_chunked_windows(b, _chunked_builders(), lookback=LOOKBACK, chunk=CHUNK)
    frames = {"segmented": fam, "chunked": ch}
    return frames, frames


def check_long_history(ctx: Context, frames: dict) -> list[str]:
    from polars_quant_spark.operators.recurrence import KERNELS

    seg = _collect_sample(frames["segmented"], ctx.sample)
    errs: list[str] = []
    for sym, g in seg.groupby("symbol"):
        g = g.sort_values("t").reset_index(drop=True)
        for out, (kernel, cols, params) in FAMILY_KERNELS.items():
            fn, _ = KERNELS[kernel]
            want = fn(*[g[c].to_numpy(dtype="float64") for c in cols], **params)
            errs += _kernel_errors(f"{sym}.{out}", g[out].to_numpy(dtype="float64", na_value=np.nan), want)
    chunked = _collect_sample(frames["chunked"], ctx.sample)
    return errs + _check_oracles(ctx, chunked, CHUNKED_ORACLES)


# --------------------------------------------------------------------- corpus


def build_corpus(ctx: Context):
    """The repository's own corpus queries, the top-k one run twice: on
    the small embeddings and on the large ones in their own directory."""
    from polars_quant_spark.queries import QUERIES

    with ctx.tracer.span("operators.dedup", group=True):
        dd = QUERIES["doc_dedup_components"](ctx.spark, ctx.data_dir)
    with ctx.tracer.span("operators.text"):
        tx = QUERIES["doc_text_stats"](ctx.spark, ctx.data_dir)
    with ctx.tracer.span("similarity.topk_small", group=True):
        small = QUERIES["emb_cosine_topk"](ctx.spark, ctx.data_dir)
    with ctx.tracer.span("similarity.topk_large", group=True):
        large = QUERIES["emb_cosine_topk"](ctx.spark, os.path.join(ctx.data_dir, LARGE))
    frames = {"dedup": dd, "text": tx, "topk_small": small, "topk_large": large}
    return frames, frames


def check_corpus(ctx: Context, frames: dict) -> list[str]:
    from polars_quant_spark.queries import ORACLES

    con = _duck(ctx, {"documents": "documents", "embeddings": "embeddings"})
    errs = _compare_rows(frames["dedup"].toPandas(), con.sql(ORACLES["doc_dedup_components"]).df(), "dedup")
    errs += _compare_rows(frames["text"].toPandas(), con.sql(ORACLES["doc_text_stats"]).df(), "text")
    errs += _compare_rows(frames["topk_small"].toPandas(), con.sql(ORACLES["emb_cosine_topk"]).df(), "topk_small")
    con = _duck(ctx, {"embeddings": f"{LARGE}/embeddings"})
    errs += _compare_rows(frames["topk_large"].toPandas(), con.sql(ORACLES["emb_cosine_topk"]).df(), "topk_large")
    return errs


# -------------------------------------------------------------------- helpers


def _collect_sample(df, sample: list):
    from pyspark.sql import functions as F

    return df.where(F.col("symbol").isin(sample)).toPandas()


def _duck(ctx: Context, views: dict[str, str], symbols: list | None = None):
    import duckdb

    con = duckdb.connect()
    for view, table in views.items():
        src = f"read_parquet('{ctx.data_dir}/{table}.parquet/*.parquet')"
        where = ""
        if symbols is not None:
            where = " WHERE event_type IN (" + ", ".join(f"'{s}'" for s in symbols) + ")"
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM {src}{where}")
    return con


def _check_oracles(ctx: Context, got, names: list[str]) -> list[str]:
    """Compare the job's columns with the DuckDB twins of ``names``, run on
    the same events files restricted to the sampled symbols. Float
    indicators are rounded the way both engines round before comparing."""
    from polars_quant_spark.queries import ORACLES

    con = _duck(ctx, {"events": "events"}, ctx.sample)
    got = got.set_index(["symbol", "t"]).sort_index()
    errs: list[str] = []
    covered = 0
    for name in names:
        want = con.sql(ORACLES[name]).df().set_index(["symbol", "t"]).sort_index()
        cols = [c for c in want.columns if c in got.columns]
        covered += len(cols)
        if len(want) != len(got) or not want.index.equals(got.index):
            errs.append(f"{name}: rows {len(got)} != oracle {len(want)}")
            continue
        for c in cols:
            g = got[c].to_numpy(dtype="float64", na_value=np.nan)
            w = want[c].to_numpy(dtype="float64", na_value=np.nan)
            if want[c].dtype.kind == "f":
                g = round6(g)
            nan_g, nan_w = np.isnan(g), np.isnan(w)
            bad = (nan_g != nan_w) | (~nan_g & ~nan_w & (np.abs(g - w) > 1.0000001e-6))
            if bad.any():
                errs.append(f"{name}.{c}: {int(bad.sum())}/{len(g)} rows differ")
    if covered == 0:
        errs.append(f"no job column is covered by oracles {names}")
    return errs


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(v) + 0.0
    return v


def _compare_rows(got, want, label: str) -> list[str]:
    """Order-insensitive row comparison over the oracle's columns."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return [f"{label}: columns {sorted(got.columns)} != oracle {cols}"]
    if len(got) != len(want):
        return [f"{label}: rows {len(got)} != oracle {len(want)}"]
    if len(got) == 0:
        return [f"{label}: empty output"]
    a = sorted((tuple(_norm(v) for v in r) for r in got[cols].itertuples(index=False)), key=repr)
    b = sorted((tuple(_norm(v) for v in r) for r in want[cols].itertuples(index=False)), key=repr)
    bad = sum(x != y for x, y in zip(a, b))
    return [f"{label}: {bad}/{len(a)} rows differ"] if bad else []


# ---------------------------------------------------------------- definitions

SCREEN = Part("screen", BarShape(symbols=64, bars=256), None, build_screen, check_screen, rules=[])
BACKTEST = Part(
    "backtest", BarShape(symbols=32, bars=256), None, build_backtest, check_backtest,
    rules=[
        NodeRule("backtest.vectorized", "FlatMapGroupsInArrow", "n_trades#"),
        NodeRule("operators.recurrence", "FlatMapGroupsInArrow", "macd_dif#"),
    ],
)
LONG_HISTORY = Part(
    "long_history", BarShape(symbols=4, bars=1024), None, build_long_history, check_long_history,
    rules=[
        NodeRule("operators.segmented", "FlatMapGroupsInArrow", "_rn#"),
        NodeRule("segmented.join_back", JOINS, "_rn#"),
        NodeRule("operators.chunked", "Exchange", "_ck#"),
    ],
)
CORPUS = Part(
    "corpus", None, CorpusShape(base_docs=250, replicas=2, small_vectors=1000, large_vectors=30_000, dim=64),
    build_corpus, check_corpus,
    rules=[
        NodeRule("operators.similarity", "MapInArrow"),
        NodeRule("similarity.expression", "BroadcastNestedLoopJoin"),
        NodeRule("dedup.candidates", "HashAggregate", "keys=[id_a#"),
        NodeRule("dedup.verified", JOINS, "array_intersect"),
    ],
)

WORKLOADS = {
    "screen_corpus": Workload(
        "screen_corpus",
        "no grouped Python kernel: 9 window indicators and 61 patterns on 64 short symbols, "
        "then MinHash dedup rounds, text columns and top-k on both sides of the dispatch threshold",
        [SCREEN, CORPUS],
    ),
    "backtest_history": Workload(
        "backtest_history",
        "every grouped Arrow kernel: thin recurrence and fold groups with 16 unused passthrough "
        "columns on 32 short symbols, segmented passes and halo chunks on 4 long ones",
        [BACKTEST, LONG_HISTORY],
    ),
}
