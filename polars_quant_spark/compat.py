"""polars-quant compatible API surface — the reference's exported names
(/root/reference/python/polars_quant/__init__.py:84-203) re-exposed over this
engine, with the one structural translation Spark requires: row order is not
implicit, so

* Column-expression indicators take the input Column(s) plus an explicit
  window ``w = Window.partitionBy(symbol).orderBy(time)`` and return a
  ``pyspark.sql.Column`` (use inside select/withColumn);
* recurrence indicators (EMA family, Wilder smoothing, SAR, Hilbert, …)
  operate on a DataFrame — ``EMA(df, "close", timeperiod=20)`` returns the
  frame with the output column appended (internally one applyInArrow pass);
* both backtester classes keep their constructor shapes.

>>> import polars_quant_spark.compat as pq
>>> df = df.withColumn("sma", pq.SMA(F.col("close"), timeperiod=20, w=w))
>>> df = pq.RSI(df, "close", timeperiod=14)          # adds column "rsi"
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

import polars_quant_spark.operators.hilbert  # noqa: F401  (registers kernels)
from polars_quant_spark.backtest.margin import Backtest  # noqa: F401  (v0.x README surface)
from polars_quant_spark.backtest.metrics import summary
from polars_quant_spark.backtest.sequential import SequentialBacktester  # noqa: F401
from polars_quant_spark.backtest.vectorized import BacktestParams, vectorized_backtest
from polars_quant_spark.operators.selector import Selector  # noqa: F401  (README.md:643-858)
from polars_quant_spark.functions import momentum as _mo
from polars_quant_spark.functions import overlap as _ov
from polars_quant_spark.functions import pattern as _pat
from polars_quant_spark.functions import price as _pr
from polars_quant_spark.functions import volatility as _vy
from polars_quant_spark.functions import volume as _vu
from polars_quant_spark.operators.recurrence import Rec, with_recurrences

# --- price transforms ------------------------------------------------------

AVGPRICE = _pr.avgprice
MEDPRICE = _pr.medprice
TYPPRICE = _pr.typprice
WCLPRICE = _pr.wclprice

# --- Column-expression indicators (explicit window) ------------------------


def SMA(x, timeperiod: int = 30, w=None) -> Column:
    return _ov.sma(x, timeperiod, w)


def WMA(x, timeperiod: int = 30, w=None) -> Column:
    return _ov.wma(x, timeperiod, w)


def TRIMA(x, timeperiod: int = 30, w=None) -> Column:
    return _ov.trima(x, timeperiod, w)


def BBANDS(x, timeperiod: int = 20, nbdevup: float = 2.0, nbdevdn: float = 2.0, w=None):
    return _ov.bbands(x, timeperiod, nbdevup, nbdevdn, w)


def MIDPOINT(x, timeperiod: int = 14, w=None) -> Column:
    return _ov.midpoint(x, timeperiod, w)


def MIDPRICE(high, low, timeperiod: int = 14, w=None) -> Column:
    return _ov.midprice(high, low, timeperiod, w)


def MOM(x, timeperiod: int = 10, w=None) -> Column:
    return _mo.mom(x, timeperiod, w)


def ROC(x, timeperiod: int = 10, w=None) -> Column:
    return _mo.roc(x, timeperiod, w)


def ROCP(x, timeperiod: int = 10, w=None) -> Column:
    return _mo.rocp(x, timeperiod, w)


def ROCR(x, timeperiod: int = 10, w=None) -> Column:
    return _mo.rocr(x, timeperiod, w)


def ROCR100(x, timeperiod: int = 10, w=None) -> Column:
    return _mo.rocr100(x, timeperiod, w)


def BOP(open, high, low, close, w=None) -> Column:
    return _mo.bop(open, high, low, close)


def WILLR(high, low, close, timeperiod: int = 14, w=None) -> Column:
    return _mo.willr(high, low, close, timeperiod, w)


def CMO(x, timeperiod: int = 14, w=None) -> Column:
    return _mo.cmo(x, timeperiod, w)


def ULTOSC(high, low, close, timeperiod1=7, timeperiod2=14, timeperiod3=28, w=None) -> Column:
    return _mo.ultosc(high, low, close, timeperiod1, timeperiod2, timeperiod3, w)


def MFI(high, low, close, volume, timeperiod: int = 14, w=None) -> Column:
    return _mo.mfi(high, low, close, volume, timeperiod, w)


def CCI(high, low, close, timeperiod: int = 14, w=None) -> Column:
    return _mo.cci(high, low, close, timeperiod, w)


def AROON(high, low, timeperiod: int = 14, w=None, t="t"):
    return _mo.aroon(high, low, timeperiod, w, t)


def AROONOSC(high, low, timeperiod: int = 14, w=None, t="t") -> Column:
    return _mo.aroonosc(high, low, timeperiod, w, t)


def APO(x, fastperiod: int = 12, slowperiod: int = 26, matype: int = 0, w=None) -> Column:
    return _mo.apo(x, fastperiod, slowperiod, w)


def PPO(x, fastperiod: int = 12, slowperiod: int = 26, matype: int = 0, w=None) -> Column:
    return _mo.ppo(x, fastperiod, slowperiod, w)


def TRANGE(high, low, close, w=None) -> Column:
    return _vy.trange(high, low, close, w)


def AD(high, low, close, volume, w=None) -> Column:
    return _vu.ad(high, low, close, volume, w)


def OBV(close, volume, w=None) -> Column:
    return _vu.obv(close, volume, w)


STOCH = _mo.stoch
STOCHF = _mo.stochf
MA = _ov.ma

# --- recurrence indicators (DataFrame-level) -------------------------------


_HL = ("high", "low")
_HLC = (*_HL, "close")


def _rec1(
    kernel: str,
    default_out: str | None,
    outs: list[str] | None = None,
    inputs: tuple[str, ...] | None = ("close",),
):
    """A TA-Lib-style wrapper over one recurrence kernel. ``inputs`` are the
    default input columns, TA-Lib's own (``high, low, close`` for ATR);
    None when the kernel has no conventional input name, so the caller
    must name them."""

    def fn(
        df: DataFrame,
        *cols: str,
        timeperiod: int | None = None,
        partition_by: str = "symbol",
        order_by: str = "t",
        out: str | None = None,
        **params,
    ) -> DataFrame:
        if timeperiod is not None:
            params["p"] = timeperiod
        if not cols and inputs is None:
            raise ValueError(
                f"{kernel.upper()} has no default input columns; name them, "
                f"e.g. {kernel.upper()}(df, 'close', 'periods')"
            )
        cols = list(cols or inputs)
        target = outs if outs is not None else (out or default_out)
        return with_recurrences(
            df, [Rec(target, kernel, cols, params)], partition_by, order_by
        )

    fn.__name__ = kernel.upper()
    return fn


EMA = _rec1("ema", "ema")
DEMA = _rec1("dema", "dema")
TEMA = _rec1("tema", "tema")
KAMA = _rec1("kama", "kama")
RSI = _rec1("rsi", "rsi")
TRIX = _rec1("trix", "trix")
ADX = _rec1("adx", "adx", inputs=_HLC)
ADXR = _rec1("adxr", "adxr", inputs=_HLC)
DX = _rec1("dx", "dx", inputs=_HLC)
PLUS_DI = _rec1("plus_di", "plus_di", inputs=_HLC)
MINUS_DI = _rec1("minus_di", "minus_di", inputs=_HLC)
PLUS_DM = _rec1("plus_dm", "plus_dm", inputs=_HL)
MINUS_DM = _rec1("minus_dm", "minus_dm", inputs=_HL)
SAR = _rec1("sar", "sar", inputs=_HL)
SAREXT = _rec1("sarext", "sarext", inputs=_HL)
HT_DCPERIOD = _rec1("ht_dcperiod", "ht_dcperiod")
HT_DCPHASE = _rec1("ht_dcphase", "ht_dcphase")
HT_TRENDLINE = _rec1("ht_trendline", "ht_trendline")
HT_TRENDMODE = _rec1("ht_trendmode", "ht_trendmode")
HT_PHASOR = _rec1("ht_phasor", None, outs=["ht_inphase", "ht_quadrature"])
HT_SINE = _rec1("ht_sine", None, outs=["ht_sine", "ht_leadsine"])
MAMA = _rec1("mama", None, outs=["mama", "fama"])
MACD = _rec1("macd", None, outs=["macd", "macdsignal", "macdhist"])
MACDEXT = _rec1("macdext", None, outs=["macd", "macdsignal", "macdhist"])
MACDFIX = _rec1("macdfix", None, outs=["macd", "macdsignal", "macdhist"])
ADOSC = _rec1("adosc", "adosc", inputs=(*_HLC, "volume"))
ATR = _rec1("atr", "atr", inputs=_HLC)
NATR = _rec1("natr", "natr", inputs=_HLC)
MAVP = _rec1("mavp", "mavp", inputs=None)


def T3(df, *cols, timeperiod: int = 5, vfactor: float = 0.7, **kw) -> DataFrame:
    return _rec1("t3", "t3")(df, *cols, timeperiod=timeperiod, vfactor=vfactor, **kw)


def STOCHRSI(df, x="close", timeperiod=14, fastk_period=5, fastd_period=3,
             partition_by="symbol", order_by="t") -> DataFrame:
    from polars_quant_spark.functions.overlap import sma

    df = RSI(df, x, timeperiod=timeperiod, partition_by=partition_by, order_by=order_by)
    w = Window.partitionBy(partition_by).orderBy(order_by)
    frame = w.rowsBetween(-(fastk_period - 1), 0)
    hh, ll = F.max("rsi").over(frame), F.min("rsi").over(frame)
    fastk = F.when(
        F.count("rsi").over(frame) == fastk_period,
        F.when(hh == ll, F.lit(0.0)).otherwise(100.0 * (F.col("rsi") - ll) / (hh - ll)),
    )
    df = df.withColumn("stochrsi_fastk", fastk)
    return df.withColumn("stochrsi_fastd", sma("stochrsi_fastk", fastd_period, w))


# --- candlestick patterns (uppercase) --------------------------------------

for _name, _fn in _pat.ALL_PATTERNS.items():
    globals()[_name.upper()] = _fn

with_patterns = _pat.with_patterns


# --- backtesters -----------------------------------------------------------


class VectorizedBacktester:
    """Constructor-compatible wrapper (vectorized.rs:37-66 / .pyi:20-49) over
    the distributed fold: frame-in, (curve, summary) out; all symbols run in
    one Spark job."""

    def __init__(
        self,
        data: DataFrame,
        price: str = "close",
        buy_signal: str = "buy",
        sell_signal: str = "sell",
        benchmark: str | None = None,
        initial_capital: float = 100_000.0,
        buy_slippage: float = 0.0,
        sell_slippage: float = 0.0,
        buy_commission_rate: float = 3e-4,
        sell_commission_rate: float = 3e-4,
        min_commission: float = 5.0,
        position_size: float = 1.0,
        partition_by: str = "symbol",
        order_by: str = "t",
    ) -> None:
        self.data = data
        self.price, self.buy, self.sell = price, buy_signal, sell_signal
        self.benchmark = benchmark
        self.partition_by, self.order_by = partition_by, order_by
        self.params = BacktestParams(
            initial_capital,
            buy_slippage,
            sell_slippage,
            buy_commission_rate,
            sell_commission_rate,
            min_commission,
            position_size,
        )

    def run(self) -> tuple[DataFrame, DataFrame]:
        """Returns (equity curve frame, per-symbol metrics frame) — the Spark
        shape of the reference's (positions, capital, metrics) triple."""
        curve = vectorized_backtest(
            self.data, self.price, self.buy, self.sell, self.params,
            self.partition_by, self.order_by,
        )
        metrics = summary(
            curve,
            self.params.initial_capital,
            benchmark=self.benchmark,
            partition_by=self.partition_by,
            order_by=self.order_by,
        )
        return curve, metrics


# ---------------------------------------------------------------------------
# v0.x README function surface (reference README.md:60-440): returns, load,
# linear, clean, Strategy — the documented-but-unexported roadmap API, under
# the reference's names and signatures. The one structural change is Spark's
# explicit axes: `returns` takes partition/order columns (the reference
# treats row order as time), and the loaders take the SparkSession first.
# ---------------------------------------------------------------------------

from polars_quant_spark.functions import returns as _ret
from polars_quant_spark.operators import clean as _cl
from polars_quant_spark.operators import linear as _lin
from polars_quant_spark.operators.strategy import STRATEGIES  # noqa: F401
from polars_quant_spark.sources.loader import (  # noqa: F401
    load,
    prepare_sequential_data,
)


def returns(
    df: DataFrame,
    price_col: str = "close",
    period: int = 1,
    method: str = "simple",
    return_col: str = "return",
    partition_by: str | None = None,
    order_by: str = "date",
) -> DataFrame:
    """README.md:31-85 `returns`. method: 'simple' | 'log'. Single-asset
    frames order globally by `order_by` (matches the reference's implicit
    row order); pass `partition_by` for multi-asset frames — the form that
    scales."""
    w = (
        Window.partitionBy(partition_by).orderBy(order_by)
        if partition_by
        else Window.orderBy(order_by)
    )
    if method == "simple":
        c = _ret.returns(price_col, period, w)
    elif method == "log":
        c = _ret.log_returns(price_col, period, w)
    else:
        raise ValueError(f"unknown returns method {method!r}")
    return df.withColumn(return_col, c)


def linear(
    df: DataFrame,
    x_cols: list[str],
    y_col: str,
    pred_col: str = "pred",
    resid_col: str = "resid",
    return_stats: bool = False,
):
    """README.md:166-245 `linear`: global OLS fit; adds pred/resid columns;
    `return_stats=True` additionally returns ([b0, b1, ...], r²) with b0
    the intercept — collected from the one-row moment solve, never from the
    data."""
    beta = _lin.ols(df, y_col, x_cols)
    joined = df.crossJoin(F.broadcast(beta))
    pred = F.col("coefficients")[0]
    for i, x in enumerate(x_cols):
        pred = pred + F.col("coefficients")[i + 1] * F.col(x).cast("double")
    out = (
        joined.withColumn(pred_col, pred)
        .withColumn(resid_col, F.col(y_col).cast("double") - F.col(pred_col))
        .drop("coefficients", "r2", "n")
    )
    if return_stats:
        row = beta.collect()[0]
        return out, (list(row["coefficients"]), row["r2"])
    return out


def clean(
    df: DataFrame,
    col: str,
    winsorize: str | None = None,
    winsorize_n: float | None = None,
    neutralize_market_cap: bool = False,
    cap_col: str | None = None,
    neutralize_industry: bool = False,
    industry_col: str | None = None,
    standardize: bool = False,
    group_by: list[str] | None = None,
) -> DataFrame:
    """README.md:246-342 `clean`: winsorize → market-cap neutralize →
    industry neutralize → standardize (the reference's processing order),
    emitting `{col}_cleaned`. winsorize: 'mad' | 'sigma' (n = sigmas,
    default 3) | 'percentile' (n = tail %, default 1.0)."""
    out_col = f"{col}_cleaned"
    work, cur = df, col
    if winsorize is not None:
        if winsorize == "percentile":
            n = 1.0 if winsorize_n is None else winsorize_n
            work = _cl.winsorize(
                work, cur, method="percentile",
                lower=n / 100.0, upper=1.0 - n / 100.0,
                group_by=group_by, out=out_col,
            )
        elif winsorize in ("sigma", "mad"):
            n = 3.0 if winsorize_n is None else winsorize_n
            work = _cl.winsorize(
                work, cur, method=winsorize, n_sigma=n,
                group_by=group_by, out=out_col,
            )
        else:
            raise ValueError(f"unknown winsorize method {winsorize!r}")
        cur = out_col
    if neutralize_market_cap:
        if cap_col is None:
            raise ValueError("cap_col required when neutralize_market_cap=True")
        work = _cl.neutralize(
            work, cur, size_col=cap_col, group_by=group_by, out=out_col
        )
        cur = out_col
    if neutralize_industry:
        if industry_col is None:
            raise ValueError("industry_col required when neutralize_industry=True")
        work = _cl.neutralize(
            work, cur, industry_col=industry_col, group_by=group_by, out=out_col
        )
        cur = out_col
    if standardize:
        work = _cl.zscore(work, cur, group_by=group_by, out=out_col)
        cur = out_col
    if cur == col:  # no stage ran: the cleaned column is the input
        work = work.withColumn(out_col, F.col(col).cast("double"))
    return work
