"""Signal-generator library (`Strategy`, reference README.md:862-996, SURVEY
§2.8): 15 named strategies, each mapping an enriched bar frame to boolean
buy/sell columns, composable with backtest.vectorized.

Every generator takes (df, w) where w = Window.partitionBy(symbol).orderBy(t)
and the frame already carries the indicator columns it names (build them with
functions.* / operators.recurrence — keeps one applyInArrow pass for all
recurrences). Crossover helpers treat NULL warm-up rows as no-signal."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from polars_quant_spark.functions import overlap as ov


def _cross_over(a: Column, b: Column, w: WindowSpec) -> Column:
    return F.coalesce(
        (a > b) & (F.lag(a).over(w) <= F.lag(b).over(w)), F.lit(False)
    )


def _cross_under(a: Column, b: Column, w: WindowSpec) -> Column:
    return F.coalesce(
        (a < b) & (F.lag(a).over(w) >= F.lag(b).over(w)), F.lit(False)
    )


def _sig(df: DataFrame, buy: Column, sell: Column) -> DataFrame:
    return df.withColumn("buy", buy).withColumn("sell", sell)


def ma_cross(df, w, fast: str = "sma_5", slow: str = "sma_20") -> DataFrame:
    """Golden/death cross of two moving averages."""
    return _sig(df, _cross_over(F.col(fast), F.col(slow), w), _cross_under(F.col(fast), F.col(slow), w))


def ema_cross(df, w, fast: str = "ema_12", slow: str = "ema_26") -> DataFrame:
    return ma_cross(df, w, fast, slow)


def macd_cross(df, w, dif: str = "macd_dif", dea: str = "macd_dea") -> DataFrame:
    """DIF crossing DEA."""
    return _sig(df, _cross_over(F.col(dif), F.col(dea), w), _cross_under(F.col(dif), F.col(dea), w))


def rsi_reversal(df, w, rsi: str = "rsi_14", lo: float = 30, hi: float = 70) -> DataFrame:
    """Buy oversold exits, sell overbought exits."""
    r, pr = F.col(rsi), F.lag(rsi).over(w)
    return _sig(
        df,
        F.coalesce((r > lo) & (pr <= lo), F.lit(False)),
        F.coalesce((r < hi) & (pr >= hi), F.lit(False)),
    )


def boll_breakout(df, w, price: str = "close", upper: str = "bb_upper", lower: str = "bb_lower") -> DataFrame:
    """Buy on lower-band touch, sell on upper-band touch."""
    return _sig(
        df,
        F.coalesce(F.col(price) <= F.col(lower), F.lit(False)),
        F.coalesce(F.col(price) >= F.col(upper), F.lit(False)),
    )


def kdj_cross(df, w, k: str = "stoch_slowk", d: str = "stoch_slowd") -> DataFrame:
    return _sig(df, _cross_over(F.col(k), F.col(d), w), _cross_under(F.col(k), F.col(d), w))


def cci_reversal(df, w, cci: str = "cci_14", lo: float = -100, hi: float = 100) -> DataFrame:
    c, pc = F.col(cci), F.lag(cci).over(w)
    return _sig(
        df,
        F.coalesce((c > lo) & (pc <= lo), F.lit(False)),
        F.coalesce((c < hi) & (pc >= hi), F.lit(False)),
    )


def momentum_follow(df, w, mom: str = "mom_10") -> DataFrame:
    """Sign flips of momentum."""
    m, pm = F.col(mom), F.lag(mom).over(w)
    return _sig(
        df,
        F.coalesce((m > 0) & (pm <= 0), F.lit(False)),
        F.coalesce((m < 0) & (pm >= 0), F.lit(False)),
    )


def channel_breakout(df, w, price: str = "close", p: int = 20) -> DataFrame:
    """Donchian-style: buy above prior p-bar high, sell below prior p-bar low."""
    prev = w.rowsBetween(-p, -1)
    hi = F.max(F.col("high")).over(prev)
    lo = F.min(F.col("low")).over(prev)
    return _sig(
        df,
        F.coalesce(F.col(price) > hi, F.lit(False)),
        F.coalesce(F.col(price) < lo, F.lit(False)),
    )


def volume_price_surge(df, w, mult: float = 2.0, p: int = 20) -> DataFrame:
    """Volume spike with the price direction choosing the side."""
    vavg = ov.sma("volume", p, w)
    spike = F.col("volume") > mult * vavg
    up = F.col("close") > F.lag("close").over(w)
    return _sig(
        df,
        F.coalesce(spike & up, F.lit(False)),
        F.coalesce(spike & ~up, F.lit(False)),
    )


def sar_follow(df, w, price: str = "close", sar: str = "sar") -> DataFrame:
    """Price crossing its parabolic SAR."""
    return _sig(
        df,
        _cross_over(F.col(price), F.col(sar), w),
        _cross_under(F.col(price), F.col(sar), w),
    )


def adx_trend(df, w, adx: str = "adx_14", pdi: str = "plus_di_14", mdi: str = "minus_di_14", thr: float = 25) -> DataFrame:
    """DI cross gated by ADX strength."""
    strong = F.col(adx) > thr
    return _sig(
        df,
        _cross_over(F.col(pdi), F.col(mdi), w) & F.coalesce(strong, F.lit(False)),
        _cross_under(F.col(pdi), F.col(mdi), w) & F.coalesce(strong, F.lit(False)),
    )


def willr_reversal(df, w, willr: str = "willr_14", lo: float = -80, hi: float = -20) -> DataFrame:
    v, pv = F.col(willr), F.lag(willr).over(w)
    return _sig(
        df,
        F.coalesce((v > lo) & (pv <= lo), F.lit(False)),
        F.coalesce((v < hi) & (pv >= hi), F.lit(False)),
    )


def mfi_reversal(df, w, mfi: str = "mfi_14", lo: float = 20, hi: float = 80) -> DataFrame:
    v, pv = F.col(mfi), F.lag(mfi).over(w)
    return _sig(
        df,
        F.coalesce((v > lo) & (pv <= lo), F.lit(False)),
        F.coalesce((v < hi) & (pv >= hi), F.lit(False)),
    )


def trix_cross(df, w, trix: str = "trix_30") -> DataFrame:
    """TRIX zero-line crossings."""
    v, pv = F.col(trix), F.lag(trix).over(w)
    return _sig(
        df,
        F.coalesce((v > 0) & (pv <= 0), F.lit(False)),
        F.coalesce((v < 0) & (pv >= 0), F.lit(False)),
    )


def stoch_oversold(df, w, k: str = "stoch_slowk", lo: float = 20, hi: float = 80) -> DataFrame:
    v, pv = F.col(k), F.lag(k).over(w)
    return _sig(
        df,
        F.coalesce((v > lo) & (pv <= lo), F.lit(False)),
        F.coalesce((v < hi) & (pv >= hi), F.lit(False)),
    )


STRATEGIES = {
    "ma_cross": ma_cross,
    "ema_cross": ema_cross,
    "macd_cross": macd_cross,
    "rsi_reversal": rsi_reversal,
    "boll_breakout": boll_breakout,
    "kdj_cross": kdj_cross,
    "cci_reversal": cci_reversal,
    "momentum_follow": momentum_follow,
    "channel_breakout": channel_breakout,
    "volume_price_surge": volume_price_surge,
    "sar_follow": sar_follow,
    "adx_trend": adx_trend,
    "willr_reversal": willr_reversal,
    "mfi_reversal": mfi_reversal,
    "trix_cross": trix_cross,
    "stoch_oversold": stoch_oversold,
}
