"""Momentum indicators — Column-expression subset (SURVEY.md §2.5).

Wilder-smoothed indicators (RSI, ADX/ADXR/DX, ±DI/±DM, ATR) and EMA-based ones
(MACD, TRIX, APO/PPO with EMA legs) live in ``operators.recurrence``.

Reference kernels: /root/reference/src/talib/momentum.rs; compositions from
/root/reference/python/polars_quant/talib/momentum.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from polars_quant_spark.functions._util import (
    dcol,
    guarded,
    require_absent,
    trailing,
)


def mom(x: Column | str, p: int = 10, w: WindowSpec = None) -> Column:
    """x − x[t−p] (momentum.rs:383-397)."""
    x = dcol(x)
    return x - F.lag(x, p).over(w)


def roc(x: Column | str, p: int = 10, w: WindowSpec = None) -> Column:
    """100·(x−x₋ₚ)/x₋ₚ (momentum.rs:438-453); NULL when x₋ₚ = 0 (ANSI-safe)."""
    x = dcol(x)
    prev = F.lag(x, p).over(w)
    return F.when(prev != 0, 100.0 * (x - prev) / prev)


def rocp(x: Column | str, p: int = 10, w: WindowSpec = None) -> Column:
    """(x−x₋ₚ)/x₋ₚ (momentum.rs:455-470)."""
    x = dcol(x)
    prev = F.lag(x, p).over(w)
    return F.when(prev != 0, (x - prev) / prev)


def rocr(x: Column | str, p: int = 10, w: WindowSpec = None) -> Column:
    """x/x₋ₚ (momentum.rs:472-487)."""
    x = dcol(x)
    prev = F.lag(x, p).over(w)
    return F.when(prev != 0, x / prev)


def rocr100(x: Column | str, p: int = 10, w: WindowSpec = None) -> Column:
    """100·x/x₋ₚ (momentum.rs:489-504)."""
    x = dcol(x)
    prev = F.lag(x, p).over(w)
    return F.when(prev != 0, 100.0 * x / prev)


def bop(open: Column | str, high: Column | str, low: Column | str, close: Column | str) -> Column:
    """(c−o)/(h−l), 0 when h==l (momentum.rs:112-135)."""
    o, h, l, c = dcol(open), dcol(high), dcol(low), dcol(close)
    return F.when(h == l, F.lit(0.0)).otherwise((c - o) / (h - l))


def willr(high: Column | str, low: Column | str, close: Column | str, p: int = 14, w: WindowSpec = None) -> Column:
    """−100·(HHV−c)/(HHV−LLV); 0 when the range is flat (momentum.rs:629-662)."""
    h, l, c = dcol(high), dcol(low), dcol(close)
    frame = trailing(w, p)
    hhv = F.max(h).over(frame)
    llv = F.min(l).over(frame)
    expr = F.when(hhv == llv, F.lit(0.0)).otherwise(-100.0 * (hhv - c) / (hhv - llv))
    return guarded(expr, c, p, w)


def cmo(x: Column | str, p: int = 14, w: WindowSpec = None) -> Column:
    """100·(Σup−Σdn)/(Σup+Σdn) over the trailing p diffs (momentum.rs:180-223);
    0 when there was no movement at all."""
    x = dcol(x)
    diff = x - F.lag(x).over(w)
    frame = trailing(w, p)
    up = F.sum(F.when(diff > 0, diff).otherwise(F.lit(0.0))).over(frame)
    dn = F.sum(F.when(diff < 0, -diff).otherwise(F.lit(0.0))).over(frame)
    expr = F.when(up + dn == 0, F.lit(0.0)).otherwise(100.0 * (up - dn) / (up + dn))
    return guarded(expr, diff, p, w)


def ultosc(
    high: Column | str,
    low: Column | str,
    close: Column | str,
    p1: int = 7,
    p2: int = 14,
    p3: int = 28,
    w: WindowSpec = None,
) -> Column:
    """Ultimate oscillator: 100·(4·A₁+2·A₂+A₃)/7 with Aₖ = ΣBP/ΣTR over pₖ
    (momentum.rs:571-627). BP = c − min(l, prev_c); TR = max(h, prev_c) −
    min(l, prev_c)."""
    h, l, c = dcol(high), dcol(low), dcol(close)
    prev_c = F.lag(c).over(w)
    bp = c - F.least(l, prev_c)
    tr = F.greatest(h, prev_c) - F.least(l, prev_c)

    def avg_ratio(p: int) -> Column:
        frame = trailing(w, p)
        str_ = F.sum(tr).over(frame)
        return F.when(str_ != 0, F.sum(bp).over(frame) / str_)

    expr = 100.0 * (4.0 * avg_ratio(p1) + 2.0 * avg_ratio(p2) + avg_ratio(p3)) / 7.0
    return guarded(expr, bp, p3, w)


def mfi(
    high: Column | str,
    low: Column | str,
    close: Column | str,
    volume: Column | str,
    p: int = 14,
    w: WindowSpec = None,
) -> Column:
    """Money flow index: 100·Σ⁺flow/(Σ⁺flow+Σ⁻flow) over trailing p, flow =
    typical price × volume signed by ΔTP (momentum.rs:285-342); 100 when there
    is no negative flow."""
    h, l, c, v = dcol(high), dcol(low), dcol(close), dcol(volume)
    tp = (h + l + c) / 3.0
    dtp = tp - F.lag(tp).over(w)
    flow = tp * v
    frame = trailing(w, p)
    pos = F.sum(F.when(dtp > 0, flow).otherwise(F.lit(0.0))).over(frame)
    neg = F.sum(F.when(dtp < 0, flow).otherwise(F.lit(0.0))).over(frame)
    expr = F.when(pos + neg == 0, F.lit(0.0)).otherwise(100.0 * pos / (pos + neg))
    return guarded(expr, dtp, p, w)


def cci(high: Column | str, low: Column | str, close: Column | str, p: int = 14, w: WindowSpec = None) -> Column:
    """(TP − SMA(TP)) / (0.015 · mean|TP−SMA|) (momentum.rs:137-178); 0 when
    the mean deviation is 0. Mean absolute deviation needs the window *values*
    (not just moments) → collect_list + higher-order aggregate, still JVM-side."""
    h, l, c = dcol(high), dcol(low), dcol(close)
    tp = (h + l + c) / 3.0
    frame = trailing(w, p)
    mean = F.avg(tp).over(frame)
    lst = F.collect_list(tp).over(frame)
    md = F.aggregate(lst, F.lit(0.0), lambda acc, v: acc + F.abs(v - mean)) / float(p)
    expr = F.when(md == 0, F.lit(0.0)).otherwise((tp - mean) / (0.015 * md))
    return guarded(expr, tp, p, w)


def aroon(
    high: Column | str,
    low: Column | str,
    p: int = 14,
    w: WindowSpec = None,
    t: Column | str = "t",
) -> tuple[Column, Column]:
    """Aroon (down, up): 100·(p − bars since extreme)/p over a window of p+1
    bars [i−p, i] (momentum.rs:69-110). Ties resolve to the most recent bar.

    Argmax-in-window via the struct-max trick: max(struct(value, t)) orders by
    value then t — pure window agg, no UDF. ``t`` is a monotonically increasing
    bar index within the partition (bars() provides it)."""
    h, l, tcol = dcol(high), dcol(low), dcol(t)
    frame = trailing(w, p + 1)
    t_of_max = F.max(F.struct(h.alias("v"), tcol.alias("t"))).over(frame).getField("t")
    t_of_min = F.min(F.struct(l.alias("v"), (-tcol).alias("nt"))).over(frame).getField("nt")
    up = 100.0 * (p - (tcol - t_of_max)) / p
    dn = 100.0 * (p - (tcol + t_of_min)) / p
    return guarded(dn, h, p + 1, w), guarded(up, h, p + 1, w)


def aroonosc(high: Column | str, low: Column | str, p: int = 14, w: WindowSpec = None, t: Column | str = "t") -> Column:
    """aroon_up − aroon_down (wrapper momentum.py:136-141, kernel absent —
    status M; semantics from the TA-Lib contract)."""
    dn, up = aroon(high, low, p, w, t)
    return up - dn


def apo(x: Column | str, fast: int = 12, slow: int = 26, w: WindowSpec = None) -> Column:
    """Absolute price oscillator, matype=0 (SMA legs): MA(fast) − MA(slow).
    Wrapper momentum.py:25-30; kernel absent from the snapshot (status M)."""
    from polars_quant_spark.functions.overlap import sma

    return sma(x, fast, w) - sma(x, slow, w)


def ppo(x: Column | str, fast: int = 12, slow: int = 26, w: WindowSpec = None) -> Column:
    """Percentage price oscillator: 100·(MAf−MAs)/MAs (momentum.py:136-141)."""
    from polars_quant_spark.functions.overlap import sma

    s = sma(x, slow, w)
    return F.when(s != 0, 100.0 * (sma(x, fast, w) - s) / s)


def stoch(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    close: str = "close",
    fastk_period: int = 5,
    slowk_period: int = 3,
    slowd_period: int = 3,
    partition_by: str = "symbol",
    order_by: str = "t",
    prefix: str = "stoch",
) -> DataFrame:
    """Slow stochastic (momentum.py:178-186 composition): fastK = 100·(c−LLV)/
    (HHV−LLV); slowK = SMA(fastK, slowk); slowD = SMA(slowK, slowd). MA type
    fixed to SMA (matype=0, the reference default). DataFrame-level because the
    SMA legs window over a derived column."""
    from polars_quant_spark.functions.overlap import sma

    w = Window.partitionBy(partition_by).orderBy(order_by)
    h, l, c = dcol(high), dcol(low), dcol(close)
    frame = trailing(w, fastk_period)
    hhv, llv = F.max(h).over(frame), F.min(l).over(frame)
    fastk = F.when(hhv == llv, F.lit(0.0)).otherwise(100.0 * (c - llv) / (hhv - llv))
    df = df.withColumn(f"{prefix}_fastk", guarded(fastk, c, fastk_period, w))
    df = df.withColumn(f"{prefix}_slowk", sma(f"{prefix}_fastk", slowk_period, w))
    df = df.withColumn(f"{prefix}_slowd", sma(f"{prefix}_slowk", slowd_period, w))
    return df


def stochf(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    close: str = "close",
    fastk_period: int = 5,
    fastd_period: int = 3,
    partition_by: str = "symbol",
    order_by: str = "t",
    prefix: str = "stochf",
) -> DataFrame:
    """Fast stochastic (momentum.py:188-195): fastK plus fastD = SMA(fastK)."""
    from polars_quant_spark.functions.overlap import sma

    w = Window.partitionBy(partition_by).orderBy(order_by)
    h, l, c = dcol(high), dcol(low), dcol(close)
    frame = trailing(w, fastk_period)
    hhv, llv = F.max(h).over(frame), F.min(l).over(frame)
    fastk = F.when(hhv == llv, F.lit(0.0)).otherwise(100.0 * (c - llv) / (hhv - llv))
    df = df.withColumn(f"{prefix}_fastk", guarded(fastk, c, fastk_period, w))
    df = df.withColumn(f"{prefix}_fastd", sma(f"{prefix}_fastk", fastd_period, w))
    return df


def stochrsi(
    df: DataFrame,
    close: str = "close",
    timeperiod: int = 14,
    fastk_period: int = 5,
    fastd_period: int = 3,
    partition_by: str = "symbol",
    order_by: str = "t",
    prefix: str = "stochrsi",
) -> DataFrame:
    """Stochastic RSI (reference python/polars_quant/talib/momentum.py:197-205):
    STOCHF's fastK/fastD applied to RSI(timeperiod) instead of price —
    fastK = 100·(RSI − LLV(RSI)) / (HHV(RSI) − LLV(RSI)), fastD =
    SMA(fastK, fastd_period). MA type fixed to SMA (matype=0, the reference
    default). DataFrame-level because the RSI leg is a Wilder recurrence
    (batched applyInArrow, one pass per key) and the stochastic legs
    window over that derived column; the windows all share the per-key
    exchange the recurrence already established."""
    from polars_quant_spark.functions.overlap import sma
    from polars_quant_spark.operators.recurrence import Rec, with_recurrences

    w = Window.partitionBy(partition_by).orderBy(order_by)
    rsi_col = f"{prefix}_rsi"
    df = with_recurrences(
        df,
        [Rec(rsi_col, "rsi", [close], {"p": timeperiod})],
        partition_by=partition_by,
        order_by=order_by,
    )
    r = dcol(rsi_col)
    frame = trailing(w, fastk_period)
    hhv, llv = F.max(r).over(frame), F.min(r).over(frame)
    fastk = F.when(hhv == llv, F.lit(0.0)).otherwise(100.0 * (r - llv) / (hhv - llv))
    df = df.withColumn(f"{prefix}_fastk", guarded(fastk, r, fastk_period, w))
    df = df.withColumn(f"{prefix}_fastd", sma(f"{prefix}_fastk", fastd_period, w))
    return df.drop(rsi_col)


# --- round-7 promotions: query-local compositions from queries_ext.py made
# first-class library entry points (same pattern as the stochrsi promotion
# in round 5 and the trend-channel promotions earlier this round). Each adds
# columns unrounded — the oracle queries apply their own 6-dp rounding — and
# keeps the plan shape of the query-local form (one per-key exchange). None
# exist in the reference's TA-Lib set; formulas follow the standard
# published definitions. ----------------------------------------------------


def kst(
    df: DataFrame,
    close: str = "close",
    roc_periods: tuple[int, int, int, int] = (10, 15, 20, 30),
    sma_periods: tuple[int, int, int, int] = (10, 10, 10, 15),
    partition_by: str = "symbol",
    order_by: str = "t",
    out: str = "kst",
) -> DataFrame:
    """Pring's Know-Sure-Thing: 1·2·…·n-weighted sum of SMA-smoothed ROCs
    (classically n=4 legs). Adds ``out`` (NULL until every smoothing window
    is full). All lags + smoothing frames share one per-key exchange."""
    if len(roc_periods) != len(sma_periods):
        raise ValueError(
            f"kst: roc_periods ({len(roc_periods)}) and sma_periods "
            f"({len(sma_periods)}) must have the same number of legs"
        )
    require_absent(
        df, out, *[f"_kst_r{i}" for i in range(1, len(roc_periods) + 1)]
    )
    c = dcol(close)
    o = Window.partitionBy(partition_by).orderBy(order_by)

    def roc_(n: int) -> Column:
        return 100.0 * (c / F.lag(c, n).over(o) - 1.0)

    rocs = df.select(
        "*", *[roc_(n).alias(f"_kst_r{i}") for i, n in enumerate(roc_periods, 1)]
    )
    frames = [trailing(o, p) for p in sma_periods]
    # every ROC leg must fill ITS OWN smoothing frame: with the default
    # monotone lookbacks r4's count is the binding one, but non-default
    # roc_periods (e.g. a 40-bar middle leg) would otherwise pass the gate
    # while averaging a partially-null window (code-review r7)
    full = F.lit(True)
    for i in range(len(roc_periods)):
        full = full & (
            F.count(f"_kst_r{i + 1}").over(frames[i]) == sma_periods[i]
        )
    val = sum(
        (i + 1.0) * F.avg(f"_kst_r{i + 1}").over(frames[i])
        for i in range(len(roc_periods))
    )
    return rocs.select(*df.columns, F.when(full, val).alias(out))


def coppock(
    df: DataFrame,
    close: str = "close",
    roc_long: int = 14,
    roc_short: int = 11,
    wma_period: int = 10,
    partition_by: str = "symbol",
    order_by: str = "t",
    out: str = "coppock",
) -> DataFrame:
    """Coppock curve: WMA of ROC(long)+ROC(short). Adds ``out``. NOTE: rows
    whose long ROC is undefined (the first ``roc_long`` bars per key) are
    DROPPED — the WMA warm-up gate must count only defined ROC sums."""
    from polars_quant_spark.functions.overlap import wma

    c = dcol(close)
    o = Window.partitionBy(partition_by).orderBy(order_by)
    rsum = 100.0 * (c / F.lag(c, roc_long).over(o) - 1.0) + 100.0 * (
        c / F.lag(c, roc_short).over(o) - 1.0
    )
    require_absent(df, out, "_cop_rsum")
    src = df.select("*", rsum.alias("_cop_rsum")).where(
        F.col("_cop_rsum").isNotNull()
    )
    return src.select(*df.columns, wma("_cop_rsum", wma_period, o).alias(out))


def awesome_osc(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    fast: int = 5,
    slow: int = 34,
    partition_by: str = "symbol",
    order_by: str = "t",
    out: str = "ao",
) -> DataFrame:
    """Awesome Oscillator: SMA(fast) − SMA(slow) of the bar midpoint.
    Adds ``out`` (NULL until the slow window is full). Two frames, one
    exchange."""
    require_absent(df, out)
    mid = (dcol(high) + dcol(low)) / 2.0
    o = Window.partitionBy(partition_by).orderBy(order_by)
    wf, ws = trailing(o, fast), trailing(o, slow)
    # gate on non-null midpoints (the package warm-up contract: NULL until
    # the frame holds `slow` non-null inputs), not raw row count — same
    # thing on a null-free bars feed, stricter on a public-API input
    return df.select(
        "*",
        F.when(
            F.count(mid).over(ws) == slow,
            F.avg(mid).over(wf) - F.avg(mid).over(ws),
        ).alias(out),
    )


def dpo(
    df: DataFrame,
    close: str = "close",
    p: int = 20,
    partition_by: str = "symbol",
    order_by: str = "t",
    out: str = "dpo",
) -> DataFrame:
    """Detrended Price Oscillator: price p/2+1 bars back minus the current
    SMA(p) — strips the trend to expose the cycle. Adds ``out``."""
    require_absent(df, out)
    c = dcol(close)
    o = Window.partitionBy(partition_by).orderBy(order_by)
    w = trailing(o, p)
    return df.select(
        "*",
        F.when(
            F.count(c).over(w) == p,
            F.lag(c, p // 2 + 1).over(o) - F.avg(c).over(w),
        ).alias(out),
    )


def qstick(
    df: DataFrame,
    open: str = "open",  # noqa: A002 - TA-Lib-style field name
    close: str = "close",
    p: int = 10,
    partition_by: str = "symbol",
    order_by: str = "t",
    out: str = "qstick",
) -> DataFrame:
    """Qstick: SMA(p) of the candle body (close − open) — net buying
    pressure from bar anatomy. Adds ``out``."""
    require_absent(df, out)
    o = Window.partitionBy(partition_by).orderBy(order_by)
    w = trailing(o, p)
    body = dcol(close) - dcol(open)
    return df.select(
        "*",
        F.when(F.count(body).over(w) == p, F.avg(body).over(w)).alias(out),
    )


def rvi(
    df: DataFrame,
    open: str = "open",  # noqa: A002
    high: str = "high",
    low: str = "low",
    close: str = "close",
    p: int = 10,
    partition_by: str = "symbol",
    order_by: str = "t",
    out: str = "rvi",
) -> DataFrame:
    """Relative Vigor Index: symmetric-weighted (1,2,2,1)/6 close−open
    conviction over the same-weighted range, both window-summed over ``p``
    bars. Adds ``out``. NOTE: the first 3 bars per key are DROPPED (the
    symmetric weighting needs 3 lags, and the warm-up count must see only
    defined values)."""
    require_absent(df, out, "_rvi_nv", "_rvi_dv")
    o = Window.partitionBy(partition_by).orderBy(order_by)

    def symw(c: Column) -> Column:
        return (
            c + 2.0 * F.lag(c, 1).over(o) + 2.0 * F.lag(c, 2).over(o) + F.lag(c, 3).over(o)
        ) / 6.0

    src = df.select(
        "*",
        symw(dcol(close) - dcol(open)).alias("_rvi_nv"),
        symw(dcol(high) - dcol(low)).alias("_rvi_dv"),
    ).where(F.col("_rvi_nv").isNotNull() & F.col("_rvi_dv").isNotNull())
    w = trailing(o, p)
    ok = (F.count("_rvi_nv").over(w) == p) & (F.sum("_rvi_dv").over(w) != 0)
    return src.select(
        *df.columns,
        F.when(ok, F.sum("_rvi_nv").over(w) / F.sum("_rvi_dv").over(w)).alias(out),
    )


def choppiness(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    close: str = "close",
    p: int = 14,
    partition_by: str = "symbol",
    order_by: str = "t",
    out: str = "chop",
) -> DataFrame:
    """Choppiness index: 100·log10(ΣTR / range) / log10(p) over ``p`` bars
    — the trendiness/congestion gauge. Adds ``out`` (NULL until a full
    window of true ranges exists or when the range/TR sum degenerates)."""
    require_absent(df, out, "_chop_tr")
    h, l, c = dcol(high), dcol(low), dcol(close)
    o = Window.partitionBy(partition_by).orderBy(order_by)
    tr = F.greatest(h - l, F.abs(h - F.lag(c).over(o)), F.abs(l - F.lag(c).over(o)))
    src = df.select("*", tr.alias("_chop_tr"))
    w = trailing(o, p)
    rng_ = F.max(h).over(w) - F.min(l).over(w)
    s = F.sum("_chop_tr").over(w)
    ok = (F.count("_chop_tr").over(w) == p) & (rng_ > 0) & (s > 0)
    val = F.lit(100.0) * F.log10(s / rng_) / F.log10(F.lit(float(p)))
    return src.select(*df.columns, F.when(ok, val).alias(out))


def tsi(
    df: DataFrame,
    close: str = "close",
    long_period: int = 25,
    short_period: int = 13,
    partition_by: str = "symbol",
    order_by: str = "t",
    out: str = "tsi",
) -> DataFrame:
    """True Strength Index: 100 · EMA(long, EMA(short, Δclose)) /
    EMA(long, EMA(short, |Δclose|)) — FOUR chained recurrences in one
    batched applyInArrow pass. Adds ``out`` (NULL while any chain warms
    up or the denominator is 0). NOTE: the first bar per key is DROPPED
    (momentum needs a prior close, and the recurrence warm-up must count
    only defined momenta)."""
    from polars_quant_spark.operators.recurrence import Rec, with_recurrences

    require_absent(
        df, out, "_tsi_m", "_tsi_am", "_t1a", "_t2a", "_t1b", "_t2b"
    )
    o = Window.partitionBy(partition_by).orderBy(order_by)
    m = dcol(close) - F.lag(dcol(close)).over(o)
    src = df.select("*", m.alias("_tsi_m"), F.abs(m).alias("_tsi_am")).where(
        F.col("_tsi_m").isNotNull()
    )
    rec = with_recurrences(
        src,
        [
            Rec("_t1a", "ema", ["_tsi_m"], {"p": short_period}),
            Rec("_t2a", "ema", ["_t1a"], {"p": long_period}),
            Rec("_t1b", "ema", ["_tsi_am"], {"p": short_period}),
            Rec("_t2b", "ema", ["_t1b"], {"p": long_period}),
        ],
        partition_by=partition_by,
        order_by=order_by,
    )
    return rec.select(
        *df.columns,
        F.when(F.col("_t2b") != 0, 100.0 * F.col("_t2a") / F.col("_t2b")).alias(out),
    )
