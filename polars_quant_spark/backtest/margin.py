"""Leverage/margin backtester — the v0.x ``Backtest`` roadmap surface.

The reference documents (but does not ship) a margin-aware backtester:
constructor knobs ``leverage, margin_call_threshold, interest_rate,
commission_rate, min_commission, slippage, benchmark``
(/root/reference/README.md:350-366), per-symbol independent capital pools
(README.md:402-407), and three result frames — daily records, position
records with round-lot quantities, and performance metrics with
benchmark alpha/beta (README.md:410-500). The engine code is absent from
the snapshot, so the bar-level semantics below are OUR declared contract,
chosen to be deterministic and cross-engine reproducible:

* **Buy** (``buy`` signal, flat): fill = px·(1+slippage); buying power =
  cash·position_size·leverage; quantity = largest round lot (multiple of
  100) whose notional + commission fits the buying power; commission =
  max(rate·notional, min_commission). Spend draws own cash first; the
  excess is margin debt.
* **Interest**: each valid bar accrues ``interest_rate / 252`` on
  outstanding debt (annualized rate, trading-day accrual).
* **Margin call**: after marking, if equity / market_value <
  margin_call_threshold the position is force-liquidated at
  px·(1−slippage) (reason ``margin_call``).
* **Sell** (signal or margin call): proceeds = qty·fill − commission,
  repay debt first, remainder to cash. pnl = proceeds − entry_cost.
* NaN/≤0 prices freeze state (no fills, no interest) — same rule as the
  vectorized engine (vectorized.rs:141-144).
* equity = cash + qty·mark − debt; per-symbol pools never interact.

Spark shape: ONE ``applyInArrow`` fold per symbol (single shuffle on
symbol), emitting daily records with trade fields attached to exit bars;
portfolio metrics are plain aggregations over the daily frame. Scales the
same way as the vectorized engine: linear in bars, symbols in parallel.
"""

from __future__ import annotations

from bisect import bisect_left
from dataclasses import dataclass
from math import floor, isnan

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from polars_quant_spark.operators.arrow_group import f64, flags, sort_rows

TRADING_DAYS = 252
LOT = 100


@dataclass
class MarginParams:
    """Constructor knobs of README.md:350-366."""

    initial_capital: float = 100_000.0
    position_size: float = 1.0
    leverage: float = 1.0
    margin_call_threshold: float = 0.3
    interest_rate: float = 0.06
    commission_rate: float = 3e-4
    min_commission: float = 5.0
    slippage: float = 0.0


def _commission(notional: float, p: MarginParams) -> float:
    if p.commission_rate == 0.0 and p.min_commission == 0.0:
        return 0.0
    return max(p.commission_rate * notional, p.min_commission)


def _fold(
    t: np.ndarray, price: np.ndarray, buy: np.ndarray, sell: np.ndarray, p: MarginParams
):
    """Sequential per-symbol fold. Returns per-bar state arrays plus
    trade-event arrays aligned to exit bars (NaN/None elsewhere).

    Dispatches to the event-driven kernel (``_fold_events``, optimization
    round 13 — the per-bar Python loop was the margin path's per-core
    ceiling at ~0.6 M bars/s); ``_fold_loop`` below is the executable
    spec, pinned bit-equal by tests/test_margin.py's differential suite."""
    return _fold_events(t, price, buy, sell, p)


def _fold_loop(
    t: np.ndarray, price: np.ndarray, buy: np.ndarray, sell: np.ndarray, p: MarginParams
):
    """The per-bar reference loop (executable spec for ``_fold_events``)."""
    n = price.shape[0]
    cash_a = np.zeros(n)
    qty_a = np.zeros(n)
    value_a = np.zeros(n)
    debt_a = np.zeros(n)
    equity_a = np.zeros(n)
    entry_t = np.full(n, np.nan)
    entry_px = np.full(n, np.nan)
    exit_qty = np.full(n, np.nan)
    exit_px = np.full(n, np.nan)
    pnl = np.full(n, np.nan)
    pnl_pct = np.full(n, np.nan)
    holding = np.full(n, np.nan)
    reason: list[str | None] = [None] * n

    cash = p.initial_capital
    qty = 0.0
    debt = 0.0
    entry_cost = 0.0
    e_t = 0.0
    e_px = 0.0
    e_i = 0
    last_px = float("nan")
    daily_rate = p.interest_rate / TRADING_DAYS

    def close_out(i: int, fill: float, why: str) -> None:
        nonlocal cash, qty, debt, entry_cost
        notional = qty * fill
        fee = _commission(notional, p)
        proceeds = notional - fee
        repay = min(debt, proceeds)
        cash += proceeds - repay
        debt -= repay
        entry_t[i] = e_t
        entry_px[i] = e_px
        exit_qty[i] = qty
        exit_px[i] = fill
        pnl[i] = proceeds - entry_cost
        pnl_pct[i] = (proceeds - entry_cost) / entry_cost if entry_cost > 0 else 0.0
        holding[i] = i - e_i
        reason[i] = why
        qty = 0.0
        entry_cost = 0.0

    for i in range(n):
        px = price[i]
        frozen = isnan(px) or px <= 0.0
        if not frozen:
            last_px = px
            if debt > 0.0:
                debt *= 1.0 + daily_rate
            if sell[i] and qty > 0.0:
                close_out(i, px * (1.0 - p.slippage), "signal")
            elif buy[i] and qty == 0.0:
                fill = px * (1.0 + p.slippage)
                power = cash * p.position_size * p.leverage
                lots = floor(power / (fill * LOT))
                while lots > 0:
                    shares = lots * LOT
                    notional = shares * fill
                    fee = _commission(notional, p)
                    if notional + fee <= power:
                        break
                    lots -= 1
                if lots > 0:
                    shares = lots * LOT
                    notional = shares * fill
                    fee = _commission(notional, p)
                    spend = notional + fee
                    borrow = max(0.0, spend - cash)
                    cash -= spend - borrow
                    debt += borrow
                    qty = float(shares)
                    entry_cost = spend
                    e_t, e_px, e_i = float(t[i]), fill, i
            mark = px
            if qty > 0.0:
                mv = qty * mark
                if mv > 0 and (cash + mv - debt) / mv < p.margin_call_threshold:
                    close_out(i, px * (1.0 - p.slippage), "margin_call")
        mark = last_px if not isnan(last_px) else 0.0
        cash_a[i] = cash
        qty_a[i] = qty
        value_a[i] = qty * mark
        debt_a[i] = debt
        equity_a[i] = cash + qty * mark - debt

    return (
        cash_a, qty_a, value_a, debt_a, equity_a,
        entry_t, entry_px, exit_qty, exit_px, pnl, pnl_pct, holding, reason,
    )


#: in-position exit scans grow their block geometrically per stretch
#: (same schedule as backtest/vectorized.py's event fold)
_EVENT_BLOCK0 = 512
_EVENT_BLOCK_MAX = 1 << 21


def _fold_events(
    t: np.ndarray, price: np.ndarray, buy: np.ndarray, sell: np.ndarray, p: MarginParams
):
    """Event-driven margin fold: bit-identical to ``_fold_loop`` but the
    per-bar Python loop only runs ACROSS state-changing events (the same
    decomposition as ``vectorized._fold_state``, round 12).

    What margin adds over the plain fold is per-bar interest: on every
    valid bar with debt outstanding the loop runs ``debt *= 1 + r/252``.
    That is a left-fold of multiplications, and
    ``np.multiply.accumulate([d0, f, f, …])`` performs the IDENTICAL
    multiplications in the IDENTICAL order — with frozen bars contributing
    an exact ``×1.0`` identity (IEEE-754: x·1.0 == x) and a zero debt
    staying exactly zero (0.0·f == 0.0), so the unconditional vectorized
    accumulate reproduces the loop's ``if debt > 0`` guard bit-for-bit.
    The per-bar debt series therefore fills segment-by-segment during the
    walk, and the margin-call trigger scan compares the SAME doubles the
    loop compares: mv = qty·px, (cash + mv − debt)/mv < threshold.

    Walk structure:
    * flat → bisect to the next valid buy bar (failed buys — zero
      affordable lots — advance the pointer exactly like the loop);
    * buy bar → the loop's own sizing/borrow code verbatim, then the
      loop's same-bar margin-call check with the post-borrow debt;
    * holding → geometrically-growing block scan of
      ``(sell | margin_call) & valid``; the first True index is the
      loop's exit bar, the reason is ``sell[j] ? "signal" :
      "margin_call"`` (the loop checks sell first);
    * exit bar → the loop's close_out verbatim (repay min(debt,
      proceeds)).

    Outputs: cash/qty are piecewise-constant (np.repeat over segments),
    debt comes from the walk's accumulates, and value/equity are the
    loop's per-bar expressions evaluated elementwise in the same order
    (qty·mark, cash + qty·mark, − debt). ``mark`` carries the last valid
    price exactly like the loop (frozen-bar patching via searchsorted).
    The frozen predicate here is the margin engine's documented
    ``isnan(px) or px <= 0`` — NOT the plain fold's isfinite — so ±inf
    handling matches the loop, whatever it does."""
    n = price.shape[0]
    cash = p.initial_capital
    qty = 0.0
    debt = 0.0
    entry_cost = 0.0
    e_t = 0.0
    e_px = 0.0
    e_i = 0
    daily_rate = p.interest_rate / TRADING_DAYS
    c = 1.0 + daily_rate
    sell_mult = 1.0 - p.slippage
    buy_mult = 1.0 + p.slippage
    thr = p.margin_call_threshold

    entry_t = np.full(n, np.nan)
    entry_px = np.full(n, np.nan)
    exit_qty = np.full(n, np.nan)
    exit_px = np.full(n, np.nan)
    pnl = np.full(n, np.nan)
    pnl_pct = np.full(n, np.nan)
    holding = np.full(n, np.nan)
    reason: list[str | None] = [None] * n
    debt_a = np.zeros(n)

    if n == 0:
        z = np.zeros(0)
        return (
            z, z.copy(), z.copy(), debt_a, z.copy(),
            entry_t, entry_px, exit_qty, exit_px, pnl, pnl_pct, holding, reason,
        )

    # frozen = isnan(px) or px <= 0 — the margin engine's documented rule
    mn = float(np.min(price))
    has_bad = isnan(mn) or mn <= 0.0
    if has_bad:
        bad = np.isnan(price)
        np.logical_or(bad, price <= 0.0, out=bad)
        valid = ~bad
        good_idx = np.flatnonzero(valid)
        mark_all = price.copy()
        bidx = np.flatnonzero(bad)
        if len(good_idx):
            pv = np.searchsorted(good_idx, bidx) - 1
            mark_all[bidx] = np.where(
                pv >= 0, price[good_idx[np.maximum(pv, 0)]], 0.0
            )
        else:
            mark_all[bidx] = 0.0
        buy_idx = np.flatnonzero(buy & valid)
    else:
        valid = None
        mark_all = price  # alias — no copy
        buy_idx = np.flatnonzero(buy)
    buy_list = buy_idx.tolist()
    n_buy = len(buy_list)
    bp = 0

    # per-bar interest factor: c on valid bars, exact ×1.0 on frozen ones —
    # built lazily, only once debt actually exists
    factors = None

    def _factors():
        nonlocal factors
        if factors is None:
            if has_bad:
                factors = np.where(valid, c, 1.0)
            else:
                factors = np.full(n, c)
        return factors

    def fill_debt(lo: int, hi: int, d0: float) -> float:
        """debt_a[lo:hi] = the loop's post-bar debt for non-event bars;
        returns the accumulated debt after bar hi-1 (the pre-event value
        when hi-1 is an event bar). d0 = debt after bar lo-1."""
        if hi <= lo:
            return d0
        if d0 == 0.0:
            return 0.0  # debt_a already zeros
        if c == 1.0:
            debt_a[lo:hi] = d0  # ×1.0 identity chain — constant, exact
            return d0
        acc = np.multiply.accumulate(
            np.concatenate(([d0], _factors()[lo:hi]))
        )[1:]
        debt_a[lo:hi] = acc
        return float(acc[-1])

    def close_out(i: int, fill: float, why: str) -> None:
        nonlocal cash, qty, debt, entry_cost
        notional = qty * fill
        fee = _commission(notional, p)
        proceeds = notional - fee
        repay = min(debt, proceeds)
        cash += proceeds - repay
        debt -= repay
        entry_t[i] = e_t
        entry_px[i] = e_px
        exit_qty[i] = qty
        exit_px[i] = fill
        pnl[i] = proceeds - entry_cost
        pnl_pct[i] = (proceeds - entry_cost) / entry_cost if entry_cost > 0 else 0.0
        holding[i] = i - e_i
        reason[i] = why
        qty = 0.0
        entry_cost = 0.0

    seg_start = [0]
    seg_qty = [qty]
    seg_cash = [cash]

    i = 0
    while i < n:
        if qty == 0.0:
            # ---- flat: jump to the next valid buy bar
            bp = bisect_left(buy_list, i, bp)
            if bp >= n_buy:
                break
            j = buy_list[bp]
            debt = fill_debt(i, j + 1, debt)  # interest through the buy bar
            px = float(price[j])
            fill = px * buy_mult
            power = cash * p.position_size * p.leverage
            lots = floor(power / (fill * LOT))
            while lots > 0:
                shares = lots * LOT
                notional = shares * fill
                fee = _commission(notional, p)
                if notional + fee <= power:
                    break
                lots -= 1
            if lots > 0:
                shares = lots * LOT
                notional = shares * fill
                fee = _commission(notional, p)
                spend = notional + fee
                borrow = max(0.0, spend - cash)
                cash -= spend - borrow
                debt += borrow
                qty = float(shares)
                entry_cost = spend
                e_t, e_px, e_i = float(t[j]), fill, j
                debt_a[j] = debt
                seg_start.append(j)
                seg_qty.append(qty)
                seg_cash.append(cash)
                # the loop's same-bar margin-call check (post-borrow debt)
                mv = qty * px
                if mv > 0 and (cash + mv - debt) / mv < thr:
                    close_out(j, px * sell_mult, "margin_call")
                    debt_a[j] = debt
                    seg_start.append(j)
                    seg_qty.append(0.0)
                    seg_cash.append(cash)
            else:
                debt_a[j] = debt
            i = j + 1
        else:
            # ---- holding: block scan for the first sell-or-margin-call bar
            j = n
            a = i
            block = _EVENT_BLOCK0
            while a < n:
                b = min(a + block, n)
                block = min(block * 4, _EVENT_BLOCK_MAX)
                px_s = price[a:b]
                if debt > 0.0 and c != 1.0:
                    d_s = np.multiply.accumulate(
                        np.concatenate(([debt], _factors()[a:b]))
                    )[1:]
                else:
                    d_s = debt  # scalar: zero, or constant under c == 1.0
                mv = qty * px_s
                with np.errstate(divide="ignore", invalid="ignore"):
                    trig = (mv > 0) & ((cash + mv - d_s) / mv < thr)
                np.logical_or(trig, sell[a:b], out=trig)
                if has_bad:
                    trig &= valid[a:b]
                hit = np.flatnonzero(trig)
                if len(hit):
                    j = a + int(hit[0])
                    # debt through the exit bar (inclusive)
                    if isinstance(d_s, np.ndarray):
                        debt_a[a : j + 1] = d_s[: j - a + 1]
                        debt = float(d_s[j - a])
                    else:
                        debt = fill_debt(a, j + 1, debt)
                    break
                if isinstance(d_s, np.ndarray):
                    debt_a[a:b] = d_s
                    debt = float(d_s[-1])
                else:
                    debt = fill_debt(a, b, debt)
                a = b
            if j >= n:
                i = n  # scan blocks already filled debt_a to the end
                break
            px = float(price[j])
            why = "signal" if sell[j] else "margin_call"
            close_out(j, px * sell_mult, why)
            debt_a[j] = debt
            seg_start.append(j)
            seg_qty.append(0.0)
            seg_cash.append(cash)
            i = j + 1

    # ---- tail: interest keeps accruing on any leftover debt
    if i < n:
        fill_debt(i, n, debt)

    # ---- one global vectorized output pass (the loop's per-bar
    # expressions, elementwise, in the loop's evaluation order)
    starts = np.asarray(seg_start + [n], dtype=np.int64)
    lens = np.diff(starts)
    qty_a = np.repeat(np.asarray(seg_qty, dtype=np.float64), lens)
    cash_a = np.repeat(np.asarray(seg_cash, dtype=np.float64), lens)
    value_a = qty_a * mark_all
    equity_a = cash_a + value_a
    np.subtract(equity_a, debt_a, out=equity_a)

    return (
        cash_a, qty_a, value_a, debt_a, equity_a,
        entry_t, entry_px, exit_qty, exit_px, pnl, pnl_pct, holding, reason,
    )


_SCHEMA_EXTRA = [
    StructField("cash", DoubleType()),
    StructField("quantity", DoubleType()),
    StructField("stock_value", DoubleType()),
    StructField("debt", DoubleType()),
    StructField("total_value", DoubleType()),
    StructField("entry_t", DoubleType()),
    StructField("entry_price", DoubleType()),
    StructField("exit_quantity", DoubleType()),
    StructField("exit_price", DoubleType()),
    StructField("pnl", DoubleType()),
    StructField("pnl_pct", DoubleType()),
    StructField("holding_days", DoubleType()),
    StructField("exit_reason", StringType()),
]


def margin_backtest(
    df: DataFrame,
    price: str = "close",
    buy: str = "buy",
    sell: str = "sell",
    params: MarginParams | None = None,
    partition_by: str = "symbol",
    order_by: str = "t",
) -> DataFrame:
    """Run the margin fold for every symbol in one distributed pass.

    Returns one row per input bar: (symbol, t, cash, quantity, stock_value,
    debt, total_value) with trade fields (entry_t, entry_price,
    exit_quantity, exit_price, pnl, pnl_pct, holding_days, exit_reason)
    non-null on exit bars."""
    p = params or MarginParams()
    schema = StructType(
        [
            StructField(partition_by, df.schema[partition_by].dataType),
            StructField(order_by, df.schema[order_by].dataType),
        ]
        + _SCHEMA_EXTRA
    )
    cols = [partition_by, order_by, price, buy, sell]

    def run_arrow(tbl):
        # the group table wraps the transferred batches; only the four fold
        # inputs enter numpy, and the key/order columns are re-emitted as
        # they arrived. Float outputs map NaN → null (the non-exit bars'
        # trade fields).
        tbl = sort_rows(tbl, [order_by])
        out = _fold(
            f64(tbl, order_by), f64(tbl, price), flags(tbl, buy), flags(tbl, sell), p
        )
        res = {
            partition_by: tbl.column(partition_by),
            order_by: tbl.column(order_by),
        }
        for field, arr in zip(_SCHEMA_EXTRA, out):
            if field.name == "exit_reason":
                res[field.name] = pa.array(arr, type=pa.string())
            else:
                res[field.name] = pa.array(arr, type=pa.float64(), from_pandas=True)
        return pa.table(res)

    return df.select(*cols).groupBy(partition_by).applyInArrow(run_arrow, schema=schema)


def daily_records(curve: DataFrame) -> DataFrame:
    """README.md:416-425: (symbol, t, cash, stock_value, total_value)."""
    return curve.select("symbol", "t", "cash", "stock_value", "total_value")


def position_records(curve: DataFrame) -> DataFrame:
    """README.md:436-449: one row per closed trade."""
    return curve.where(F.col("pnl").isNotNull()).select(
        "symbol",
        F.col("entry_t"),
        F.col("entry_price"),
        F.col("exit_quantity").alias("quantity"),
        F.col("t").alias("exit_t"),
        F.col("exit_price"),
        "pnl",
        "pnl_pct",
        F.col("holding_days").cast("long").alias("holding_days"),
        "exit_reason",
    )


def _value_metrics(port: DataFrame, value_col: str, benchmark: DataFrame | None) -> DataFrame:
    """Shared daily-metrics core over a (t, <value_col>) frame."""
    w = Window.orderBy("t")
    v = F.col(value_col)
    first = F.first(value_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    prev = F.lag(value_col).over(w)
    out = port.select(
        "t",
        value_col,
        (v - F.coalesce(prev, v)).alias("daily_pnl"),
        F.when(prev > 0, (v / prev - 1.0) * 100.0)
        .otherwise(F.lit(0.0))
        .alias("daily_return_pct"),
        (v - first).alias("cumulative_pnl"),
        ((v / first - 1.0) * 100.0).alias("cumulative_return_pct"),
    )
    if benchmark is None:
        return out
    bw = Window.orderBy("t")
    bench = benchmark.select(
        "t",
        F.when(
            F.lag("bench_price").over(bw) > 0,
            (F.col("bench_price") / F.lag("bench_price").over(bw) - 1.0) * 100.0,
        )
        .otherwise(F.lit(0.0))
        .alias("benchmark_return_pct"),
    )
    joined = out.join(bench, "t", "left").na.fill({"benchmark_return_pct": 0.0})
    joined = joined.withColumn(
        "alpha_pct", F.col("daily_return_pct") - F.col("benchmark_return_pct")
    )
    beta_row = joined.agg(
        (
            F.covar_samp("daily_return_pct", "benchmark_return_pct")
            / F.var_samp("benchmark_return_pct")
        ).alias("beta")
    )
    return joined.crossJoin(F.broadcast(beta_row)).withColumn(
        "relative_return_pct",
        F.sum("alpha_pct").over(bw.rowsBetween(Window.unboundedPreceding, 0)),
    )


def performance_metrics(curve: DataFrame, benchmark: DataFrame | None = None) -> DataFrame:
    """README.md:459-480: per-date portfolio value, daily/cumulative pnl and
    returns; with a benchmark (t, bench_price): per-date benchmark return,
    alpha, and the global beta = cov(ret, bench_ret)/var(bench_ret)."""
    port = curve.groupBy("t").agg(F.sum("total_value").alias("portfolio_value"))
    return _value_metrics(port, "portfolio_value", benchmark)


def stock_performance(
    curve: DataFrame, symbol: str, benchmark: DataFrame | None = None
) -> DataFrame:
    """README.md:552-590: the same daily metrics for ONE symbol's pool
    (stock_value = that symbol's total_value)."""
    port = (
        curve.where(F.col("symbol") == symbol)
        .select("t", F.col("total_value").alias("stock_value"))
    )
    out = _value_metrics(port, "stock_value", benchmark)
    return out.select(F.lit(symbol).alias("symbol"), "*")


class Backtest:
    """Wide-format front-end mirroring the reference constructor
    (README.md:350-366): ``prices``/``buy_signals``/``sell_signals`` are
    wide frames (first column = date, one column per symbol). Internally
    everything melts to the long layout — the shape that scales."""

    def __init__(
        self,
        prices: DataFrame,
        buy_signals: DataFrame,
        sell_signals: DataFrame,
        initial_capital: float = 100_000.0,
        position_size: float = 1.0,
        leverage: float = 1.0,
        margin_call_threshold: float = 0.3,
        interest_rate: float = 0.06,
        commission_rate: float = 3e-4,
        min_commission: float = 5.0,
        slippage: float = 0.0,
        benchmark: DataFrame | None = None,
    ) -> None:
        self.params = MarginParams(
            initial_capital=initial_capital,
            position_size=position_size,
            leverage=leverage,
            margin_call_threshold=margin_call_threshold,
            interest_rate=interest_rate,
            commission_rate=commission_rate,
            min_commission=min_commission,
            slippage=slippage,
        )
        date_col = prices.columns[0]
        symbols = prices.columns[1:]

        def melt(df: DataFrame, value_name: str) -> DataFrame:
            stacked = df.select(
                F.col(date_col).alias("t"),
                F.expr(
                    f"stack({len(symbols)}, "
                    + ", ".join(f"'{s}', `{s}`" for s in symbols)
                    + f") as (symbol, {value_name})"
                ),
            )
            return stacked.select("t", "symbol", value_name)

        long = (
            melt(prices, "close")
            .join(melt(buy_signals, "buy"), ["t", "symbol"])
            .join(melt(sell_signals, "sell"), ["t", "symbol"])
        )
        self._long = long
        if benchmark is not None:
            bcol = benchmark.columns[1]
            benchmark = benchmark.select(
                F.col(benchmark.columns[0]).alias("t"),
                F.col(bcol).alias("bench_price"),
            )
        self._benchmark = benchmark
        self._curve: DataFrame | None = None

    def run(self) -> None:
        self._curve = margin_backtest(self._long, params=self.params).cache()

    def _need(self) -> DataFrame:
        if self._curve is None:
            raise RuntimeError("call run() first")
        return self._curve

    def get_daily_records(self) -> DataFrame:
        return daily_records(self._need())

    def get_position_records(self) -> DataFrame:
        return position_records(self._need())

    def get_performance_metrics(self) -> DataFrame:
        return performance_metrics(self._need(), self._benchmark)

    # --- per-stock queries (README.md:552-641) ---

    def get_stock_daily(self, symbol: str) -> DataFrame:
        return daily_records(self._need()).where(F.col("symbol") == symbol)

    def get_stock_positions(self, symbol: str) -> DataFrame:
        return position_records(self._need()).where(F.col("symbol") == symbol)

    def get_stock_performance(self, symbol: str) -> DataFrame:
        return stock_performance(self._need(), symbol, self._benchmark)

    def get_stock_summary(self, symbol: str) -> str:
        """Formatted per-stock summary string (README.md:625-637)."""
        perf = self.get_stock_performance(symbol)
        agg = [
            F.count(F.lit(1)).alias("n_days"),
            F.avg("daily_pnl").alias("avg_daily_pnl"),
            F.max("daily_pnl").alias("max_daily_gain"),
            F.min("daily_pnl").alias("max_daily_loss"),
            # max_by, not last(): agg input order is not defined by orderBy
            F.max_by("cumulative_return_pct", "t").alias("total_return_pct"),
        ]
        if self._benchmark is not None:
            agg.append(F.max_by("beta", "t").alias("beta"))
        row = perf.agg(*agg).collect()[0]
        trades = self.get_stock_positions(symbol)
        n_trades = trades.count()
        wins = trades.where(F.col("pnl") > 0).count()
        lines = [
            f"=== {symbol} ===",
            f"days: {row['n_days']}",
            f"total return: {row['total_return_pct']:.2f}%",
            f"avg daily pnl: {row['avg_daily_pnl']:.2f}",
            f"max daily gain: {row['max_daily_gain']:.2f}",
            f"max daily loss: {row['max_daily_loss']:.2f}",
            f"trades: {n_trades}  wins: {wins}"
            + (f"  win rate: {wins / n_trades:.1%}" if n_trades else ""),
        ]
        if self._benchmark is not None:
            lines.append(f"beta: {row['beta']:.4f}")
        return "\n".join(lines)
