"""Vectorized backtester — per-symbol ordered fold, all symbols in one Spark
job.

Semantics of /root/reference/src/backtest/vectorized.rs:119-194 (SURVEY §2.6):
long-only single-asset signal replay —

* buy when ``buy && position == 0``: all-in at ``price + buy_slippage``,
  ``shares = floor(cash * position_size / fill_price)``; commission =
  ``max(rate * notional, min_commission)`` (vectorized.rs:154-155);
* sell when ``sell && position > 0``: everything at ``price − sell_slippage``,
  same commission rule; a win when net proceeds exceed the entry cost;
* NaN or ≤0 price rows freeze state (vectorized.rs:141-144);
* equity = cash + position·price, tracked with running peak and drawdown.

The reference runs one asset per call and (v0.x) a thread pool ≥4 assets
(README.md:402-407); here the fold is a numpy-backed kernel inside one
``groupBy(symbol).applyInArrow`` pass — one shuffle on symbol, every symbol
folds in parallel across executors, linear in bars.
"""

from __future__ import annotations

from dataclasses import dataclass
from bisect import bisect_left
from math import floor, isfinite, isnan

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from polars_quant_spark.operators.arrow_group import f64, flags, sort_rows


@dataclass
class BacktestParams:
    """Constructor knobs of vectorized.rs:37-66 / .pyi:20-49."""

    initial_capital: float = 100_000.0
    buy_slippage: float = 0.0
    sell_slippage: float = 0.0
    buy_commission_rate: float = 3e-4
    sell_commission_rate: float = 3e-4
    min_commission: float = 5.0
    position_size: float = 1.0
    # Risk exits beyond the reference surface (README.md:350-366 sketches a
    # richer v0.x Backtest; the snapshot has neither): fractional drawdown /
    # run-up from the ENTRY FILL price that forces an exit at that bar's
    # close. None disables. Evaluated before signals: an exit fires even on
    # a buy-signal bar.
    stop_loss: float | None = None
    take_profit: float | None = None
    # trailing stop: fractional drawdown from the highest price seen SINCE
    # ENTRY (the entry fill seeds the high-water mark) that forces an exit
    # at that bar's close. Composable with stop_loss/take_profit.
    trailing_stop: float | None = None


#: the fold's full carried state, in the order of the segmented passes'
#: state array (see ``segmented.backtest_segmented``): position, cash,
#: running peak, entry cost, entry fill price, last valid price, trade
#: count, win count, and the trailing-stop high-water mark. Every element
#: is a scalar, which is what makes the fold segmentable with bit-equality.
FoldState = tuple[
    float, float, float, float, float, float, int, int, float
]


def _fold_state_loop(
    price: np.ndarray,
    buy: np.ndarray,
    sell: np.ndarray,
    p: BacktestParams,
    state: FoldState | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, FoldState]:
    """The sequential fold of vectorized.rs:124-194, resumable: ``state``
    is the carried accumulator tuple (None = fresh start, the kernel's own
    seeding). Returns per-bar (position, cash, equity, drawdown) plus the
    end-of-input state — a strict left fold, so resuming from the carried
    state replays identical float ops in identical order (the
    ``ewma_segmented`` exactness argument).

    This per-bar Python loop is the EXECUTABLE SPEC; the production
    kernel is the event-driven ``_fold_state`` below (VERDICT r11 #4),
    which tests/test_backtest_eventfold.py pins bit-equal to this one."""
    n = price.shape[0]
    position = np.zeros(n)
    cash_arr = np.zeros(n)
    equity_arr = np.zeros(n)
    dd_arr = np.zeros(n)

    if state is None:
        pos = 0.0
        cash = p.initial_capital
        peak = p.initial_capital
        entry_cost = 0.0
        entry_px = 0.0
        last_price = float("nan")
        trades = 0
        wins = 0
    else:
        (pos, cash, peak, entry_cost, entry_px, last_price, trades, wins,
         _hwm0) = state
    # multipliers precomputed ONCE so the boundary compare uses the same
    # double the SQL twin inlines (1-sl recomputed per bar could differ by
    # an ulp from a literal)
    sl_mult = None if p.stop_loss is None else 1.0 - p.stop_loss
    tp_mult = None if p.take_profit is None else 1.0 + p.take_profit
    ts_mult = None if p.trailing_stop is None else 1.0 - p.trailing_stop
    hwm = 0.0 if state is None else _hwm0

    for i in range(n):
        px = price[i]
        # non-finite prices are FROZEN bars, like NaN/non-positive ones
        # (ADVICE r12): a +inf px previously passed the isnan/<=0 check,
        # and pos=0 equity then evaluated 0.0*inf = NaN, after which the
        # two kernels' peak carries diverge (Python max(peak, nan) keeps
        # peak; np.maximum.accumulate propagates the NaN)
        frozen = not isfinite(px) or px <= 0.0
        if not frozen:
            last_price = px
            if pos > 0.0 and px > hwm:
                hwm = px
            exit_now = pos > 0.0 and (
                sell[i]
                or (sl_mult is not None and px <= entry_px * sl_mult)
                or (tp_mult is not None and px >= entry_px * tp_mult)
                or (ts_mult is not None and px <= hwm * ts_mult)
            )
            if exit_now:
                fill = px - p.sell_slippage
                proceeds = pos * fill
                fee = max(p.sell_commission_rate * proceeds, p.min_commission)
                cash += proceeds - fee
                trades += 1
                if proceeds - fee > entry_cost:
                    wins += 1
                pos = 0.0
                entry_cost = 0.0
                entry_px = 0.0
                hwm = 0.0
            elif buy[i] and pos == 0.0:
                fill = px + p.buy_slippage
                if fill > 0:
                    shares = floor(cash * p.position_size / fill)
                    # downsize until the commission also fits in cash
                    while shares > 0:
                        notional = shares * fill
                        fee = max(p.buy_commission_rate * notional, p.min_commission)
                        if notional + fee <= cash:
                            break
                        shares -= 1
                    if shares > 0:
                        cash -= notional + fee
                        pos = float(shares)
                        entry_cost = notional + fee
                        entry_px = fill
                        hwm = fill
        mark = last_price if not isnan(last_price) else 0.0
        eq = cash + pos * mark
        peak = max(peak, eq)
        position[i] = pos
        cash_arr[i] = cash
        equity_arr[i] = eq
        dd_arr[i] = (peak - eq) / peak if peak > 0 else 0.0

    return position, cash_arr, equity_arr, dd_arr, (
        pos, cash, peak, entry_cost, entry_px, last_price, trades, wins, hwm
    )


#: in-position exit scans grow their block geometrically per stretch
#: (start small, ×4 per miss, capped): short stretches — the dense-signal
#: regime — waste at most ~3 small blocks past the exit bar, while long
#: no-signal stretches reach full-vector throughput after a few misses.
#: A fixed block was measurably wrong at both ends (16 384-wide scans for
#: ~170-bar stretches left only 1.2× over the loop).
_EVENT_BLOCK0 = 512
_EVENT_BLOCK_MAX = 1 << 21


def _fold_state(
    price: np.ndarray,
    buy: np.ndarray,
    sell: np.ndarray,
    p: BacktestParams,
    state: FoldState | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, FoldState]:
    """Event-driven fold: bit-identical to ``_fold_state_loop`` but the
    per-bar Python loop only runs ACROSS state-changing events
    (VERDICT r11 #4 — the loop was the per-core ceiling at ~0.5 M bars/s).

    The key decomposition: (position, cash, trades, wins) transitions
    depend only on prices AT event bars plus the commission rules — never
    on equity or its peak — so the fold splits into

    1. a scalar EVENT WALK that locates each state change and records the
       piecewise-constant (start, position, cash) segments. Flat
       stretches jump straight to the next valid buy bar (precomputed
       index + searchsorted); in-position stretches jump to the next
       valid sell bar the same way when no stop is configured, else run
       a geometrically-growing chunked scan of the exit-trigger mask
       (sell, stop, take-profit, trailing — pure comparisons against the
       SAME scalars/arrays the loop compares, with the trailing hwm a
       seeded running max over valid prices, so the first True index IS
       the loop's exit bar);
    2. ONE global vectorized pass: np.repeat expands the segments to
       per-bar position/cash, then ``equity = cash + pos·mark`` (mark =
       the loop's ``last_price`` carry: the price itself on valid bars,
       the previous valid price on frozen ones), ``peak = seeded running
       max of equity``, ``drawdown = (peak−eq)/peak`` — each the
       identical elementwise IEEE-754 double op the loop executes bar by
       bar (adds, multiplies, divides; max exact; + commutes bitwise),
       so outputs are bitwise equal, not approximately equal.

    Allocation discipline matters as much as op count: inside a
    grouped kernel every call touches fresh pages, and first-touch page
    faults on 160 MB-class temporaries dominated an earlier draft (22 s
    cold vs 6.9 s warm at 20 M bars). The common no-frozen-bars corpus
    therefore ALIASES mark to ``price`` (zero copies), skips the
    last-valid-index scaffolding entirely, and phase 2 runs in-place
    (multiply→add→accumulate→subtract→divide, one output buffer each);
    frozen bars, when present, are patched individually (searchsorted
    into the valid-bar index — O(n_bad·log n), not an O(n) gather).

    The buy/sell fills themselves (slippage, commission, the
    share-downsizing loop) stay scalar per event — unchanged code.
    ``tests/test_backtest_eventfold.py`` pins bit-equality against the
    spec loop across randomized scenarios including NaN/≤0 freezes,
    stop/take-profit/trailing exits, and resume-from-state."""
    n = price.shape[0]

    if state is None:
        pos = 0.0
        cash = p.initial_capital
        peak = p.initial_capital
        entry_cost = 0.0
        entry_px = 0.0
        last_price = float("nan")
        trades = 0
        wins = 0
        hwm = 0.0
    else:
        (pos, cash, peak, entry_cost, entry_px, last_price, trades, wins,
         hwm) = state
    sl_mult = None if p.stop_loss is None else 1.0 - p.stop_loss
    tp_mult = None if p.take_profit is None else 1.0 + p.take_profit
    ts_mult = None if p.trailing_stop is None else 1.0 - p.trailing_stop

    if n == 0:
        z = np.zeros(0)
        return z, z.copy(), z.copy(), z.copy(), (
            pos, cash, peak, entry_cost, entry_px, last_price, trades, wins,
            hwm,
        )

    # two O(n) reductions instead of three O(n) mask passes: min() is NaN
    # iff any price is NaN, min <= 0 iff any price is <= 0, and (min
    # being finite/positive) max() is +inf iff any price is +inf — the
    # third frozen class (ADVICE r12), matching the loop's isfinite check
    mn = float(np.min(price))
    has_bad = isnan(mn) or mn <= 0.0 or float(np.max(price)) == float("inf")
    if has_bad:
        # ~isfinite covers NaN and ±inf in one pass (-inf also trips the
        # <= 0 arm; +inf only this one)
        bad = ~np.isfinite(price)
        np.logical_or(bad, price <= 0.0, out=bad)
        valid = ~bad
        good_idx = np.flatnonzero(valid)
        # mark[k] = the loop's last_price carry at bar k: patch ONLY the
        # frozen bars (previous valid price via searchsorted, the seed
        # before the first valid bar), alias everywhere else
        seed_mark = last_price if not isnan(last_price) else 0.0
        mark_all = price.copy()
        bidx = np.flatnonzero(bad)
        if len(good_idx):
            pv = np.searchsorted(good_idx, bidx) - 1
            mark_all[bidx] = np.where(
                pv >= 0, price[good_idx[np.maximum(pv, 0)]], seed_mark
            )
        else:
            mark_all[bidx] = seed_mark
        buy_idx = np.flatnonzero(buy & valid)
    else:
        valid = None
        good_idx = None
        mark_all = price  # alias — no copy, no faults
        buy_idx = np.flatnonzero(buy)
    use_scan = not (sl_mult is None and tp_mult is None and ts_mult is None)
    # rolling-pointer bisect over plain Python lists: candidate indices
    # only move forward, and bisect_left(lo=ptr) is ~4x cheaper per event
    # than an np.searchsorted round-trip (no array boxing) — the dense-
    # signal regime is walk-bound, not fill-bound
    buy_list = buy_idx.tolist()
    n_buy = len(buy_list)
    bp = 0
    if not use_scan:
        sell_idx = np.flatnonzero(sell & valid) if has_bad else np.flatnonzero(sell)
        sell_list = sell_idx.tolist()
        n_sell = len(sell_list)
        sp = 0
    track_hwm = ts_mult is not None
    # hwm is part of the carried FoldState even without a trailing stop;
    # when not tracked incrementally it is recomputed lazily at the end
    # for a still-open position: max(valid px) from hwm_anchor on.
    hwm_anchor = 0 if pos > 0.0 else n

    seg_start = [0]
    seg_pos = [pos]
    seg_cash = [cash]

    i = 0
    while i < n:
        if pos == 0.0:
            # ---- flat: jump to the next valid buy bar
            bp = bisect_left(buy_list, i, bp)
            if bp >= n_buy:
                break
            j = buy_list[bp]
            px = float(price[j])
            fill = px + p.buy_slippage
            if fill > 0:
                shares = floor(cash * p.position_size / fill)
                # downsize until the commission also fits in cash
                while shares > 0:
                    notional = shares * fill
                    fee = max(p.buy_commission_rate * notional, p.min_commission)
                    if notional + fee <= cash:
                        break
                    shares -= 1
                if shares > 0:
                    cash -= notional + fee
                    pos = float(shares)
                    entry_cost = notional + fee
                    entry_px = fill
                    hwm = fill
                    hwm_anchor = j + 1
                    seg_start.append(j)
                    seg_pos.append(pos)
                    seg_cash.append(cash)
            i = j + 1
        else:
            # ---- in position: locate the exit bar
            if not use_scan:
                sp = bisect_left(sell_list, i, sp)
                j = sell_list[sp] if sp < n_sell else n
            else:
                j = n
                a = i
                block = _EVENT_BLOCK0
                while a < n:
                    b = min(a + block, n)
                    block = min(block * 4, _EVENT_BLOCK_MAX)
                    px_s = price[a:b]
                    if track_hwm:
                        if has_bad:
                            hwm_s = np.maximum.accumulate(
                                np.where(valid[a:b], px_s, -np.inf)
                            )
                        else:
                            hwm_s = np.maximum.accumulate(px_s)
                        np.maximum(hwm_s, hwm, out=hwm_s)
                    trig = sell[a:b].copy()
                    if sl_mult is not None:
                        trig |= px_s <= entry_px * sl_mult
                    if tp_mult is not None:
                        trig |= px_s >= entry_px * tp_mult
                    if ts_mult is not None:
                        trig |= px_s <= hwm_s * ts_mult
                    if has_bad:
                        trig &= valid[a:b]
                    hit = np.flatnonzero(trig)
                    if len(hit):
                        j = a + int(hit[0])
                        break
                    if track_hwm:
                        hj = hwm_s[-1]
                        if hj > hwm:
                            hwm = float(hj)
                    a = b
            if j >= n:
                break
            # ---- exit event bar (valid by construction). The loop also
            # maxes px[j] into hwm first, but hwm is reset to 0 two lines
            # later, so the update is dead — skipped.
            px = float(price[j])
            fill = px - p.sell_slippage
            proceeds = pos * fill
            fee = max(p.sell_commission_rate * proceeds, p.min_commission)
            cash += proceeds - fee
            trades += 1
            if proceeds - fee > entry_cost:
                wins += 1
            pos = 0.0
            entry_cost = 0.0
            entry_px = 0.0
            hwm = 0.0
            hwm_anchor = n
            seg_start.append(j)
            seg_pos.append(0.0)
            seg_cash.append(cash)
            i = j + 1

    # ---- carried scalars at end of input
    if has_bad:
        if len(good_idx):
            last_price = float(price[good_idx[-1]])
    else:
        last_price = float(price[n - 1])
    if pos > 0.0 and not track_hwm and hwm_anchor < n:
        tail = price[hwm_anchor:]
        if has_bad:
            tv = valid[hwm_anchor:]
            m = float(np.max(np.where(tv, tail, -np.inf))) if tv.any() else -np.inf
        else:
            m = float(np.max(tail))
        if m > hwm:
            hwm = m

    # ---- one global vectorized output pass (in-place where possible)
    starts = np.asarray(seg_start + [n], dtype=np.int64)
    lens = np.diff(starts)
    position = np.repeat(np.asarray(seg_pos, dtype=np.float64), lens)
    cash_arr = np.repeat(np.asarray(seg_cash, dtype=np.float64), lens)
    # the loop computes cash + pos*mark; + commutes bitwise in IEEE-754,
    # so (pos*mark) + cash is the identical double
    equity_arr = position * mark_all
    np.add(equity_arr, cash_arr, out=equity_arr)
    peak_arr = np.maximum.accumulate(equity_arr)
    np.maximum(peak_arr, peak, out=peak_arr)
    dd_arr = np.subtract(peak_arr, equity_arr)
    with np.errstate(divide="ignore", invalid="ignore"):
        np.divide(dd_arr, peak_arr, out=dd_arr)
    # peak_arr is non-decreasing: a non-positive peak exists iff the FIRST
    # element is non-positive — scalar check instead of an O(n) mask
    if float(peak_arr[0]) <= 0:
        nonpos = peak_arr <= 0
        dd_arr[nonpos] = 0.0
    peak = float(peak_arr[-1])

    return position, cash_arr, equity_arr, dd_arr, (
        pos, cash, peak, entry_cost, entry_px, last_price, trades, wins, hwm
    )

def _fold(
    price: np.ndarray,
    buy: np.ndarray,
    sell: np.ndarray,
    p: BacktestParams,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, int, int]:
    """The original whole-symbol entry point: per-bar arrays plus the
    final (n_trades, n_wins). Same code path as ``_fold_state`` (it IS
    ``_fold_state`` with no carried state), so outputs are unchanged."""
    position, cash_arr, equity_arr, dd_arr, st = _fold_state(price, buy, sell, p)
    return position, cash_arr, equity_arr, dd_arr, st[6], st[7]


def vectorized_backtest(
    df: DataFrame,
    price: str = "close",
    buy: str = "buy",
    sell: str = "sell",
    params: BacktestParams | None = None,
    partition_by: str = "symbol",
    order_by: str = "t",
) -> DataFrame:
    """Run the fold for every symbol in one distributed pass.

    Returns the input rows + ``position, cash, equity, drawdown, n_trades,
    n_wins`` (the trade counters are repeated per row for downstream aggs —
    they're per-symbol scalars).

    The group arrives as a ``pyarrow.Table`` (``applyInArrow``): the
    worker extracts ONLY the three fold inputs to numpy (price null → NaN,
    signal null → False), runs ``_fold``, and appends the six outputs as
    Arrow arrays wrapping the kernel's numpy buffers. Passthrough columns
    are never materialized in Python — the 1024x A/B against the old
    pandas-frame path measured 1.76x on the mean at 12 columns, with the
    gap growing with frame width. Rows sort stably by ``order_by`` (see
    ``arrow_group.sort_rows`` for the tie caveat)."""
    p = params or BacktestParams()
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    schema = StructType(
        df.schema.fields
        + [
            StructField("position", DoubleType()),
            StructField("cash", DoubleType()),
            StructField("equity", DoubleType()),
            StructField("drawdown", DoubleType()),
            StructField("n_trades", LongType()),
            StructField("n_wins", LongType()),
        ]
    )

    def run(tbl: pa.Table) -> pa.Table:
        tbl = sort_rows(tbl, order)
        n = tbl.num_rows
        pos, cash, eq, dd, trades, wins = _fold(
            f64(tbl, price), flags(tbl, buy), flags(tbl, sell), p
        )
        return tbl.append_column(
            "position", pa.array(pos, type=pa.float64())
        ).append_column(
            "cash", pa.array(cash, type=pa.float64())
        ).append_column(
            "equity", pa.array(eq, type=pa.float64())
        ).append_column(
            "drawdown", pa.array(dd, type=pa.float64())
        ).append_column(
            "n_trades", pa.array(np.full(n, trades, dtype="int64"))
        ).append_column(
            "n_wins", pa.array(np.full(n, wins, dtype="int64"))
        )

    return df.groupBy(*keys).applyInArrow(run, schema=schema)


#: dispatch boundary for ``auto_backtest``: above this many rows in ONE
#: key's history, the whole-symbol group (~50 B/row across inputs +
#: the four output arrays) enters the multi-GB regime where the round-11
#: 1024x measurement showed memory pressure turning the fold superlinear
#: (docs/SCALE.md: 123 M-row symbols ran 249.5 s plain at 8 GB but the
#: pre-fold sort OOM'd under the x4-combo sweep); below it the segmented
#: passes' sequential-job overhead is pure loss (measured 3.5x wall).
AUTO_BACKTEST_THRESHOLD = 20_000_000


def auto_backtest(
    df: DataFrame,
    price: str = "close",
    buy: str = "buy",
    sell: str = "sell",
    params: BacktestParams | None = None,
    partition_by: str = "symbol",
    order_by: str = "t",
    threshold: int = AUTO_BACKTEST_THRESHOLD,
    max_rows_per_key: int | None = None,
    segment_rows: int = 8_000_000,
) -> DataFrame:
    """Size-dispatching front door for the backtest fold: the plain
    one-group-per-symbol ``vectorized_backtest`` while every
    symbol's history fits comfortably in executor memory, the
    memory-bounded ``segmented.backtest_segmented`` when any symbol
    exceeds ``threshold`` rows (the ``auto_chunk_windows`` discipline,
    applied to the fold family the round-11 1024x measurement flagged).

    ``max_rows_per_key``: pass the known per-symbol row bound (table
    stats, the loader's grid size) to keep dispatch plan-time-only; when
    None, one lightweight count-by-key job measures it. Unlike
    auto_chunk_windows there is NO dense-order contract to validate:
    both arms order by ``order_by`` with their own row_number, so any
    orderable column is fine.

    Mixed corpora are SPLIT, not all-or-nothing (VERDICT r11 #5): when
    the probe runs and finds both regimes, only the oversized keys ride
    the sequential segmented passes; every other symbol keeps the
    one-job plain fold, and the two arms union back by name. The big-key
    list is bounded by total_rows/threshold (at the 20 M default, ≤50
    keys per billion rows), so collecting it and broadcasting the
    semi/anti split is scale-safe. A caller-supplied ``max_rows_per_key``
    keeps the old plan-time-only whole-corpus dispatch (no probe, no
    per-key information to split on).

    Both arms are bit-identical (tests/test_segmented.py's
    backtest_segmented suite), so the dispatch — and the split — only
    moves the work, never the answer.

    ``partition_by`` must be a single column name (str, or a one-element
    list which is normalized): the segmented arm's join-back and totals
    join assume one key column, and a multi-key caller would get a
    working plain arm below ``threshold`` and an opaque crash above it
    (ADVICE r11). Multi-key folds: call ``vectorized_backtest`` directly
    (it accepts a key list) or pre-concatenate the keys.

    A NULL key is one more symbol on either arm: both group on the key
    natively, and the segmented arm's joins and the split are null-safe.
    A bad ``segment_rows`` raises before the probe job."""
    from polars_quant_spark.operators.segmented import (
        _check_segment_rows,
        backtest_segmented,
    )

    _check_segment_rows(segment_rows)
    if not isinstance(partition_by, str):
        keys = list(partition_by)
        if len(keys) != 1:
            raise ValueError(
                "auto_backtest requires a single partition_by column (the "
                f"segmented arm is single-key); got {keys!r}. Use "
                "vectorized_backtest directly for multi-key folds, or "
                "concatenate the keys into one column."
            )
        partition_by = keys[0]
    args = (price, buy, sell, params, partition_by, order_by)
    if max_rows_per_key is not None:
        if max_rows_per_key <= threshold:
            return vectorized_backtest(df, *args)
        return backtest_segmented(df, *args, segment_rows)
    # one probe job: the bounded oversized-key list + the key census in a
    # single aggregate (collect_list drops the when()-nulls, so only keys
    # above threshold land on the driver — ≤ total_rows/threshold of them).
    # Each key is collected inside a struct, which is never null, so an
    # oversized NULL key is listed too.
    counts = df.groupBy(partition_by).agg(F.count(F.lit(1)).alias("_n"))
    stats = counts.select(
        F.collect_list(
            F.when(F.col("_n") > threshold, F.struct(partition_by))
        ).alias("big"),
        F.count(F.lit(1)).alias("nkeys"),
    ).first()
    big = stats["big"]
    if not big:
        return vectorized_backtest(df, *args)
    if len(big) == stats["nkeys"]:
        return backtest_segmented(df, *args, segment_rows)
    # mixed corpus: split by key — oversized symbols pay the sequential
    # passes, everyone else stays on the one-job fold
    spark = df.sparkSession
    big_keys = F.broadcast(
        spark.createDataFrame(
            [(row[0],) for row in big],
            StructType([StructField("_pk", df.schema[partition_by].dataType)]),
        )
    )
    on = F.col(partition_by).eqNullSafe(F.col("_pk"))
    plain = vectorized_backtest(df.join(big_keys, on, "left_anti"), *args)
    seg = backtest_segmented(df.join(big_keys, on, "left_semi"), *args, segment_rows)
    return plain.unionByName(seg)
