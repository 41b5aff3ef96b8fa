"""Margin/leverage backtester micro-scenarios (README.md:350-500 roadmap
surface): leverage sizing with round lots, debt + daily interest accrual,
margin-call forced liquidation, commission floor, pnl bookkeeping, the
wide-format Backtest front-end, and benchmark alpha/beta."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from polars_quant_spark.backtest.margin import (
    LOT,
    TRADING_DAYS,
    Backtest,
    MarginParams,
    _fold,
    margin_backtest,
    performance_metrics,
    position_records,
)


def arr(*xs):
    return np.array(xs, dtype=float)


def run(price, buy, sell, **kw):
    p = MarginParams(**kw)
    t = np.arange(len(price), dtype=float)
    return _fold(t, arr(*price), np.array(buy), np.array(sell), p), p


ZERO_FEES = dict(commission_rate=0.0, min_commission=0.0)


class TestMarginFold:
    def test_no_leverage_round_lot(self):
        (cash, qty, value, debt, eq, *_), _ = run(
            [10, 10, 10], [True, False, False], [False, False, False],
            initial_capital=1_000.0, leverage=1.0, **ZERO_FEES,
        )
        # power = 1000 → exactly one lot of 100 @ 10
        assert qty[0] == LOT
        assert cash[0] == 0.0 and debt[0] == 0.0
        assert eq[0] == 1_000.0

    def test_leverage_borrows_the_excess(self):
        (cash, qty, value, debt, eq, *_), _ = run(
            [10, 10], [True, False], [False, False],
            initial_capital=1_000.0, leverage=2.0, **ZERO_FEES,
        )
        # power = 2000 → 200 shares; spend 2000, own 1000, borrow 1000
        assert qty[0] == 2 * LOT
        assert cash[0] == 0.0
        assert debt[0] == pytest.approx(1_000.0)
        # equity unchanged by the borrow itself
        assert eq[0] == pytest.approx(1_000.0)

    def test_interest_accrues_daily_on_debt(self):
        (cash, qty, value, debt, eq, *_), p = run(
            [10, 10, 10], [True, False, False], [False] * 3,
            initial_capital=1_000.0, leverage=2.0, interest_rate=0.06,
            **ZERO_FEES,
        )
        r = 0.06 / TRADING_DAYS
        assert debt[1] == pytest.approx(1_000.0 * (1 + r))
        assert debt[2] == pytest.approx(1_000.0 * (1 + r) ** 2)
        assert eq[2] == pytest.approx(1_000.0 + 2_000.0 - debt[2] - 1_000.0)

    def test_sell_repays_debt_first(self):
        (cash, qty, value, debt, eq, e_t, e_px, x_qty, x_px, pnl, pnl_pct, hold, why), _ = run(
            [10, 20], [True, False], [False, True],
            initial_capital=1_000.0, leverage=2.0, interest_rate=0.0,
            **ZERO_FEES,
        )
        # 200 @ 10 borrowed 1000; sell 200 @ 20 = 4000 → repay 1000, cash 3000
        assert debt[1] == 0.0
        assert cash[1] == pytest.approx(3_000.0)
        assert pnl[1] == pytest.approx(4_000.0 - 2_000.0)
        assert pnl_pct[1] == pytest.approx(1.0)
        assert why[1] == "signal"

    def test_margin_call_liquidates(self):
        # entry at 10 with 2x: 200 shares, debt 1000, equity 1000.
        # at px=6: mv=1200, equity = 0 + 1200 − 1000 = 200, ratio 0.167 < 0.3
        (cash, qty, value, debt, eq, e_t, e_px, x_qty, x_px, pnl, pnl_pct, hold, why), _ = run(
            [10, 6, 6], [True, False, False], [False] * 3,
            initial_capital=1_000.0, leverage=2.0, interest_rate=0.0,
            margin_call_threshold=0.3, **ZERO_FEES,
        )
        assert why[1] == "margin_call"
        assert qty[1] == 0.0 and debt[1] == 0.0
        assert cash[1] == pytest.approx(1_200.0 - 1_000.0)
        assert pnl[1] == pytest.approx(1_200.0 - 2_000.0)

    def test_no_margin_call_above_threshold(self):
        # at px=8: mv=1600, equity 600, ratio 0.375 ≥ 0.3 → hold
        (cash, qty, *_), _ = run(
            [10, 8], [True, False], [False, False],
            initial_capital=1_000.0, leverage=2.0, interest_rate=0.0,
            margin_call_threshold=0.3, **ZERO_FEES,
        )
        assert qty[1] == 2 * LOT

    def test_commission_floor_and_downsizing(self):
        # fee floor forces the lot count down when notional+fee > power
        (cash, qty, value, debt, eq, *_), _ = run(
            [10, 10], [True, False], [False, False],
            initial_capital=1_001.0, leverage=1.0,
            commission_rate=0.0, min_commission=5.0,
        )
        # 1 lot = 1000 + 5 fee = 1005 ≤ 1001? no → 0 lots
        assert qty[0] == 0.0
        assert cash[0] == pytest.approx(1_001.0)

    def test_nan_price_freezes(self):
        (cash, qty, value, debt, eq, *_), _ = run(
            [10, float("nan"), 10], [True, True, False], [False] * 3,
            initial_capital=1_000.0, leverage=2.0, interest_rate=0.06,
            **ZERO_FEES,
        )
        r = 0.06 / TRADING_DAYS
        # NaN bar: no interest, no fills; next valid bar accrues once
        assert debt[1] == pytest.approx(1_000.0)
        assert debt[2] == pytest.approx(1_000.0 * (1 + r))


class TestMarginSpark:
    def test_distributed_matches_fold(self, spark):
        rng = np.random.default_rng(7)
        rows = []
        for s in ("A", "B"):
            px = 100.0 + np.cumsum(rng.normal(0, 1, 120))
            for i in range(120):
                rows.append((s, i, float(px[i]), i % 17 == 3, i % 23 == 11))
        pdf = pd.DataFrame(rows, columns=["symbol", "t", "close", "buy", "sell"])
        df = spark.createDataFrame(pdf)
        p = MarginParams(leverage=2.0)
        curve = margin_backtest(df, params=p).orderBy("symbol", "t").toPandas()
        for s in ("A", "B"):
            g = pdf[pdf.symbol == s]
            want = _fold(
                g.t.to_numpy(dtype=float), g.close.to_numpy(),
                g.buy.to_numpy(), g.sell.to_numpy(), p,
            )
            got = curve[curve.symbol == s]
            np.testing.assert_allclose(got.total_value.to_numpy(), want[4], rtol=1e-12)
            np.testing.assert_allclose(got.debt.to_numpy(), want[3], rtol=1e-12)

    def test_wide_backtest_end_to_end(self, spark):
        dates = list(range(5))
        prices = spark.createDataFrame(
            pd.DataFrame({"date": dates, "AAA": [10, 12, 14, 13, 15],
                          "BBB": [50, 49, 48, 50, 52]})
        )
        buys = spark.createDataFrame(
            pd.DataFrame({"date": dates, "AAA": [True, False, False, False, False],
                          "BBB": [False, True, False, False, False]})
        )
        sells = spark.createDataFrame(
            pd.DataFrame({"date": dates, "AAA": [False, False, False, False, True],
                          "BBB": [False, False, False, False, True]})
        )
        bench = spark.createDataFrame(
            pd.DataFrame({"date": dates, "SH000001": [100.0, 101.0, 102.0, 101.0, 103.0]})
        )
        bt = Backtest(prices, buys, sells, initial_capital=10_000.0,
                      leverage=1.0, commission_rate=0.0, min_commission=0.0,
                      benchmark=bench)
        bt.run()
        daily = bt.get_daily_records().orderBy("symbol", "t").toPandas()
        assert set(daily.columns) == {"symbol", "t", "cash", "stock_value", "total_value"}
        assert len(daily) == 10
        pos = bt.get_position_records().toPandas()
        # AAA: 900 shares? power 10000/10 = 1000 → 10 lots @10, exit @15
        a = pos[pos.symbol == "AAA"].iloc[0]
        assert a.quantity == 1000
        assert a.pnl == pytest.approx(1000 * 15 - 1000 * 10)
        met = bt.get_performance_metrics().orderBy("t").toPandas()
        assert "beta" in met.columns and "alpha_pct" in met.columns
        assert met.portfolio_value.iloc[0] == pytest.approx(20_000.0)

    def test_per_stock_queries(self, spark):
        dates = list(range(5))
        prices = spark.createDataFrame(
            pd.DataFrame({"date": dates, "AAA": [10, 12, 14, 13, 15],
                          "BBB": [50, 49, 48, 50, 52]})
        )
        buys = spark.createDataFrame(
            pd.DataFrame({"date": dates, "AAA": [True] + [False] * 4,
                          "BBB": [False, True, False, False, False]})
        )
        sells = spark.createDataFrame(
            pd.DataFrame({"date": dates, "AAA": [False] * 4 + [True],
                          "BBB": [False] * 4 + [True]})
        )
        bench = spark.createDataFrame(
            pd.DataFrame({"date": dates, "IX": [100.0, 101.0, 102.0, 101.0, 103.0]})
        )
        bt = Backtest(prices, buys, sells, initial_capital=10_000.0,
                      commission_rate=0.0, min_commission=0.0, benchmark=bench)
        bt.run()
        daily = bt.get_stock_daily("AAA").toPandas()
        assert set(daily.symbol) == {"AAA"} and len(daily) == 5
        perf = bt.get_stock_performance("AAA").orderBy("t").toPandas()
        assert "stock_value" in perf.columns and "alpha_pct" in perf.columns
        # AAA: 1000 shares from 10 -> 15 = +50% on 10k
        assert perf.cumulative_return_pct.iloc[-1] == pytest.approx(50.0)
        s = bt.get_stock_summary("AAA")
        assert "AAA" in s and "total return: 50.00%" in s and "beta" in s
        pos = bt.get_stock_positions("BBB").toPandas()
        assert len(pos) == 1 and pos.iloc[0].exit_reason == "signal"

    def test_per_symbol_pools_independent(self, spark):
        pdf = pd.DataFrame(
            [("A", 0, 10.0, True, False), ("A", 1, 0.0, False, False),
             ("B", 0, 10.0, True, False), ("B", 1, 20.0, False, True)],
            columns=["symbol", "t", "close", "buy", "sell"],
        )
        df = spark.createDataFrame(pdf)
        curve = margin_backtest(
            df, params=MarginParams(initial_capital=1_000.0, commission_rate=0.0,
                                    min_commission=0.0)
        )
        pos = position_records(curve).toPandas()
        assert set(pos.symbol) == {"B"}


class TestEventFoldBitEquality:
    """The event-driven kernel (_fold_events, optimization round 13) must
    be BIT-EQUAL to the per-bar reference loop (_fold_loop) — same scalar
    event code, interest via multiply.accumulate in the loop's op order,
    margin-call scan comparing the loop's exact doubles."""

    @staticmethod
    def _compare(t, px, b, s, p, label):
        from polars_quant_spark.backtest.margin import _fold_events, _fold_loop

        want = _fold_loop(t, px, b, s, p)
        got = _fold_events(t, px, b, s, p)
        for k, (w, g) in enumerate(zip(want, got)):
            if k == 12:  # exit_reason strings
                assert w == g, f"{label}: reason mismatch"
            else:
                wa, ga = np.asarray(w), np.asarray(g)
                eq = (wa == ga) | (np.isnan(wa) & np.isnan(ga))
                assert eq.all(), (
                    f"{label}: output {k} differs at rows "
                    f"{np.flatnonzero(~eq)[:5]}"
                )

    def test_randomized_grid(self):
        """Param grid × signal densities × NaN/zero/negative price freezes,
        including leverage+interest (debt compounding), forced margin
        calls, zero fees, fractional position size, and 1-bar series."""
        rng = np.random.default_rng(3)
        params = [
            MarginParams(),
            MarginParams(leverage=3.0, interest_rate=0.08, margin_call_threshold=0.25),
            MarginParams(leverage=5.0, interest_rate=0.12, margin_call_threshold=0.4, slippage=0.01),
            MarginParams(leverage=2.0, interest_rate=0.0),
            MarginParams(leverage=10.0, interest_rate=0.5, margin_call_threshold=0.9),
            MarginParams(leverage=4.0, interest_rate=0.08, **ZERO_FEES),
            MarginParams(leverage=3.0, interest_rate=0.08, position_size=0.5),
        ]
        for pi, p in enumerate(params):
            for n, dens, vol in [
                (5000, 0.02, 0.02),
                (3000, 0.3, 0.05),
                (50, 0.5, 0.1),
                (1, 1.0, 0.1),
                (4000, 0.001, 0.03),
            ]:
                px = 100.0 * np.exp(np.cumsum(rng.normal(0, vol, n)))
                px[rng.random(n) < 0.05] = np.nan
                px[rng.random(n) < 0.02] = 0.0
                px[rng.random(n) < 0.01] = -3.0
                b = rng.random(n) < dens
                s = rng.random(n) < dens
                t = np.arange(1, n + 1, dtype="float64")
                self._compare(t, px, b, s, p, f"p{pi} n={n} dens={dens}")

    def test_margin_call_crash_and_degenerates(self):
        n = 2000
        px = np.linspace(200, 10, n)  # steady crash: margin calls fire
        b = np.zeros(n, bool)
        b[5] = True
        s = np.zeros(n, bool)
        self._compare(
            np.arange(n, dtype="float64"), px, b, s,
            MarginParams(leverage=5.0, interest_rate=0.1, margin_call_threshold=0.3),
            "crash",
        )
        # all-frozen series; buy with cash below one lot
        px = np.full(50, np.nan)
        self._compare(
            np.arange(50, dtype="float64"), px,
            np.ones(50, bool), np.ones(50, bool),
            MarginParams(leverage=2.0), "all-nan",
        )
        self._compare(
            np.arange(10, dtype="float64"), np.full(10, 5000.0),
            np.ones(10, bool), np.zeros(10, bool),
            MarginParams(initial_capital=100.0), "cant-afford-one-lot",
        )

    def test_leftover_debt_while_flat_keeps_compounding(self):
        """Proceeds below debt leave residual debt through a flat stretch —
        the flat-segment accumulate must keep compounding it."""
        px = np.array([100.0] * 3 + [10.0] + [100.0] * 200 + [100.0])
        n = len(px)
        b = np.zeros(n, bool); s = np.zeros(n, bool)
        b[0] = True; s[3] = True  # sell into the crash: proceeds << debt
        b[150] = True  # re-entry while still indebted
        self._compare(
            np.arange(n, dtype="float64"), px, b, s,
            MarginParams(leverage=8.0, interest_rate=0.2, margin_call_threshold=0.01),
            "residual-debt",
        )


class TestMarginKernelSpec:
    def test_spark_bit_equal_to_local_fold(self, spark):
        """margin_backtest must produce EXACTLY what its spec, ``_fold``
        run locally on each symbol's rows sorted by t, produces — every
        float column bit-equal, NaN trade fields (non-exit bars) as NULL,
        and the exit_reason string/None column — on a shape with buys,
        sells, margin calls, interest accrual and frozen (NaN) bars."""
        from polars_quant_spark.backtest import margin as margin_mod
        from tests.group_spec import assert_matches_group_spec

        rng = np.random.default_rng(41)
        rows = []
        for s in ("A", "B", "C"):
            px = 100.0 + np.cumsum(rng.normal(0, 3, 150))
            px = np.maximum(px, 5.0)
            px[40] = float("nan")  # frozen bar mid-hold
            for i in range(150):
                rows.append(
                    (s, i, float(px[i]), i % 11 == 2, i % 29 == 17)
                )
        pdf = pd.DataFrame(rows, columns=["symbol", "t", "close", "buy", "sell"])
        pdf = pdf.sample(frac=1.0, random_state=5)
        df = spark.createDataFrame(pdf)
        p = MarginParams(
            leverage=3.0, interest_rate=0.08, margin_call_threshold=0.4
        )
        cols = [f.name for f in margin_mod._SCHEMA_EXTRA]

        def spec(g):
            out = _fold(
                g["t"].to_numpy(dtype="float64"),
                g["close"].to_numpy(dtype="float64"),
                g["buy"].to_numpy(dtype="bool"),
                g["sell"].to_numpy(dtype="bool"),
                p,
            )
            return dict(zip(cols, out))

        got = margin_backtest(df, params=p).collect()
        assert_matches_group_spec(pdf, got, cols, spec, nan_is_null=True)
        # the shape actually exercised trades (exit kinds are covered by
        # the local-fold differential suite)
        assert {r["exit_reason"] for r in got if r["exit_reason"]}
