"""Indicator parity vs straightforward NumPy reference implementations
(SURVEY.md §5 item 1 — the reference's own test strategy is oracle comparison
against TA-Lib; TA-Lib isn't in this container, so the oracles are independent
NumPy re-derivations written from the declared formulas)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_quant_spark.functions import momentum as mo
from polars_quant_spark.functions import overlap as ov
from polars_quant_spark.functions import volume as vu
from polars_quant_spark.operators import recurrence as rec

RNG = np.random.default_rng(42)
N = 300


@pytest.fixture(scope="module")
def ohlcv(spark):
    close = 100.0 + np.cumsum(RNG.normal(0, 1, N))
    close = np.maximum(close, 1.0)
    open_ = np.concatenate([[close[0]], close[:-1]])
    high = np.maximum(open_, close) * 1.002
    low = np.minimum(open_, close) * 0.998
    vol = RNG.integers(100, 1000, N).astype(float)
    pdf = pd.DataFrame(
        {
            "symbol": ["X"] * N,
            "t": np.arange(1, N + 1),
            "open": open_,
            "high": high,
            "low": low,
            "close": close,
            "volume": vol,
        }
    )
    return spark.createDataFrame(pdf), pdf


W = None


def _w():
    return Window.partitionBy("symbol").orderBy("t")


def _collect(df, colname):
    rows = df.orderBy("t").select(colname).collect()
    return np.array([r[0] if r[0] is not None else np.nan for r in rows])


def test_sma(ohlcv):
    df, pdf = ohlcv
    got = _collect(df.withColumn("x", ov.sma("close", 20, _w())), "x")
    want = pdf["close"].rolling(20).mean().to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-9, equal_nan=True)


def test_wma(ohlcv):
    df, pdf = ohlcv
    got = _collect(df.withColumn("x", ov.wma("close", 10, _w())), "x")
    weights = np.arange(1, 11)
    want = (
        pdf["close"].rolling(10).apply(lambda v: np.dot(v, weights) / weights.sum(), raw=True)
    ).to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-9, equal_nan=True)


def test_bbands(ohlcv):
    df, pdf = ohlcv
    up, mid, lo = ov.bbands("close", 20, 2, 2, _w())
    got = _collect(df.withColumn("x", up), "x")
    m = pdf["close"].rolling(20).mean()
    sd = pdf["close"].rolling(20).std(ddof=0)
    np.testing.assert_allclose(got, (m + 2 * sd).to_numpy(), rtol=1e-9, equal_nan=True)


def test_ema_sma_seed(ohlcv):
    df, pdf = ohlcv
    out = rec.with_recurrences(df, [rec.Rec("x", "ema", ["close"], {"p": 20})])
    got = _collect(out, "x")
    x = pdf["close"].to_numpy()
    want = np.full(N, np.nan)
    e = x[:20].mean()
    want[19] = e
    a = 2.0 / 21.0
    for i in range(20, N):
        e += a * (x[i] - e)
        want[i] = e
    np.testing.assert_allclose(got, want, rtol=1e-9, equal_nan=True)


def test_rsi_wilder(ohlcv):
    df, pdf = ohlcv
    out = rec.with_recurrences(df, [rec.Rec("x", "rsi", ["close"], {"p": 14})])
    got = _collect(out, "x")
    x = pdf["close"].to_numpy()
    d = np.diff(x)
    up = np.where(d > 0, d, 0.0)
    dn = np.where(d < 0, -d, 0.0)
    want = np.full(N, np.nan)
    au, ad = up[:14].mean(), dn[:14].mean()
    want[14] = 100.0 if ad == 0 else 100.0 * au / (au + ad)
    for i in range(15, N):
        au += (up[i - 1] - au) / 14.0
        ad += (dn[i - 1] - ad) / 14.0
        want[i] = 100.0 if ad == 0 else 100.0 * au / (au + ad)
    np.testing.assert_allclose(got, want, rtol=1e-6, equal_nan=True)


def test_willr_flat_range_zero(spark):
    pdf = pd.DataFrame(
        {
            "symbol": ["X"] * 20,
            "t": range(1, 21),
            "high": [5.0] * 20,
            "low": [5.0] * 20,
            "close": [5.0] * 20,
        }
    )
    df = spark.createDataFrame(pdf)
    got = _collect(df.withColumn("x", mo.willr("high", "low", "close", 14, _w())), "x")
    assert np.isnan(got[:13]).all()
    np.testing.assert_allclose(got[13:], 0.0)


def test_obv_seed_and_sign(spark):
    pdf = pd.DataFrame(
        {
            "symbol": ["X"] * 4,
            "t": [1, 2, 3, 4],
            "close": [10.0, 11.0, 9.0, 9.0],
            "volume": [100.0, 200.0, 300.0, 400.0],
        }
    )
    df = spark.createDataFrame(pdf)
    got = _collect(df.withColumn("x", vu.obv("close", "volume", _w())), "x")
    np.testing.assert_allclose(got, [100.0, 300.0, 0.0, 0.0])


def test_mom_lag(ohlcv):
    df, pdf = ohlcv
    got = _collect(df.withColumn("x", mo.mom("close", 10, _w())), "x")
    want = pdf["close"].diff(10).to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-9, equal_nan=True)


def test_macd_composition(ohlcv):
    df, pdf = ohlcv
    out = rec.with_recurrences(
        df, [rec.Rec(["dif", "dea", "hist"], "macd", ["close"], {})]
    )
    dif = _collect(out, "dif")
    dea = _collect(out, "dea")
    hist = _collect(out, "hist")
    x = pdf["close"].to_numpy()
    e12 = rec.ema(x, 12)
    e26 = rec.ema(x, 26)
    np.testing.assert_allclose(dif, e12 - e26, rtol=1e-9, equal_nan=True)
    np.testing.assert_allclose(hist, dif - dea, rtol=1e-9, equal_nan=True)


def test_null_skipping(spark):
    """Nulls don't consume window slots in recurrence kernels (reference
    null semantics, overlap.rs:891-895)."""
    x = [1.0, 2.0, None, 3.0, 4.0, 5.0, 6.0]
    pdf = pd.DataFrame({"symbol": ["X"] * 7, "t": range(1, 8), "close": x})
    df = spark.createDataFrame(pdf)
    out = rec.with_recurrences(df, [rec.Rec("e", "ema", ["close"], {"p": 3})])
    got = _collect(out, "e")
    assert np.isnan(got[2])  # null in → null out
    # seed = mean of first 3 *valid* values (1,2,3) at the 3rd valid row
    np.testing.assert_allclose(got[3], 2.0)


def test_supertrend_invariants():
    """Line sits below price in uptrends and above in downtrends; both
    directions occur on a wandering series; the line ratchets (never moves
    against the trend while the trend holds)."""
    import numpy as np

    from polars_quant_spark.operators.recurrence import supertrend

    rng = np.random.default_rng(3)
    c = 100 + np.cumsum(rng.normal(0, 2, 400))
    h = c + rng.uniform(0.1, 1, 400)
    l = c - rng.uniform(0.1, 1, 400)
    st, d = supertrend(h, l, c, p=10, mult=3.0)
    m = ~np.isnan(st)
    assert {1.0, -1.0} <= set(d[m])
    assert ((d[m] == 1.0) <= (st[m] <= c[m] + 1e-9)).all()
    assert ((d[m] == -1.0) <= (st[m] >= c[m] - 1e-9)).all()
    # ratchet: within a run of constant direction the line is monotone
    idx = np.where(m)[0]
    for i, j in zip(idx[:-1], idx[1:]):
        if d[i] == d[j] == 1.0:
            assert st[j] >= st[i] - 1e-9  # uptrend line never falls
        elif d[i] == d[j] == -1.0:
            assert st[j] <= st[i] + 1e-9  # downtrend line never rises


def test_holt_matches_naive_loop():
    """The holt kernel equals a straight-line reimplementation of the
    recurrence, including NaN compaction and the one-step forecast."""
    import numpy as np

    from polars_quant_spark.operators.recurrence import holt

    rng = np.random.default_rng(7)
    y = rng.normal(100, 10, 200)
    y[[5, 17, 44]] = np.nan
    lev, trd, fc = holt(y, alpha=0.5, beta=0.3)
    idx = np.flatnonzero(~np.isnan(y))
    v = y[idx]
    lv, bv = v[0], v[1] - v[0]
    exp_l, exp_b, exp_f = {idx[0]: lv}, {idx[0]: bv}, {}
    for k in range(1, len(v)):
        fv = lv + bv
        ln = 0.5 * v[k] + 0.5 * (lv + bv)
        bn = 0.3 * (ln - lv) + 0.7 * bv
        j = idx[k]
        exp_f[j], exp_l[j], exp_b[j] = fv, ln, bn
        lv, bv = ln, bn
    for j in idx:
        assert lev[j] == exp_l[j]
        assert trd[j] == exp_b[j]
    for j, val in exp_f.items():
        assert fc[j] == val
    assert np.isnan(lev[5]) and np.isnan(fc[5])
    # trend tracks a clean linear ramp almost exactly
    ramp = np.arange(100, dtype=float) * 2.0 + 10
    l2, b2, f2 = holt(ramp)
    np.testing.assert_allclose(b2[-1], 2.0, atol=1e-6)
    np.testing.assert_allclose(f2[-1], ramp[-1], atol=1e-4)


def test_garch_matches_naive_loop_and_stationary_level():
    """garch equals the naive fold; on constant-variance noise the filtered
    variance converges near ω/(1−α−β)·(...) + sample pressure — we just
    check the unconditional pull: long-run h stays within 3× sample var."""
    import numpy as np

    from polars_quant_spark.operators.recurrence import garch

    rng = np.random.default_rng(11)
    r = rng.normal(0, 0.01, 500)
    h = garch(r, omega=1e-05, a=0.05, b=0.9)
    hv = r[0] * r[0]
    assert h[0] == hv
    for i in range(1, 500):
        rp = r[i - 1]
        hv = 1e-05 + 0.05 * (rp * rp) + 0.9 * hv
        assert h[i] == hv
    assert 0 < h[-1] < 3 * np.var(r) + 1e-3
    # NaN compaction: nulls pass through, recurrence skips them
    r2 = r.copy()
    r2[100] = np.nan
    h2 = garch(r2)
    assert np.isnan(h2[100]) and not np.isnan(h2[101])


def test_renko_invariants():
    """Level moves only in whole bricks, tracks price within one brick,
    and deltas sum to the net level change."""
    import numpy as np

    from polars_quant_spark.operators.recurrence import renko

    rng = np.random.default_rng(5)
    c = 100 + np.cumsum(rng.normal(0, 1.5, 300))
    lev, dlt = renko(c, pct=0.005)
    bk = np.floor(np.floor(c[0] * 1e6 + 0.5) * 0.005 + 0.5) / 1e6
    qlev = np.round(lev * 1e6)
    assert np.all(np.abs(np.diff(qlev) / round(bk * 1e6) - dlt[1:]) < 1e-9)
    # the level never strays more than one brick from the close
    assert np.nanmax(np.abs(lev - c)) < 2 * bk + 1e-9
    # deltas are integers
    assert np.all(dlt[~np.isnan(dlt)] == np.round(dlt[~np.isnan(dlt)]))


def test_zigzag_alternates_and_respects_threshold():
    """Pivots strictly alternate sign and consecutive pivot prices differ
    by at least the reversal threshold."""
    import numpy as np

    from polars_quant_spark.operators.recurrence import zigzag

    rng = np.random.default_rng(9)
    c = 100 * np.exp(np.cumsum(rng.normal(0, 0.01, 1000)))
    piv, px = zigzag(c, pct=0.03)
    idx = np.flatnonzero(piv != 0)
    assert len(idx) >= 2
    signs = piv[idx]
    assert np.all(signs[1:] * signs[:-1] == -1)  # alternate
    for a, b in zip(idx[:-1], idx[1:]):
        move = abs(px[b] - px[a]) / max(px[a], px[b])
        assert move >= 0.03 - 1e-6


def test_cusum_flat_series_never_alarms_and_shift_alarms():
    import numpy as np

    from polars_quant_spark.operators.recurrence import cusum

    flat = np.full(200, 100.0)
    sp, sn, al = cusum(flat)
    assert np.nanmax(al) == 0 and np.nanmax(sp) == 0
    shifted = np.concatenate([np.full(100, 100.0), np.full(100, 130.0)])
    sp2, sn2, al2 = cusum(shifted)
    assert np.nanmax(al2) == 1  # sustained +30% shift trips the detector


# --- functions.trend (round-7 promotions: donchian/keltner/ichimoku/vortex,
# previously query-local in queries_ext.py, all driver-green in r6) ---------


def test_trend_donchian_matches_pandas(ohlcv):
    from polars_quant_spark.functions import trend as tr

    df, pdf = ohlcv
    out = tr.donchian(df, p=20)
    assert set(df.columns) <= set(out.columns)
    up = _collect(out, "dc_upper")
    lo = _collect(out, "dc_lower")
    mid = _collect(out, "dc_mid")
    want_up = pdf["high"].rolling(20).max().to_numpy()
    want_lo = pdf["low"].rolling(20).min().to_numpy()
    np.testing.assert_allclose(up, want_up, rtol=1e-12, equal_nan=True)
    np.testing.assert_allclose(lo, want_lo, rtol=1e-12, equal_nan=True)
    np.testing.assert_allclose(
        mid, (want_up + want_lo) / 2.0, rtol=1e-12, equal_nan=True
    )


def test_trend_keltner_band_identities(ohlcv):
    """mid is the EMA(20) recurrence output; bands sit symmetrically at
    ±mult·ATR(10) around it (checked via the band-vs-mid identity, which
    pins both the composition and the NULL-propagation contract)."""
    from polars_quant_spark.functions import trend as tr
    from polars_quant_spark.operators.recurrence import Rec, with_recurrences

    df, _ = ohlcv
    out = tr.keltner(df, mult=2.0)
    assert set(df.columns) <= set(out.columns)
    mid = _collect(out, "kc_mid")
    up = _collect(out, "kc_upper")
    lo = _collect(out, "kc_lower")
    ref = with_recurrences(
        df,
        [
            Rec("ema20", "ema", ["close"], {"p": 20}),
            Rec("atr10", "atr", ["high", "low", "close"], {"p": 10}),
        ],
    )
    ema = _collect(ref, "ema20")
    atr = _collect(ref, "atr10")
    np.testing.assert_allclose(mid, ema, rtol=1e-12, equal_nan=True)
    np.testing.assert_allclose(up, ema + 2.0 * atr, rtol=1e-12, equal_nan=True)
    np.testing.assert_allclose(lo, ema - 2.0 * atr, rtol=1e-12, equal_nan=True)
    # upper/lower are NULL exactly while either recurrence warms up
    assert np.isnan(up[: 9]).all() and not np.isnan(up[25:]).any()


def test_trend_ichimoku_matches_pandas(ohlcv):
    from polars_quant_spark.functions import trend as tr

    df, pdf = ohlcv
    out = tr.ichimoku(df)
    assert set(df.columns) <= set(out.columns)
    mid = lambda n: (
        pdf["high"].rolling(n).max() + pdf["low"].rolling(n).min()
    ) / 2.0
    tenkan, kijun, sb = mid(9), mid(26), mid(52)
    np.testing.assert_allclose(
        _collect(out, "tenkan"), tenkan.to_numpy(), rtol=1e-12, equal_nan=True
    )
    np.testing.assert_allclose(
        _collect(out, "kijun"), kijun.to_numpy(), rtol=1e-12, equal_nan=True
    )
    np.testing.assert_allclose(
        _collect(out, "senkou_a"),
        ((tenkan + kijun) / 2.0).shift(26).to_numpy(),
        rtol=1e-12,
        equal_nan=True,
    )
    np.testing.assert_allclose(
        _collect(out, "senkou_b"), sb.shift(26).to_numpy(), rtol=1e-12, equal_nan=True
    )
    np.testing.assert_allclose(
        _collect(out, "chikou"),
        pdf["close"].shift(-26).to_numpy(),
        rtol=1e-12,
        equal_nan=True,
    )


def test_trend_vortex_matches_pandas(ohlcv):
    from polars_quant_spark.functions import trend as tr

    df, pdf = ohlcv
    out = tr.vortex(df, p=14)
    assert set(df.columns) <= set(out.columns)
    # first bar per key is dropped (no prior close for the movements)
    assert out.count() == len(pdf) - 1
    vm_p = (pdf["high"] - pdf["low"].shift()).abs()
    vm_m = (pdf["low"] - pdf["high"].shift()).abs()
    trng = np.maximum.reduce(
        [
            (pdf["high"] - pdf["low"]).to_numpy(),
            (pdf["high"] - pdf["close"].shift()).abs().to_numpy(),
            (pdf["low"] - pdf["close"].shift()).abs().to_numpy(),
        ]
    )
    sub = pd.DataFrame({"vp": vm_p[1:], "vm": vm_m[1:], "tr": trng[1:]})
    want_p = (sub["vp"].rolling(14).sum() / sub["tr"].rolling(14).sum()).to_numpy()
    want_m = (sub["vm"].rolling(14).sum() / sub["tr"].rolling(14).sum()).to_numpy()
    np.testing.assert_allclose(
        _collect(out, "vi_plus"), want_p, rtol=1e-9, equal_nan=True
    )
    np.testing.assert_allclose(
        _collect(out, "vi_minus"), want_m, rtol=1e-9, equal_nan=True
    )


# --- round-7 promotions, batch 2: kst/coppock/awesome_osc/dpo/qstick/rvi/
# choppiness/tsi + trend.mass_index/elder_ray (query-local through r6,
# all in the r7 driver window) -----------------------------------------------


def test_momentum_kst_matches_pandas(ohlcv):
    df, pdf = ohlcv
    out = mo.kst(df)
    assert set(df.columns) <= set(out.columns)
    c = pdf["close"]
    rocs = [100.0 * (c / c.shift(n) - 1.0) for n in (10, 15, 20, 30)]
    smas = [r.rolling(p).mean() for r, p in zip(rocs, (10, 10, 10, 15))]
    want = smas[0] + 2 * smas[1] + 3 * smas[2] + 4 * smas[3]
    np.testing.assert_allclose(
        _collect(out, "kst"), want.to_numpy(), rtol=1e-9, equal_nan=True
    )


def test_momentum_coppock_matches_pandas(ohlcv):
    df, pdf = ohlcv
    out = mo.coppock(df)
    c = pdf["close"]
    rsum = 100.0 * (c / c.shift(14) - 1.0) + 100.0 * (c / c.shift(11) - 1.0)
    sub = rsum.dropna().reset_index(drop=True)
    wts = np.arange(1, 11)
    want = sub.rolling(10).apply(lambda x: np.dot(x, wts) / 55.0, raw=True)
    np.testing.assert_allclose(
        _collect(out, "coppock"), want.to_numpy(), rtol=1e-9, equal_nan=True
    )


def test_momentum_awesome_dpo_qstick_match_pandas(ohlcv):
    df, pdf = ohlcv
    mid = (pdf["high"] + pdf["low"]) / 2.0
    want_ao = mid.rolling(5).mean() - mid.rolling(34).mean()
    np.testing.assert_allclose(
        _collect(mo.awesome_osc(df), "ao"),
        want_ao.to_numpy(),
        rtol=1e-9,
        equal_nan=True,
    )
    want_dpo = pdf["close"].shift(11) - pdf["close"].rolling(20).mean()
    np.testing.assert_allclose(
        _collect(mo.dpo(df, p=20), "dpo"),
        want_dpo.to_numpy(),
        rtol=1e-9,
        equal_nan=True,
    )
    want_q = (pdf["close"] - pdf["open"]).rolling(10).mean()
    np.testing.assert_allclose(
        _collect(mo.qstick(df, p=10), "qstick"),
        want_q.to_numpy(),
        rtol=1e-9,
        equal_nan=True,
    )


def test_momentum_rvi_matches_pandas(ohlcv):
    df, pdf = ohlcv
    out = mo.rvi(df, p=10)
    assert out.count() == len(pdf) - 3  # symmetric weighting drops 3 rows

    def symw(s):
        return (s + 2 * s.shift(1) + 2 * s.shift(2) + s.shift(3)) / 6.0

    nv = symw(pdf["close"] - pdf["open"]).iloc[3:].reset_index(drop=True)
    dv = symw(pdf["high"] - pdf["low"]).iloc[3:].reset_index(drop=True)
    want = nv.rolling(10).sum() / dv.rolling(10).sum()
    np.testing.assert_allclose(
        _collect(out, "rvi"), want.to_numpy(), rtol=1e-9, equal_nan=True
    )


def test_momentum_choppiness_matches_pandas(ohlcv):
    df, pdf = ohlcv
    out = mo.choppiness(df, p=14)
    pc = pdf["close"].shift()
    # F.greatest / SQL GREATEST skip NULLs, so the first bar's TR is
    # high-low, not NaN — np.fmax mirrors that
    tr = np.fmax.reduce(
        [
            (pdf["high"] - pdf["low"]).to_numpy(),
            (pdf["high"] - pc).abs().to_numpy(),
            (pdf["low"] - pc).abs().to_numpy(),
        ]
    )
    s = pd.Series(tr).rolling(14).sum()
    rng = pdf["high"].rolling(14).max() - pdf["low"].rolling(14).min()
    want = 100.0 * np.log10(s / rng) / np.log10(14.0)
    np.testing.assert_allclose(
        _collect(out, "chop"), want.to_numpy(), rtol=1e-9, equal_nan=True
    )


def test_momentum_tsi_composition(ohlcv):
    """tsi == 100·EMA25(EMA13(m)) / EMA25(EMA13(|m|)) where the EMA chain
    is the recurrence runner's own output (pins the composition + the
    drop-first-bar and NULL contracts)."""
    from polars_quant_spark.operators.recurrence import Rec, with_recurrences

    df, pdf = ohlcv
    out = mo.tsi(df)
    assert out.count() == len(pdf) - 1
    w = _w()
    m = F.col("close") - F.lag("close").over(w)
    src = df.select("*", m.alias("m"), F.abs(m).alias("am")).where(
        F.col("m").isNotNull()
    )
    ref = with_recurrences(
        src,
        [
            Rec("a1", "ema", ["m"], {"p": 13}),
            Rec("a2", "ema", ["a1"], {"p": 25}),
            Rec("b1", "ema", ["am"], {"p": 13}),
            Rec("b2", "ema", ["b1"], {"p": 25}),
        ],
    )
    a2, b2 = _collect(ref, "a2"), _collect(ref, "b2")
    want = np.where(b2 != 0, 100.0 * a2 / b2, np.nan)
    np.testing.assert_allclose(
        _collect(out, "tsi"), want, rtol=1e-12, equal_nan=True
    )


def test_trend_mass_index_composition(ohlcv):
    from polars_quant_spark.functions import trend as tr
    from polars_quant_spark.operators.recurrence import Rec, with_recurrences

    df, pdf = ohlcv
    out = tr.mass_index(df)
    ref = with_recurrences(
        df.select("*", (F.col("high") - F.col("low")).alias("hl")),
        [Rec("m1", "ema", ["hl"], {"p": 9}), Rec("m2", "ema", ["m1"], {"p": 9})],
    )
    rp = ref.orderBy("t").select("m1", "m2").toPandas()
    ratio = (rp["m1"] / rp["m2"]).dropna().reset_index(drop=True)
    want = ratio.rolling(25).sum()
    np.testing.assert_allclose(
        _collect(out, "mass"), want.to_numpy(), rtol=1e-12, equal_nan=True
    )


def test_trend_elder_ray_composition(ohlcv):
    from polars_quant_spark.functions import trend as tr
    from polars_quant_spark.operators.recurrence import Rec, with_recurrences

    df, pdf = ohlcv
    out = tr.elder_ray(df, p=13)
    ref = with_recurrences(df, [Rec("e", "ema", ["close"], {"p": 13})])
    e = _collect(ref, "e")
    np.testing.assert_allclose(
        _collect(out, "bull_power"),
        pdf["high"].to_numpy() - e,
        rtol=1e-12,
        equal_nan=True,
    )
    np.testing.assert_allclose(
        _collect(out, "bear_power"),
        pdf["low"].to_numpy() - e,
        rtol=1e-12,
        equal_nan=True,
    )


def test_volume_klinger_composition(ohlcv):
    """kvo == EMA34(vf) − EMA55(vf) where vf is the trend-signed integer
    volume force and the EMAs are the recurrence runner's own output."""
    from polars_quant_spark.operators.recurrence import Rec, with_recurrences

    df, pdf = ohlcv
    out = vu.klinger(df)
    assert set(df.columns) <= set(out.columns)
    tp = pdf["high"] + pdf["low"] + pdf["close"]
    sgn = np.sign(tp.diff().fillna(0.0).to_numpy())
    vf = np.floor(pdf["volume"].to_numpy() + 0.5) * sgn
    src = df.sparkSession.createDataFrame(
        pd.DataFrame({"symbol": pdf["symbol"], "t": pdf["t"], "vf": vf})
    )
    ref = with_recurrences(
        src,
        [Rec("f", "ema", ["vf"], {"p": 34}), Rec("s", "ema", ["vf"], {"p": 55})],
    )
    rp = ref.orderBy("t").select("f", "s").toPandas()
    want = (rp["f"] - rp["s"]).to_numpy()
    np.testing.assert_allclose(
        _collect(out, "kvo"), want, rtol=1e-12, equal_nan=True
    )


def test_macd_q_lattice_and_float_parity():
    """The quantized MACD kernels (VERDICT r7 #3) must (a) stay on the
    integer micro-unit lattice at every defined output — that is the whole
    engine-exactness argument — and (b) track the float kernel to within
    accumulated quantization error (each step floors to the lattice, so the
    divergence stays a few micro-units; anything larger means the quantized
    recurrence is not MACD any more)."""
    from polars_quant_spark.operators.recurrence import (
        macd,
        macd_q,
        macdext_q,
        macdfix_q,
    )

    rng = np.random.default_rng(7)
    close = 100.0 * np.exp(np.cumsum(rng.normal(0, 0.01, 4000)))
    m = np.floor(close * 1e6 + 0.5)

    for kern, fargs in ((macd_q, {}), (macdfix_q, {"signal": 5}),
                        (macdext_q, {"signal": 5})):
        outs = kern(m, **fargs)
        for arr in outs:
            v = arr[~np.isnan(arr)]
            assert v.size > 3000
            np.testing.assert_array_equal(v, np.floor(v))  # on the lattice

    dif_q, dea_q, hist_q = macd_q(m)
    dif_f, dea_f, hist_f = macd(close)
    mask = ~np.isnan(dea_q) & ~np.isnan(dea_f)
    assert mask.sum() > 3000
    # 4000 steps of per-step half-up flooring: worst-case drift is well
    # under 100 micro-units (1e-4 price units) on a ~100-priced series
    assert np.max(np.abs(dif_q[mask] / 1e6 - dif_f[mask])) < 1e-4
    assert np.max(np.abs(dea_q[mask] / 1e6 - dea_f[mask])) < 1e-4
    assert np.max(np.abs(hist_q[mask] / 1e6 - hist_f[mask])) < 2e-4


def test_with_recurrences_matches_kernels_per_group(spark):
    """The grouped runner must be BIT-EQUAL to its spec, the ``KERNELS``
    run locally on each symbol's rows sorted by t, with warm-up NaN as
    NULL. Any divergence is a conversion bug (null handling, dtype cast,
    sort order). Covers NaN inputs, an int-typed kernel input (volume), a
    multi-output kernel, a spec consuming an earlier spec's output, and a
    tiny group."""
    from tests.group_spec import assert_matches_group_spec

    rng = np.random.default_rng(7)
    frames = []
    for sym, n in [("A", 3000), ("B", 1700), ("C", 7)]:
        close = 100.0 + np.cumsum(rng.normal(0, 1, n))
        close[rng.random(n) < 0.04] = np.nan
        high = close * 1.01
        low = close * 0.99
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "t": np.arange(1, n + 1),
                    "close": close,
                    "high": high,
                    "low": low,
                    # int64 column exercises the arrow cast path
                    "volume": rng.integers(100, 1000, n),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True).sample(frac=1.0, random_state=3)
    df = spark.createDataFrame(pdf)
    specs = [
        rec.Rec("ema_9", "ema", ["close"], {"p": 9}),
        rec.Rec("atr_5", "atr", ["high", "low", "close"], {"p": 5}),
        rec.Rec(["macd_dif", "macd_dea", "macd_hist"], "macd", ["close"], {}),
        rec.Rec("adosc", "adosc", ["high", "low", "close", "volume"], {}),
        # consumes the first spec's output — the chained-spec contract
        rec.Rec("ema_ema", "ema", ["ema_9"], {"p": 4}),
    ]
    out_cols = ["ema_9", "atr_5", "macd_dif", "macd_dea", "macd_hist", "adosc", "ema_ema"]

    def spec(g):
        cols = {c: g[c].to_numpy(dtype="float64") for c in g.columns if c != "symbol"}
        for s in specs:
            fn, _ = rec.KERNELS[s.kernel]
            res = fn(*[cols[c] for c in s.cols], **s.params)
            res = res if isinstance(res, tuple) else (res,)
            cols.update(zip(s.out_cols, res))
        return cols

    rows = rec.with_recurrences(df, specs).select("symbol", "t", *out_cols).collect()
    assert_matches_group_spec(pdf, rows, out_cols, spec, nan_is_null=True)


def test_macdext_rejects_unsupported_matype_on_every_leg():
    """An unsupported MA type raises on the signal leg exactly as on the
    fast and slow legs (it used to fall through to an EMA signal), and
    the supported types keep their composition."""
    x = 100.0 + np.cumsum(np.random.default_rng(2).normal(0, 1, 200))
    for leg in ("fast_matype", "slow_matype", "signal_matype"):
        with pytest.raises(ValueError, match="matype 2"):
            rec.macdext(x, **{leg: 2})
    dif, dea, hist = rec.macdext(x, signal_matype=1)
    np.testing.assert_array_equal(dea, rec.ema(dif, 9))
    dif, dea, hist = rec.macdext(x, signal_matype=0)
    np.testing.assert_array_equal(dea, pd.Series(dif).rolling(9).mean().to_numpy())
    np.testing.assert_array_equal(hist, dif - dea)
