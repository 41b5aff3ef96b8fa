"""The polars-quant-compatible surface: every reference export exists and
drives the engine."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import polars_quant_spark.compat as pq
from polars_quant_spark.operators.recurrence import KERNELS

REFERENCE_EXPORTS = [
    # talib
    "HT_DCPERIOD", "HT_DCPHASE", "HT_PHASOR", "HT_SINE", "HT_TRENDLINE",
    "HT_TRENDMODE", "ADX", "ADXR", "APO", "AROON", "AROONOSC", "BOP", "CCI",
    "CMO", "DX", "MACD", "MFI", "MINUS_DI", "MINUS_DM", "MOM", "PLUS_DI",
    "PLUS_DM", "PPO", "ROC", "ROCP", "ROCR", "ROCR100", "RSI", "TRIX",
    "ULTOSC", "WILLR", "BBANDS", "DEMA", "EMA", "KAMA", "MA", "MAMA",
    "MIDPOINT", "MIDPRICE", "SMA", "T3", "TEMA", "TRIMA", "WMA",
    "AVGPRICE", "MEDPRICE", "TYPPRICE", "WCLPRICE", "ATR", "NATR", "TRANGE",
    "AD", "ADOSC", "OBV",
    # extras present in the reference surface
    "STOCH", "STOCHF", "STOCHRSI", "MACDEXT", "MACDFIX", "SAR", "SAREXT",
    "MAVP",
    # backtesters
    "SequentialBacktester", "VectorizedBacktester",
]

CDL_EXPORTS = [n.upper() for n in __import__(
    "polars_quant_spark.functions.pattern", fromlist=["ALL_PATTERNS"]
).ALL_PATTERNS]


def test_every_reference_export_exists():
    missing = [n for n in REFERENCE_EXPORTS + CDL_EXPORTS if not hasattr(pq, n)]
    assert not missing, missing
    assert len(CDL_EXPORTS) == 61


@pytest.fixture(scope="module")
def frame(spark):
    n = 120
    rng = np.random.default_rng(12)
    close = np.maximum(100 + np.cumsum(rng.normal(0, 1, n)), 1.0)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "symbol": ["X"] * n,
                "t": np.arange(1, n + 1),
                "open": np.roll(close, 1),
                "high": close * 1.01,
                "low": close * 0.99,
                "close": close,
                "volume": rng.integers(100, 1000, n).astype(float),
            }
        )
    )


_C, _HL = ["close"], ["high", "low"]
_HLC = [*_HL, "close"]
# every DataFrame-level wrapper, with TA-Lib's input columns for its kernel
REC_WRAPPERS = {
    "EMA": _C, "DEMA": _C, "TEMA": _C, "KAMA": _C, "RSI": _C, "TRIX": _C, "T3": _C,
    "HT_DCPERIOD": _C, "HT_DCPHASE": _C, "HT_TRENDLINE": _C, "HT_TRENDMODE": _C,
    "HT_PHASOR": _C, "HT_SINE": _C, "MAMA": _C,
    "MACD": _C, "MACDEXT": _C, "MACDFIX": _C,
    "ADX": _HLC, "ADXR": _HLC, "DX": _HLC, "PLUS_DI": _HLC, "MINUS_DI": _HLC,
    "ATR": _HLC, "NATR": _HLC,
    "PLUS_DM": _HL, "MINUS_DM": _HL, "SAR": _HL, "SAREXT": _HL,
    "ADOSC": [*_HLC, "volume"],
}


def test_recurrence_wrappers_default_to_talib_inputs(frame):
    """Each wrapper called with no input columns reads TA-Lib's inputs for
    its kernel, and its outputs equal the kernel's on those columns. MAVP's
    ``periods`` has no conventional name, so it asks for explicit columns."""
    wrappers = {
        n for n in dir(pq)
        if getattr(getattr(pq, n), "__qualname__", "").startswith("_rec1.")
    }
    assert wrappers - {"MAVP"} == set(REC_WRAPPERS) - {"T3"}
    pdf = frame.toPandas()
    for name, cols in REC_WRAPPERS.items():
        out = getattr(pq, name)(frame)
        new = [c for c in out.columns if c not in frame.columns]
        got = out.orderBy("t").select(*new).toPandas()
        fn, _ = KERNELS[name.lower()]
        want = fn(*[pdf[c].to_numpy(dtype="float64") for c in cols])
        want = want if isinstance(want, tuple) else (want,)
        assert len(new) == len(want), name
        for col, w in zip(new, want):
            np.testing.assert_array_equal(
                got[col].to_numpy(dtype="float64"), w, err_msg=f"{name} {col}"
            )
    with pytest.raises(ValueError, match="no default input columns"):
        pq.MAVP(frame)
    periods = frame.withColumn("periods", F.lit(10.0))
    assert "mavp" in pq.MAVP(periods, "close", "periods").columns


def test_column_style_indicators(frame):
    w = Window.partitionBy("symbol").orderBy("t")
    out = frame.select(
        "t",
        pq.SMA(F.col("close"), timeperiod=10, w=w).alias("sma"),
        pq.WILLR("high", "low", "close", timeperiod=14, w=w).alias("willr"),
        pq.TYPPRICE("high", "low", "close").alias("tp"),
        pq.CDLDOJI("open", "high", "low", "close", w).alias("doji"),
    ).collect()
    assert len(out) == 120
    assert out[-1]["sma"] is not None


def test_dataframe_style_recurrences(frame):
    df = pq.EMA(frame, "close", timeperiod=12)
    df = pq.RSI(df, "close", timeperiod=14)
    df = pq.MACD(df, "close")
    cols = set(df.columns)
    assert {"ema", "rsi", "macd", "macdsignal", "macdhist"} <= cols
    row = df.orderBy(F.col("t").desc()).limit(1).collect()[0]
    assert row["ema"] is not None and row["rsi"] is not None


def test_vectorized_backtester_class(frame):
    w = Window.partitionBy("symbol").orderBy("t")
    sig = frame.withColumn(
        "buy", F.coalesce(F.col("close") < F.lag("close", 1).over(w), F.lit(False))
    ).withColumn(
        "sell", F.coalesce(F.col("close") > F.lag("close", 1).over(w), F.lit(False))
    )
    bt = pq.VectorizedBacktester(sig, initial_capital=10_000.0)
    curve, metrics = bt.run()
    assert curve.count() == 120
    m = metrics.collect()[0]
    assert m["n_bars"] == 120.0


def test_readme_v0x_surface(spark):
    """README.md:60-342 function surface under reference names: returns
    (documented example values), linear (stats tuple), clean (full chain
    winsorize→cap→industry→standardize emits {col}_cleaned, zero-mean
    unit-ish spread)."""
    r = pq.returns(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "date": ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"],
                    "close": [100.0, 102.0, 101.0, 105.0],
                }
            )
        ),
        price_col="close",
    )
    vals = [row["return"] for row in r.orderBy("date").collect()]
    assert vals[0] is None
    assert vals[1:] == pytest.approx([0.02, -0.009803921568627416, 0.039603960396039604])

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "stock": list("abcdef"),
                "factor": [1.5, 2.3, 10.0, 1.8, 2.1, 1.9],
                "market_cap": [100.0, 200.0, 150.0, 300.0, 250.0, 180.0],
                "industry": ["fin", "tech", "fin", "tech", "cons", "cons"],
            }
        )
    )
    res, (coef, r2) = pq.linear(df, ["market_cap"], "factor", return_stats=True)
    assert len(coef) == 2 and 0.0 <= r2 <= 1.0
    assert {"pred", "resid"} <= set(res.columns)
    # residuals sum to ~0 (intercept fitted)
    s = res.agg(F.sum("resid")).collect()[0][0]
    assert abs(s) < 1e-6

    cleaned = pq.clean(
        df, "factor", winsorize="sigma", winsorize_n=3.0,
        neutralize_market_cap=True, cap_col="market_cap",
        neutralize_industry=True, industry_col="industry", standardize=True,
    )
    rows = cleaned.select("factor_cleaned").collect()
    xs = [row["factor_cleaned"] for row in rows]
    assert abs(sum(xs)) < 1e-6  # standardized: zero mean
    assert pq.clean(df, "factor").columns[-1] == "factor_cleaned"  # no-op form

    assert len(pq.STRATEGIES) >= 15
    assert callable(pq.load) and callable(pq.prepare_sequential_data)
