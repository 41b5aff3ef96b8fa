"""Segmented EMA/RMA must equal the single-group scan bit-for-bit."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_quant_spark.operators import segmented as seg
from polars_quant_spark.operators.recurrence import Rec, with_recurrences
from polars_quant_spark.operators.segmented import ewma_segmented


@pytest.fixture(scope="module")
def tall_df(spark):
    """Two symbols, one 'fat' (2 500 bars → 3 segments at 1 000 rows)."""
    rng = np.random.default_rng(5)
    frames = []
    for sym, n in [("FAT", 2500), ("THIN", 40)]:
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "t": np.arange(n),
                    "close": 100.0 + np.cumsum(rng.normal(0, 1, n)),
                }
            )
        )
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


@pytest.mark.parametrize("alpha,p", [(None, 20), (1.0 / 14, 14)])
def test_segmented_bit_equal_to_single_group(spark, tall_df, alpha, p):
    kernel = "ema" if alpha is None else "rma"
    whole = (
        with_recurrences(tall_df, [Rec("e", kernel, ["close"], {"p": p})])
        .select("symbol", "t", "e")
        .collect()
    )
    segd = (
        ewma_segmented(
            tall_df, "close", p, alpha=alpha, out="e", segment_rows=1000
        )
        .select("symbol", "t", "e")
        .collect()
    )
    w = {(r["symbol"], r["t"]): r["e"] for r in whole}
    s = {(r["symbol"], r["t"]): r["e"] for r in segd}
    assert set(w) == set(s)
    diff = [k for k in w if (w[k] is None) != (s[k] is None) or
            (w[k] is not None and w[k] != s[k])]
    assert not diff, diff[:5]


def test_segmented_short_symbol_all_null(spark, tall_df):
    segd = ewma_segmented(tall_df, "close", 50, out="e", segment_rows=1000)
    thin = segd.where("symbol = 'THIN'").select("e").collect()
    assert all(r["e"] is None for r in thin)


def test_segment_rows_must_cover_seed(spark, tall_df):
    with pytest.raises(ValueError, match="segment_rows"):
        ewma_segmented(tall_df, "close", 20, segment_rows=10)


def test_segmented_many_segments_crosses_checkpoint_boundary(spark, tall_df):
    """10 segments at 250 rows: the periodic lineage cut
    (_CHECKPOINT_EVERY_SEGMENTS = 4, round-10 advisor item) fires twice
    mid-chain and must not perturb the carried fold — output stays
    bit-equal to the single-group scan. The plan assertion pins that the
    cut actually happened: each checkpoint is one ExistingRDD scan with
    output attributes of its own, and a 10-segment run shows the base
    checkpoint plus one piece checkpoint per boundary (after segments 4
    and 8). A silent revert to persist() leaves the base alone."""
    import re

    from polars_quant_spark.operators.segmented import _CHECKPOINT_EVERY_SEGMENTS
    from polars_quant_spark.plans.inspect import plan_str

    p = 20
    whole = (
        with_recurrences(tall_df, [Rec("e", "ema", ["close"], {"p": p})])
        .select("symbol", "t", "e")
        .collect()
    )
    seg_df = ewma_segmented(tall_df, "close", p, out="e", segment_rows=250)
    plan = plan_str(seg_df)
    checkpoints = set(
        re.findall(r"^\(\d+\) Scan ExistingRDD.*\nOutput \[\d+\]: (\[.*\])", plan, re.M)
    )
    assert len(checkpoints) == 1 + 10 // _CHECKPOINT_EVERY_SEGMENTS, checkpoints
    segd = seg_df.select("symbol", "t", "e").collect()
    w = {(r["symbol"], r["t"]): r["e"] for r in whole}
    s = {(r["symbol"], r["t"]): r["e"] for r in segd}
    assert w == s


def test_rsi_segmented_bit_equal_to_single_group(spark, tall_df):
    from polars_quant_spark.operators.segmented import rsi_segmented

    whole = (
        with_recurrences(tall_df, [Rec("r", "rsi", ["close"], {"p": 14})])
        .select("symbol", "t", "r")
        .collect()
    )
    segd = (
        rsi_segmented(tall_df, "close", 14, out="r", segment_rows=1000)
        .select("symbol", "t", "r")
        .collect()
    )
    w = {(r["symbol"], r["t"]): r["r"] for r in whole}
    s = {(r["symbol"], r["t"]): r["r"] for r in segd}
    assert set(w) == set(s)
    diff = [k for k in w if (w[k] is None) != (s[k] is None) or
            (w[k] is not None and w[k] != s[k])]
    assert not diff, diff[:5]
    assert sum(v is not None for v in s.values()) > 2400  # real values, not all-null


def test_atr_segmented_bit_equal_to_single_group(spark, tall_df):
    from polars_quant_spark.operators.segmented import atr_segmented

    hl = tall_df.withColumn("high", F.col("close") * 1.01).withColumn(
        "low", F.col("close") * 0.99
    )
    whole = (
        with_recurrences(hl, [Rec("a", "atr", ["high", "low", "close"], {"p": 14})])
        .select("symbol", "t", "a")
        .collect()
    )
    segd = (
        atr_segmented(hl, p=14, out="a", segment_rows=1000)
        .select("symbol", "t", "a")
        .collect()
    )
    w = {(r["symbol"], r["t"]): r["a"] for r in whole}
    s = {(r["symbol"], r["t"]): r["a"] for r in segd}
    assert set(w) == set(s)
    diff = [k for k in w if (w[k] is None) != (s[k] is None) or
            (w[k] is not None and w[k] != s[k])]
    assert not diff, diff[:5]
    assert sum(v is not None for v in s.values()) > 2400


def test_adx_family_segmented_bit_equal_to_single_group(spark, tall_df):
    from polars_quant_spark.operators.segmented import adx_family_segmented

    hl = tall_df.withColumn("high", F.col("close") * 1.01).withColumn(
        "low", F.col("close") * 0.99
    )
    specs = [
        Rec("plus_di", "plus_di", ["high", "low", "close"], {"p": 14}),
        Rec("minus_di", "minus_di", ["high", "low", "close"], {"p": 14}),
        Rec("plus_dm", "plus_dm", ["high", "low"], {"p": 14}),
        Rec("minus_dm", "minus_dm", ["high", "low"], {"p": 14}),
        Rec("dx", "dx", ["high", "low", "close"], {"p": 14}),
        Rec("adx", "adx", ["high", "low", "close"], {"p": 14}),
        Rec("adxr", "adxr", ["high", "low", "close"], {"p": 14}),
    ]
    names = ["plus_di", "minus_di", "plus_dm", "minus_dm", "dx", "adx", "adxr"]
    whole = (
        with_recurrences(hl, specs).select("symbol", "t", *names).collect()
    )
    segd = (
        adx_family_segmented(hl, p=14, segment_rows=1000)
        .select("symbol", "t", *names)
        .collect()
    )
    w = {(r["symbol"], r["t"]): tuple(r[n] for n in names) for r in whole}
    s = {(r["symbol"], r["t"]): tuple(r[n] for n in names) for r in segd}
    assert set(w) == set(s)
    diff = []
    for k in w:
        for a, b, n in zip(w[k], s[k], names):
            if (a is None) != (b is None) or (a is not None and a != b):
                diff.append((k, n, a, b))
    assert not diff, diff[:6]
    assert sum(v[-2] is not None for v in s.values()) > 2300  # adx populated


@pytest.mark.parametrize(
    "name,p,fn_name",
    [("dema", 10, "dema_segmented"), ("tema", 10, "tema_segmented"), ("t3", 5, "t3_segmented")],
)
def test_ema_chain_segmented_bit_equal(spark, tall_df, name, p, fn_name):
    """DEMA (2 chains), TEMA (3) and T3 (6) must equal the plain kernels
    bit-for-bit — the chained-compaction composition plus the kernel's
    combine float order, across segment and checkpoint boundaries."""
    import polars_quant_spark.operators.segmented as seg

    kw = {"p": p} if name != "t3" else {"p": p}
    whole = (
        with_recurrences(tall_df, [Rec("v", name, ["close"], kw)])
        .select("symbol", "t", "v")
        .collect()
    )
    segd = (
        getattr(seg, fn_name)(tall_df, "close", p=p, out="v", segment_rows=700)
        .select("symbol", "t", "v")
        .collect()
    )
    w = {(r["symbol"], r["t"]): r["v"] for r in whole}
    s = {(r["symbol"], r["t"]): r["v"] for r in segd}
    assert set(w) == set(s)
    diff = [k for k in w if (w[k] is None) != (s[k] is None) or
            (w[k] is not None and w[k] != s[k])]
    assert not diff, diff[:5]
    assert sum(v is not None for v in s.values()) > 2300


def test_kama_segmented_bit_equal_and_guard(spark, tall_df):
    """KAMA (nonlinear fold + trailing-p ER window) must equal the plain
    kernel bit-for-bit — the state+halo continuation replays the kernel's
    per-step arithmetic across segment AND checkpoint boundaries — and the
    p-row-segment divergence case must be rejected up front."""
    from polars_quant_spark.operators.segmented import kama_segmented

    whole = (
        with_recurrences(tall_df, [Rec("v", "kama", ["close"], {"p": 10})])
        .select("symbol", "t", "v")
        .collect()
    )
    for seg_rows in (700, 137):  # 4 and 19 segments on FAT: crosses checkpoints
        segd = (
            kama_segmented(tall_df, "close", p=10, out="v", segment_rows=seg_rows)
            .select("symbol", "t", "v")
            .collect()
        )
        w = {(r["symbol"], r["t"]): r["v"] for r in whole}
        s = {(r["symbol"], r["t"]): r["v"] for r in segd}
        assert set(w) == set(s)
        diff = [k for k in w if (w[k] is None) != (s[k] is None) or
                (w[k] is not None and w[k] != s[k])]
        assert not diff, (seg_rows, diff[:5])
        assert sum(v is not None for v in s.values()) > 2400
    with pytest.raises(ValueError):
        kama_segmented(tall_df, "close", p=10, segment_rows=10)


def _bit_equal(whole, segd, col):
    w = {(r["symbol"], r["t"]): r[col] for r in whole}
    s = {(r["symbol"], r["t"]): r[col] for r in segd}
    assert set(w) == set(s) and len(s) == len(segd)
    diff = [k for k in w if (w[k] is None) != (s[k] is None) or
            (w[k] is not None and w[k] != s[k])]
    assert not diff, diff[:5]


def test_sar_segmented_bit_equal_and_guard(spark, tall_df):
    """Parabolic SAR (4-tuple reversal state machine + 2-bar clamp halo)
    must equal the plain kernel bit-for-bit across segment AND checkpoint
    boundaries — the last with_recurrences family without a memory-bounded
    escape (VERDICT r10 #3)."""
    from polars_quant_spark.operators.segmented import sar_segmented

    hl = tall_df.withColumn("high", F.col("close") * 1.01).withColumn(
        "low", F.col("close") * 0.99
    )
    whole = (
        with_recurrences(hl, [Rec("v", "sar", ["high", "low"], {})])
        .select("symbol", "t", "v")
        .collect()
    )
    for seg_rows in (700, 137):  # 4 and 19 segments: crosses checkpoints
        segd = (
            sar_segmented(hl, out="v", segment_rows=seg_rows)
            .select("symbol", "t", "v")
            .collect()
        )
        _bit_equal(whole, segd, "v")
    with pytest.raises(ValueError):
        sar_segmented(hl, segment_rows=1)


def test_sarext_segmented_bit_equal_asymmetric(spark, tall_df):
    """SAREXT with a signed start value, reversal offset and ASYMMETRIC
    long/short acceleration schedules — every parameter the plain kernel
    honors must survive segmentation bit-for-bit."""
    from polars_quant_spark.operators.segmented import sarext_segmented

    hl = tall_df.withColumn("high", F.col("close") * 1.02).withColumn(
        "low", F.col("close") * 0.98
    )
    kw = {
        "startvalue": -95.0,
        "offsetonreverse": 0.01,
        "accelerationinitlong": 0.02,
        "accelerationlong": 0.03,
        "accelerationmaxlong": 0.25,
        "accelerationinitshort": 0.01,
        "accelerationshort": 0.04,
        "accelerationmaxshort": 0.15,
    }
    whole = (
        with_recurrences(hl, [Rec("v", "sarext", ["high", "low"], kw)])
        .select("symbol", "t", "v")
        .collect()
    )
    segd = (
        sarext_segmented(hl, out="v", segment_rows=300, **kw)
        .select("symbol", "t", "v")
        .collect()
    )
    _bit_equal(whole, segd, "v")


def test_sar_segmented_uneven_lengths_at_halo_boundary(spark):
    """The kama ADVICE-r10 bug class applies to the SAR halo too: symbols
    ending exactly at (EDGE=100) or just inside (MID=99) a later segment
    boundary's 2-row halo window must neither duplicate rows nor crash."""
    from polars_quant_spark.operators.segmented import sar_segmented

    rng = np.random.default_rng(13)
    frames = []
    for sym, n in [("FAT", 250), ("MID", 99), ("EDGE", 100)]:
        close = 100.0 + np.cumsum(rng.normal(0, 1, n))
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "t": np.arange(n),
                    "high": close * 1.01,
                    "low": close * 0.99,
                }
            )
        )
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    whole = (
        with_recurrences(df, [Rec("v", "sar", ["high", "low"], {})])
        .select("symbol", "t", "v")
        .collect()
    )
    segd = (
        sar_segmented(df, out="v", segment_rows=100)
        .select("symbol", "t", "v")
        .collect()
    )
    assert len(segd) == 250 + 99 + 100
    _bit_equal(whole, segd, "v")


def test_macd_q_segmented_bit_equal(spark, tall_df):
    """The quantized MACD trio (integer-lattice folds + compacted signal
    chain) must equal Rec('macd_q') bit-for-bit across segment and
    checkpoint boundaries — the second r10 segmented non-goal closed."""
    from polars_quant_spark.operators.segmented import macd_q_segmented

    qb = tall_df.select(
        "symbol",
        "t",
        F.floor(F.col("close") * 1000000.0 + F.lit(0.5))
        .cast("double")
        .alias("_cm"),
    )
    whole = (
        with_recurrences(
            qb,
            [Rec(["d", "s", "h"], "macd_q", ["_cm"],
                 {"fast": 12, "slow": 26, "signal": 9})],
        )
        .select("symbol", "t", "d", "s", "h")
        .collect()
    )
    for seg_rows in (700, 137):
        segd = (
            macd_q_segmented(
                qb, "_cm", dif_out="d", dea_out="s", hist_out="h",
                segment_rows=seg_rows,
            )
            .select("symbol", "t", "d", "s", "h")
            .collect()
        )
        for col in ("d", "s", "h"):
            _bit_equal(whole, segd, col)
    with pytest.raises(ValueError):
        macd_q_segmented(qb, "_cm", segment_rows=5)


def test_backtest_segmented_bit_equal(spark, tall_df):
    """The vectorized backtest fold (9-scalar state: position/cash/peak/
    entry/last_price/counters/hwm) must equal vectorized_backtest
    bit-for-bit across segment and checkpoint boundaries — including the
    per-symbol FINAL n_trades/n_wins repeated on every row, and the
    stop/trailing exits whose state spans boundaries."""
    from polars_quant_spark.backtest.vectorized import (
        BacktestParams,
        vectorized_backtest,
    )
    from polars_quant_spark.operators.segmented import backtest_segmented

    w = Window.partitionBy("symbol").orderBy("t")
    sig = (
        tall_df.withColumn("_ma_f", F.avg("close").over(w.rowsBetween(-4, 0)))
        .withColumn("_ma_s", F.avg("close").over(w.rowsBetween(-19, 0)))
        .withColumn("buy", F.col("_ma_f") > F.col("_ma_s"))
        .withColumn("sell", F.col("_ma_f") < F.col("_ma_s"))
        .drop("_ma_f", "_ma_s")
    )
    cols = ["position", "cash", "equity", "drawdown", "n_trades", "n_wins"]
    for p in (
        BacktestParams(),
        BacktestParams(stop_loss=0.02, take_profit=0.05, trailing_stop=0.03),
    ):
        whole = {
            (r["symbol"], r["t"]): tuple(r[c] for c in cols)
            for r in vectorized_backtest(sig, params=p)
            .select("symbol", "t", *cols)
            .collect()
        }
        for seg_rows in (700, 137):
            segd = {
                (r["symbol"], r["t"]): tuple(r[c] for c in cols)
                for r in backtest_segmented(
                    sig, params=p, segment_rows=seg_rows
                )
                .select("symbol", "t", *cols)
                .collect()
            }
            assert set(whole) == set(segd)
            diff = [k for k in whole if whole[k] != segd[k]]
            assert not diff, (seg_rows, diff[:3],
                              [(whole[k], segd[k]) for k in diff[:2]])


def test_macdext_q_segmented_bit_equal(spark, tall_df):
    """MACDEXT's quantized shape (EMA legs + SMA signal): the legs are
    segmented integer folds, the SMA signal is a bounded trailing window
    over dif-valid rows — all three outputs bit-equal to Rec('macdext_q')."""
    from polars_quant_spark.operators.segmented import macdext_q_segmented

    qb = tall_df.select(
        "symbol",
        "t",
        F.floor(F.col("close") * 1000000.0 + F.lit(0.5))
        .cast("double")
        .alias("_cm"),
    )
    whole = (
        with_recurrences(
            qb,
            [Rec(["d", "s", "h"], "macdext_q", ["_cm"],
                 {"fast": 12, "slow": 26, "signal": 9})],
        )
        .select("symbol", "t", "d", "s", "h")
        .collect()
    )
    segd = (
        macdext_q_segmented(
            qb, "_cm", dif_out="d", dea_out="s", hist_out="h",
            segment_rows=700,
        )
        .select("symbol", "t", "d", "s", "h")
        .collect()
    )
    for col in ("d", "s", "h"):
        _bit_equal(whole, segd, col)


def test_auto_backtest_dispatch(spark, tall_df):
    """auto_backtest picks the plain per-symbol fold below the threshold
    and the segmented fold above it (plan-asserted via the checkpointed
    base only the segmented arm builds), with identical outputs — the
    auto_chunk_windows discipline applied to the fold family."""
    from polars_quant_spark.backtest.vectorized import auto_backtest
    from polars_quant_spark.plans.inspect import plan_str

    w = Window.partitionBy("symbol").orderBy("t")
    sig = (
        tall_df.withColumn("_f", F.avg("close").over(w.rowsBetween(-4, 0)))
        .withColumn("_s", F.avg("close").over(w.rowsBetween(-19, 0)))
        .withColumn("buy", F.col("_f") > F.col("_s"))
        .withColumn("sell", F.col("_f") < F.col("_s"))
        .drop("_f", "_s")
    )
    plain = auto_backtest(sig)  # FAT=2500 rows << default threshold
    assert "ExistingRDD" not in plan_str(plain)
    segd = auto_backtest(sig, threshold=1000, segment_rows=800)
    assert "ExistingRDD" in plan_str(segd)
    cols = ["position", "cash", "equity", "drawdown", "n_trades", "n_wins"]
    a = {(r["symbol"], r["t"]): tuple(r[c] for c in cols)
         for r in plain.select("symbol", "t", *cols).collect()}
    b = {(r["symbol"], r["t"]): tuple(r[c] for c in cols)
         for r in segd.select("symbol", "t", *cols).collect()}
    assert a == b
    # explicit bound skips the measuring job and dispatches plan-time-only
    forced = auto_backtest(sig, max_rows_per_key=50_000_000)
    assert "ExistingRDD" in plan_str(forced)


def test_kama_segmented_uneven_lengths_at_halo_boundary(spark):
    """ADVICE r10 (high): symbols whose TOTAL row count lands inside (or
    exactly at) a later segment boundary's halo window (lo-p, lo] used to
    (a) duplicate their tail rows with NaN via the dense fallback when the
    group held only halo rows (halo_n < p), and (b) crash
    sliding_window_view when the length hit the boundary exactly
    (halo_n == p, nb == 0). Repro shape from the advice: segment_rows=100,
    p=10, MID=95 (inside segment-1's halo window), EDGE=100 (exactly at
    the boundary), EDGE2=195 (inside segment-2's halo window), FAT=250
    (drives last_seg to 2 so both later slices run)."""
    from polars_quant_spark.operators.segmented import kama_segmented

    rng = np.random.default_rng(11)
    frames = []
    for sym, n in [("FAT", 250), ("MID", 95), ("EDGE", 100), ("EDGE2", 195)]:
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "t": np.arange(n),
                    "close": 100.0 + np.cumsum(rng.normal(0, 1, n)),
                }
            )
        )
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    whole = (
        with_recurrences(df, [Rec("v", "kama", ["close"], {"p": 10})])
        .select("symbol", "t", "v")
        .collect()
    )
    segd = (
        kama_segmented(df, "close", p=10, out="v", segment_rows=100)
        .select("symbol", "t", "v")
        .collect()
    )
    assert len(segd) == 250 + 95 + 100 + 195  # no duplicated (symbol, t)
    w = {(r["symbol"], r["t"]): r["v"] for r in whole}
    s = {(r["symbol"], r["t"]): r["v"] for r in segd}
    assert set(w) == set(s) and len(s) == len(segd)
    diff = [k for k in w if (w[k] is None) != (s[k] is None) or
            (w[k] is not None and w[k] != s[k])]
    assert not diff, diff[:5]


def test_auto_segment_rows_resolution(spark, tall_df):
    """segment_rows="auto" sizes segments as max(FLOOR, ceil(max_rn/TARGET))
    and stays bit-equal to the plain kernel (VERDICT r11 #6: the census
    outliers came from a fixed demo segment_rows whose pass count grew
    linearly with history)."""
    from polars_quant_spark.operators.segmented import (
        AUTO_SEGMENT_FLOOR,
        AUTO_SEGMENT_TARGET,
        _segmented_base,
    )

    base, last_seg, rows = _segmented_base(tall_df, "symbol", "t", "auto", 1, "1")
    # FAT has 2500 bars: ceil(2500/4)=625 >= the 512 floor -> 4 segments
    assert rows == max(AUTO_SEGMENT_FLOOR, -(-2500 // AUTO_SEGMENT_TARGET))
    assert last_seg == (2500 - 1) // rows == AUTO_SEGMENT_TARGET - 1

    whole = (
        with_recurrences(tall_df, [Rec("e", "ema", ["close"], {"p": 20})])
        .select("symbol", "t", "e")
        .collect()
    )
    segd = (
        ewma_segmented(tall_df, "close", 20, out="e", segment_rows="auto")
        .select("symbol", "t", "e")
        .collect()
    )
    w = {(r["symbol"], r["t"]): r["e"] for r in whole}
    s = {(r["symbol"], r["t"]): r["e"] for r in segd}
    assert w == s


def test_auto_segment_rows_floor_validation(spark, tall_df):
    """A period larger than the auto-resolved segment size must still be
    rejected (validation happens AFTER resolution)."""
    import pytest as _pytest

    from polars_quant_spark.operators.segmented import ewma_segmented as es

    with _pytest.raises(ValueError, match="must be >= p"):
        es(tall_df, "close", 5000, out="e", segment_rows="auto")


def test_segment_rows_validated_before_any_job(spark, tall_df):
    """Invalid segment_rows raises ValueError at the TOP of
    _segmented_base (ADVICE r12) — previously 0 surfaced as
    ZeroDivisionError, and only after paying the checkpoint + max(_rn)
    action. An int below the operator's minimum segment (p, p + 1, 2) is
    rejected there too, so no case submits a Spark job — the quantized
    MACD operators included, whose slow leg (26) does not fit a 20-row
    segment though the fast leg (12) does. ``auto_backtest`` checks it
    before its probe job, whichever arm the probe would pick."""
    import uuid

    import pytest as _pytest

    from polars_quant_spark.backtest.vectorized import auto_backtest
    from polars_quant_spark.operators.segmented import ewma_segmented as es
    from polars_quant_spark.operators.segmented import (
        kama_segmented,
        macd_q_segmented,
        macdext_q_segmented,
        sar_segmented,
    )

    hl = tall_df.withColumn("high", F.col("close") * 1.01).withColumn(
        "low", F.col("close") * 0.99
    )
    qb = _every_input(tall_df)
    calls = [
        lambda bad=bad: es(tall_df, "close", 5, out="e", segment_rows=bad)
        for bad in (0, -5, 2.5, "autox", True)
    ] + [
        lambda: es(tall_df, "close", 20, out="e", segment_rows=10),
        lambda: kama_segmented(tall_df, "close", p=10, segment_rows=10),
        lambda: sar_segmented(hl, segment_rows=1),
        lambda: macd_q_segmented(qb, "_cm", segment_rows=20),
        lambda: macdext_q_segmented(qb, "_cm", segment_rows=20),
        # FAT is above 1,000 rows (the probe would run) and below 5,000
        lambda: auto_backtest(qb, threshold=1000, segment_rows=0),
        lambda: auto_backtest(qb, threshold=5000, segment_rows=0),
    ]
    sc = spark.sparkContext
    group = f"segment-rows-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        for call in calls:
            with _pytest.raises(ValueError, match="segment_rows"):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _jobs_of(spark, build) -> int:
    """The Spark jobs ``build()`` submits, counted by a job group of its
    own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_quantized_macd_builds_one_base(spark, tall_df):
    """Building ``macd_q_segmented`` or ``macdext_q_segmented`` submits the
    Spark jobs of ONE ``ewma_segmented`` build on the same frame: every
    leg shares one base checkpoint and one max(_rn) action, and nothing
    else runs before an action on the result."""
    qb = _every_input(tall_df)

    def ewma():
        return ewma_segmented(qb, "_cm", 12, segment_rows=700)

    ewma()  # one-off upstream jobs, if any, are paid outside the counts
    one = _jobs_of(spark, ewma)
    assert one >= 1
    assert _jobs_of(spark, lambda: seg.macd_q_segmented(qb, segment_rows=700)) == one
    assert _jobs_of(spark, lambda: seg.macdext_q_segmented(qb, segment_rows=700)) == one


def test_added_segment_costs_at_most_one_job(spark):
    """A pass takes its state through the exchange its own groupBy pays,
    so building ``indicator_family_segmented`` over 4×1,024 bars and
    running one noop action on it takes at most one more Spark job per
    added segment: 256-row segments (4 passes) against 512-row segments
    (2 passes)."""
    rng = np.random.default_rng(29)
    n = 1024
    close = 100.0 + np.cumsum(rng.normal(0, 1, 4 * n))
    b = spark.createDataFrame(
        pd.DataFrame(
            {
                "symbol": np.repeat(["A", "B", "C", "D"], n),
                "t": np.tile(np.arange(n), 4),
                "close": close,
                "high": close * 1.01,
                "low": close * 0.99,
            }
        )
    )

    def action(rows):
        out = seg.indicator_family_segmented(b, segment_rows=rows)
        out.write.format("noop").mode("overwrite").save()

    action(512)  # one-off jobs, if any, are paid outside the counts
    jobs = {rows: _jobs_of(spark, lambda: action(rows)) for rows in (512, 256)}
    assert jobs[256] - jobs[512] <= 2, jobs


def test_auto_backtest_mixed_corpus_split(spark, tall_df):
    """Mixed corpora split per key (VERDICT r11 #5): only oversized
    symbols ride the sequential segmented passes; the rest keep the
    one-job plain fold. The union must equal the plain whole-corpus fold
    on every row, and an all-big corpus must still dispatch fully
    segmented."""
    from polars_quant_spark.backtest.vectorized import (
        auto_backtest,
        vectorized_backtest,
    )
    from polars_quant_spark.plans.inspect import plan_str

    w = Window.partitionBy("symbol").orderBy("t")
    sig = (
        tall_df.withColumn("_f", F.avg("close").over(w.rowsBetween(-4, 0)))
        .withColumn("_s", F.avg("close").over(w.rowsBetween(-19, 0)))
        .withColumn("buy", F.col("_f") > F.col("_s"))
        .withColumn("sell", F.col("_f") < F.col("_s"))
        .drop("_f", "_s")
    )
    cols = ["position", "cash", "equity", "drawdown", "n_trades", "n_wins"]
    want = {(r["symbol"], r["t"]): tuple(r[c] for c in cols)
            for r in vectorized_backtest(sig).select("symbol", "t", *cols).collect()}

    # FAT(2500) > 1000 >= THIN(40): probe finds both regimes -> split
    mixed = auto_backtest(sig, threshold=1000, segment_rows=800)
    ps = plan_str(mixed)
    assert "Union" in ps  # both arms present
    got = {(r["symbol"], r["t"]): tuple(r[c] for c in cols)
           for r in mixed.select("symbol", "t", *cols).collect()}
    assert got == want

    # every symbol above threshold -> single segmented plan, no Union
    allbig = auto_backtest(sig, threshold=30, segment_rows=800)
    assert "Union" not in plan_str(allbig).split("ExistingRDD")[0]
    got2 = {(r["symbol"], r["t"]): tuple(r[c] for c in cols)
            for r in allbig.select("symbol", "t", *cols).collect()}
    assert got2 == want


def test_auto_backtest_null_key_groups(spark, tall_df):
    """NULL partition keys route correctly at every size (ADVICE r12):
    the probe's collect_list(when(...)) drops the null marker, so an
    OVERSIZED null-key group used to slip onto the whole-symbol plain
    fold (the OOM regime), and the segmented arm's equi-join-backs would
    have given it NULL output anyway. Now the probe measures the null
    group explicitly; big null groups run segmented under a synthetic
    constant key (restored to null after), small ones keep the null-safe
    plain arm. Ground truth is vectorized_backtest, whose pure
    groupBy().applyInPandas keeps a null group natively."""
    from polars_quant_spark.backtest.vectorized import (
        auto_backtest,
        vectorized_backtest,
    )

    w = Window.partitionBy("symbol").orderBy("t")
    sig = (
        tall_df
        # FAT -> null key (2500 rows, the oversized group); THIN stays
        .withColumn(
            "symbol",
            F.when(F.col("symbol") == "FAT", F.lit(None)).otherwise(
                F.col("symbol")
            ),
        )
        .withColumn("_f", F.avg("close").over(w.rowsBetween(-4, 0)))
        .withColumn("_s", F.avg("close").over(w.rowsBetween(-19, 0)))
        .withColumn("buy", F.col("_f") > F.col("_s"))
        .withColumn("sell", F.col("_f") < F.col("_s"))
        .drop("_f", "_s")
    )
    cols = ["position", "cash", "equity", "drawdown", "n_trades", "n_wins"]
    want = {(r["symbol"], r["t"]): tuple(r[c] for c in cols)
            for r in vectorized_backtest(sig).select("symbol", "t", *cols).collect()}

    # null group (2500) > 1000 >= THIN(40): null rides segmented, THIN plain
    big_null = auto_backtest(sig, threshold=1000, segment_rows=800)
    got = {(r["symbol"], r["t"]): tuple(r[c] for c in cols)
           for r in big_null.select("symbol", "t", *cols).collect()}
    assert got == want

    # both oversized: null -> sentinel segmented, THIN -> segmented
    got2 = {(r["symbol"], r["t"]): tuple(r[c] for c in cols)
            for r in auto_backtest(sig, threshold=30, segment_rows=800)
            .select("symbol", "t", *cols).collect()}
    assert got2 == want

    # small null group: stays on the plain arm (threshold above both)
    got3 = {(r["symbol"], r["t"]): tuple(r[c] for c in cols)
            for r in auto_backtest(sig, threshold=5000)
            .select("symbol", "t", *cols).collect()}
    assert got3 == want


def test_ema_chain_fused_seed_spans_segment_boundary(spark, tall_df):
    """Round-13 fused chain sweep: with tiny segments (segment_rows barely
    above p), the LATER chains' SMA seed windows span several segment
    boundaries — the (seen, partial-sum) carry must resume the seed's
    left-to-right adds exactly. With p=100 and segment_rows=260, chain 6
    starts warming at valid row 495 and its 100-row seed window crosses
    the boundary at 520 (chains 3-5 span boundaries too)."""
    import polars_quant_spark.operators.segmented as seg

    whole = (
        with_recurrences(tall_df, [Rec("v", "t3", ["close"], {"p": 100})])
        .select("symbol", "t", "v")
        .collect()
    )
    segd = (
        seg.t3_segmented(tall_df, "close", p=100, out="v", segment_rows=260)
        .select("symbol", "t", "v")
        .collect()
    )
    w = {(r["symbol"], r["t"]): r["v"] for r in whole}
    s = {(r["symbol"], r["t"]): r["v"] for r in segd}
    assert set(w) == set(s)
    diff = [k for k in w if (w[k] is None) != (s[k] is None) or
            (w[k] is not None and w[k] != s[k])]
    assert not diff, diff[:5]
    assert sum(v is not None for v in s.values()) > 1800


def test_segmented_bit_equal_to_kernels_per_group(spark):
    """The segmented sweeps must produce EXACTLY what their spec — the
    ``KERNELS`` run locally on the whole sorted symbol — produces, values
    and NULL positions, for the single-chain sweep (ewma_segmented, also
    on input with NaN holes, which it skips as the kernel's
    ``_compact_apply`` does), the integer-lattice sweeps on the same
    holes (ewma_q_segmented against ``_compact_apply(_ewma_q)``, and the
    quantized MACD/MACDEXT trios against their kernels), the
    fused multi-chain sweep with a derived chain (adx_family_segmented →
    _fused_ewma_sweep's str/index/callable source forms), and the fused
    family sweep (indicator_family_segmented) with ATR sharing ADX's TR
    chain (atr_p == adx_p) and on its own chain (atr_p != adx_p)."""
    from polars_quant_spark.operators.recurrence import KERNELS, _compact_apply, _ewma_q
    from polars_quant_spark.operators.segmented import (
        adx_family_segmented,
        ewma_q_segmented,
        indicator_family_segmented,
        macd_q_segmented,
        macdext_q_segmented,
    )
    from tests.group_spec import assert_matches_group_spec

    rng = np.random.default_rng(11)
    n = 1200
    hi = 100.0 + np.cumsum(rng.normal(0, 1, n))
    pdf = pd.DataFrame(
        {
            "symbol": "FAT",
            "t": np.arange(n),
            "high": hi,
            "low": hi - rng.uniform(0.1, 2.0, n),
            "close": hi - rng.uniform(0.0, 1.5, n),
        }
    )
    df = spark.createDataFrame(pdf)

    def kernel(name, *cols, **params):
        return lambda g: KERNELS[name][0](*[g[c].to_numpy() for c in cols], **params)

    rows = ewma_segmented(
        df.select("symbol", "t", "close"), "close", 14,
        alpha=1.0 / 14, out="e", segment_rows=300,
    ).select("symbol", "t", "e").collect()
    rma = kernel("rma", "close", p=14)
    assert_matches_group_spec(pdf, rows, ["e"], lambda g: {"e": rma(g)}, nan_is_null=True)

    # holes inside the SMA seed, at and around the segment boundary at 300,
    # and a 20-row gap
    holes = pdf["close"].copy()
    holes.iloc[[3, 10, 299, 300, 301, 650, *range(700, 720)]] = np.nan
    nan_pdf = pdf.assign(close=holes)
    rows = ewma_segmented(
        spark.createDataFrame(nan_pdf).select("symbol", "t", "close"), "close", 14,
        alpha=1.0 / 14, out="e", segment_rows=300,
    ).select("symbol", "t", "e").collect()
    assert_matches_group_spec(nan_pdf, rows, ["e"], lambda g: {"e": rma(g)}, nan_is_null=True)

    cm_pdf = nan_pdf.assign(cm=np.floor(nan_pdf["close"] * 1e6 + 0.5))
    cm_df = spark.createDataFrame(cm_pdf).select("symbol", "t", "cm")
    rows = ewma_q_segmented(
        cm_df, "cm", 2.0 / 13.0, 12, out="v", segment_rows=300
    ).select("symbol", "t", "v").collect()
    ema_q = lambda g: _compact_apply(lambda v: _ewma_q(v, 2.0 / 13.0, 12), g["cm"].to_numpy())
    assert_matches_group_spec(cm_pdf, rows, ["v"], lambda g: {"v": ema_q(g)}, nan_is_null=True)
    trio = ["d", "s", "h"]
    for op, name in ((macd_q_segmented, "macd_q"), (macdext_q_segmented, "macdext_q")):
        rows = op(
            cm_df, "cm", dif_out="d", dea_out="s", hist_out="h", segment_rows=300
        ).select("symbol", "t", *trio).collect()
        spec = kernel(name, "cm")
        assert_matches_group_spec(
            cm_pdf, rows, trio, lambda g: dict(zip(trio, spec(g))), nan_is_null=True
        )

    cols = ["plus_dm", "minus_dm", "plus_di", "minus_di", "dx", "adx", "adxr"]
    hlc = ("high", "low", "close")
    specs = {c: kernel(c, *(hlc[:2] if c.endswith("_dm") else hlc), p=14) for c in cols}
    rows = adx_family_segmented(df, p=14, segment_rows=300).select(
        "symbol", "t", *cols
    ).collect()
    assert_matches_group_spec(
        pdf, rows, cols, lambda g: {c: f(g) for c, f in specs.items()}, nan_is_null=True
    )

    for atr_p in (14, 10):
        fam = dict(specs)
        fam["rsi"] = kernel("rsi", "close", p=14)
        fam["atr"] = kernel("atr", *hlc, p=atr_p)
        fam["t3"] = kernel("t3", "close", p=5, vfactor=0.7)
        rows = indicator_family_segmented(
            df, rsi_p=14, atr_p=atr_p, adx_p=14, t3_p=5, t3_vfactor=0.7,
            segment_rows=300,
        ).select("symbol", "t", *fam).collect()
        assert_matches_group_spec(
            pdf, rows, list(fam), lambda g: {c: f(g) for c, f in fam.items()},
            nan_is_null=True,
        )


def test_segmented_halo_sites_bit_equal_to_kernels_per_group(spark):
    """kama, sar-family, ewma_q and backtest segmented must produce
    EXACTLY what their spec — the kernel (or ``_fold``) run locally on the
    whole sorted symbol — produces, values and NULL positions, including
    the halo-only-group early exit (uneven symbol lengths: MID ends just
    inside, EDGE exactly at, a later boundary's halo window)."""
    from polars_quant_spark.backtest.vectorized import BacktestParams, _fold
    from polars_quant_spark.operators.recurrence import KERNELS, _ewma_q
    from polars_quant_spark.operators.segmented import (
        backtest_segmented,
        ewma_q_segmented,
        kama_segmented,
        sarext_segmented,
    )
    from tests.group_spec import assert_matches_group_spec

    rng = np.random.default_rng(17)
    frames = []
    for sym, n in [("FAT", 450), ("MID", 99), ("EDGE", 100)]:
        close = 100.0 + np.cumsum(rng.normal(0, 1, n))
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "t": np.arange(n),
                    "high": close * 1.01,
                    "low": close * 0.99,
                    "close": close,
                    "cm": np.floor(close * 1e6 + 0.5),
                    "buy": (np.arange(n) % 37) == 3,
                    "sell": (np.arange(n) % 29) == 7,
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)

    def check(frame, cols, spec):
        rows = frame.select("symbol", "t", *cols).collect()
        assert_matches_group_spec(pdf, rows, cols, spec, nan_is_null=True)

    check(
        kama_segmented(df, "close", 10, out="v", segment_rows=100), ["v"],
        lambda g: {"v": KERNELS["kama"][0](g["close"].to_numpy(), 10)},
    )
    check(
        sarext_segmented(df, out="v", segment_rows=100), ["v"],
        lambda g: {"v": KERNELS["sarext"][0](g["high"].to_numpy(), g["low"].to_numpy())},
    )
    check(
        ewma_q_segmented(df, "cm", 2.0 / 13.0, 12, out="v", segment_rows=100), ["v"],
        lambda g: {"v": _ewma_q(g["cm"].to_numpy(), 2.0 / 13.0, 12)},
    )
    p = BacktestParams(stop_loss=0.02, trailing_stop=0.03)
    cols = ["position", "cash", "equity", "drawdown", "n_trades", "n_wins"]

    def fold(g):
        *arrays, trades, wins = _fold(
            g["close"].to_numpy(), g["buy"].to_numpy(), g["sell"].to_numpy(), p
        )
        n = len(g)
        return dict(zip(cols, [*arrays, np.full(n, trades), np.full(n, wins)]))

    check(backtest_segmented(df, params=p, segment_rows=137), cols, fold)


def test_fused_sweep_nan_accumulator_after_seed_propagates(spark):
    """ADVICE r13 (segmented.py scan_chains): a chain whose SEEDED
    accumulator is NaN at a segment boundary — the np.cumsum SMA seed over
    a window containing inf and -inf is NaN, and an all-inf tail keeps the
    carried e NaN through the segment end (pandas ewm treats inf as
    missing) — used to re-enter the warm-up branch on the next segment
    with need == 0, re-seeding from the bogus psum/p = 0.0. The warm-up
    guard is now `seen < p`, so the resume branch's NaN-seeded ewm
    restarts at the next valid value — exactly what the single-group
    kernel's one continuous ewm computes on the same input."""
    from polars_quant_spark.operators.segmented import dema_segmented

    n = 20
    close = np.arange(5.0, 5.0 + n)
    close[0], close[1], close[2] = 1.0, np.inf, -np.inf  # NaN SMA seed (p=3)
    close[3] = close[4] = np.inf  # ewm carries the NaN seed to the boundary
    df = spark.createDataFrame(
        pd.DataFrame({"symbol": "X", "t": np.arange(n), "close": close})
    )
    whole = (
        with_recurrences(df, [Rec("v", "dema", ["close"], {"p": 3})])
        .select("symbol", "t", "v")
        .collect()
    )
    segd = (
        dema_segmented(df, "close", p=3, out="v", segment_rows=5)
        .select("symbol", "t", "v")
        .collect()
    )
    _bit_equal(whole, segd, "v")


def test_fused_sweep_infinite_seed_row_matches_kernel(spark):
    """An SMA seed whose mean is +inf (an inf inside the seed window) is
    missing to pandas' ewm, so the kernel's seed row is NaN and its tail
    restarts at the next finite value. The sweep must emit the same NULL
    on that row, not the inf, or the next chained EMA seeds on it: DEMA's
    second chain would sum the inf into its own seed."""
    from polars_quant_spark.operators.segmented import dema_segmented

    n = 20
    close = np.arange(5.0, 5.0 + n)
    close[1] = np.inf  # seed window rows 0-2 (p=3) has mean +inf
    df = spark.createDataFrame(
        pd.DataFrame({"symbol": "X", "t": np.arange(n), "close": close})
    )
    whole = (
        with_recurrences(df, [Rec("v", "dema", ["close"], {"p": 3})])
        .select("symbol", "t", "v")
        .collect()
    )
    segd = (
        dema_segmented(df, "close", p=3, out="v", segment_rows=5)
        .select("symbol", "t", "v")
        .collect()
    )
    _bit_equal(whole, segd, "v")
    assert sum(r["v"] is not None for r in segd) > 10


def test_indicator_family_segmented_bit_equal_to_per_op(spark, tall_df):
    """Round-14 (VERDICT r13 #5): the fused multi-op family sweep — RSI +
    ATR + the DMI/ADX family + T3 in ONE sweep — must produce EXACTLY what
    composing the four per-op segmented calls produces, column by column,
    values and NULL positions, across segment boundaries. Covers both the
    shared-_str path (atr_p == adx_p) and the extra-chain path
    (atr_p != adx_p)."""
    from polars_quant_spark.operators.segmented import (
        adx_family_segmented,
        atr_segmented,
        indicator_family_segmented,
        rsi_segmented,
        t3_segmented,
    )

    hl = tall_df.withColumn("high", F.col("close") * 1.01).withColumn(
        "low", F.col("close") * 0.99
    )
    fam_cols = [
        "rsi", "atr", "plus_dm", "minus_dm", "plus_di", "minus_di",
        "dx", "adx", "adxr", "t3",
    ]

    for atr_p in (14, 10):
        per_op = rsi_segmented(hl, "close", 14, out="rsi", segment_rows=700)
        per_op = atr_segmented(
            per_op, p=atr_p, out="atr", segment_rows=700
        )
        per_op = adx_family_segmented(per_op, p=14, segment_rows=700)
        per_op = t3_segmented(per_op, "close", 5, out="t3", segment_rows=700)
        a = per_op.select("symbol", "t", *fam_cols).collect()
        fam = indicator_family_segmented(
            hl, rsi_p=14, atr_p=atr_p, adx_p=14, t3_p=5, segment_rows=700
        )
        b = fam.select("symbol", "t", *fam_cols).collect()
        for c in fam_cols:
            _bit_equal(a, b, c)


def _every_input(tall_df):
    """tall_df plus every column some segmented operator reads."""
    return (
        tall_df.withColumn("high", F.col("close") * 1.01)
        .withColumn("low", F.col("close") * 0.99)
        .withColumn("_cm", F.floor(F.col("close") * 1000000.0 + F.lit(0.5)).cast("double"))
        .withColumn("buy", F.col("t") % 37 == 3)
        .withColumn("sell", F.col("t") % 29 == 7)
    )


_EVERY_OPERATOR = {
    "ewma_segmented": lambda df: seg.ewma_segmented(df, "close", 5, segment_rows=700),
    "rsi_segmented": lambda df: seg.rsi_segmented(df, segment_rows=700),
    "atr_segmented": lambda df: seg.atr_segmented(df, segment_rows=700),
    "adx_family_segmented": lambda df: seg.adx_family_segmented(df, segment_rows=700),
    "dema_segmented": lambda df: seg.dema_segmented(df, p=5, segment_rows=700),
    "tema_segmented": lambda df: seg.tema_segmented(df, p=5, segment_rows=700),
    "t3_segmented": lambda df: seg.t3_segmented(df, segment_rows=700),
    "indicator_family_segmented": lambda df: seg.indicator_family_segmented(
        df, segment_rows=700
    ),
    "kama_segmented": lambda df: seg.kama_segmented(df, p=10, segment_rows=700),
    "sar_segmented": lambda df: seg.sar_segmented(df, segment_rows=700),
    "sarext_segmented": lambda df: seg.sarext_segmented(df, segment_rows=700),
    "ewma_q_segmented": lambda df: seg.ewma_q_segmented(
        df, "_cm", 2.0 / 13.0, 12, segment_rows=700
    ),
    "macd_q_segmented": lambda df: seg.macd_q_segmented(df, segment_rows=700),
    "macdext_q_segmented": lambda df: seg.macdext_q_segmented(df, segment_rows=700),
    "backtest_segmented": lambda df: seg.backtest_segmented(df, segment_rows=700),
}


def test_every_public_segmented_operator_is_covered():
    public = {n for n in dir(seg) if n.endswith("_segmented") and not n.startswith("_")}
    assert public == set(_EVERY_OPERATOR)


@pytest.mark.parametrize("name", sorted(_EVERY_OPERATOR))
def test_segmented_empty_input(spark, tall_df, name):
    """Empty input is one empty pass: 0 rows, with the column names and
    types of a non-empty call (double outputs, long n_trades/n_wins)."""
    from pyspark.sql.types import DoubleType, LongType

    df = _every_input(tall_df)
    full = _EVERY_OPERATOR[name](df)
    empty = _EVERY_OPERATOR[name](df.limit(0))
    assert empty.collect() == []
    fields = [(f.name, f.dataType) for f in empty.schema]
    assert fields == [(f.name, f.dataType) for f in full.schema]
    added = [(c, t) for c, t in fields if c not in df.columns]
    assert added
    for c, t in added:
        assert t == (LongType() if c in ("n_trades", "n_wins") else DoubleType()), c


@pytest.mark.parametrize("name", ["rsi_segmented", "t3_segmented"])
def test_segmented_duplicate_key_keeps_row_count(spark, tall_df, name):
    """A duplicated (symbol, t) row stays one output row per input row:
    the outputs are selected off the sweep, which holds every input row,
    instead of joined back on (symbol, t), which pairs every copy with
    every copy. Values on the tied rows are not asserted: row_number's
    tie order is arbitrary."""
    dup = tall_df.unionByName(
        tall_df.where((F.col("symbol") == "FAT") & (F.col("t") == 1500))
    )
    rows = _EVERY_OPERATOR[name](dup).select("symbol", "t").collect()
    assert len(rows) == 2540 + 1


@pytest.mark.parametrize(
    "name", ["rsi_segmented", "t3_segmented", "adx_family_segmented"]
)
def test_segmented_plan_has_no_order_key_join(spark, tall_df, name):
    """No join keyed on the order column (``t#``) in the physical plan:
    the operator's outputs come off the sweep's output, which already
    holds every input row and column. The driver's (symbol, _rn)
    join-back stays."""
    import re

    from polars_quant_spark.plans.inspect import plan_str

    plan = plan_str(_EVERY_OPERATOR[name](_every_input(tall_df)))
    keys = re.findall(r"^(?:Left|Right) keys \[\d+\]: \[(.*)\]$", plan, re.M)
    assert any(re.search(r"\b_rn#\d+", k) for k in keys), keys
    assert not [k for k in keys if re.search(r"\bt#\d+", k)], keys


def _same_bits(got, want) -> bool:
    """Bit equality of two float arrays as uint64 views (NaN and NULL
    both read as the one canonical NaN)."""
    got = np.array([np.nan if v is None else v for v in got], dtype=np.float64)
    want = np.array(want, dtype=np.float64)
    got[np.isnan(got)] = want[np.isnan(want)] = np.nan
    return np.array_equal(got.view(np.uint64), want.view(np.uint64))


def test_segmented_null_key_bit_equal_to_kernels(spark):
    """A NULL symbol is one more symbol: its state rides the union into
    the next pass's group and the join-backs are null-safe, so every
    segmented operator gives the NULL-key symbol exactly its kernel's
    output, as it does the named symbol next to it."""
    from polars_quant_spark.backtest.vectorized import BacktestParams, _fold
    from polars_quant_spark.operators.recurrence import KERNELS

    rng = np.random.default_rng(23)
    lens = {"N": 300, "A": 170}  # 3 segments; A ends inside the second
    frames = []
    for sym, n in lens.items():
        close = 100.0 + np.cumsum(rng.normal(0, 1, n))
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "t": np.arange(n),
                    "close": close,
                    "high": close + rng.uniform(0.1, 2.0, n),
                    "low": close - rng.uniform(0.1, 2.0, n),
                    "_cm": np.floor(close * 1e6 + 0.5),
                    "buy": (np.arange(n) % 37) == 3,
                    "sell": (np.arange(n) % 29) == 7,
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf).withColumn(
        "symbol", F.when(F.col("symbol") != "N", F.col("symbol"))
    )

    def k(name, *cols, **params):
        return lambda g: KERNELS[name][0](*[g[c] for c in cols], **params)

    hlc = ("high", "low", "close")
    family = {
        c: k(c, *(hlc[:2] if c.endswith("_dm") else hlc), p=14)
        for c in ["plus_dm", "minus_dm", "plus_di", "minus_di", "dx", "adx", "adxr"]
    }
    family.update(
        rsi=k("rsi", "close", p=14), atr=k("atr", *hlc, p=14),
        t3=k("t3", "close", p=5, vfactor=0.7),
    )
    trio = ["macd_dif", "macd_dea", "macd_hist"]
    bt = ["position", "cash", "equity", "drawdown", "n_trades", "n_wins"]

    def fold(g):
        *arrays, trades, wins = _fold(g["close"], g["buy"], g["sell"], BacktestParams())
        n = len(g["close"])
        return dict(zip(bt, [*arrays, np.full(n, trades), np.full(n, wins)]))

    table = [
        (seg.ewma_segmented(df, "close", 10, segment_rows=100),
         lambda g: {"ema": k("ema", "close", p=10)(g)}),
        (seg.kama_segmented(df, "close", 10, segment_rows=100),
         lambda g: {"kama": k("kama", "close", p=10)(g)}),
        (seg.sar_segmented(df, segment_rows=100),
         lambda g: {"sar": k("sar", "high", "low")(g)}),
        (seg.indicator_family_segmented(df, segment_rows=100),
         lambda g: {c: f(g) for c, f in family.items()}),
        (seg.macd_q_segmented(df, segment_rows=100),
         lambda g: dict(zip(trio, k("macd_q", "_cm")(g)))),
        (seg.backtest_segmented(df, segment_rows=100), fold),
    ]
    for out, spec in table:
        rows = out.collect()
        assert len(rows) == sum(lens.values())
        for sym in (None, "A"):
            got = sorted((r for r in rows if r["symbol"] == sym), key=lambda r: r["t"])
            g = pdf[pdf["symbol"] == (sym or "N")]
            want = spec({c: g[c].to_numpy() for c in g.columns})
            for c, v in want.items():
                assert _same_bits([r[c] for r in got], v), (list(want), sym, c)


def test_pass_driver_writes_one_final_row_per_symbol(spark):
    """Every symbol leaves exactly one final-state row (``_rn`` = −2),
    holding the state after its last row, whatever pass its history ends
    in: one long symbol (5 passes) and 50 short ones, among them one
    NULL key, histories ending on a segment boundary (the last one
    included), just inside a later pass's 2-row halo window and mid
    segment. The scan counts rows, so every output row reads its row
    number and every final state the symbol's length."""
    from collections import Counter

    lens = [100, 200, 300, 400, 99, 199, 98, 1, 2, 101]
    lens += [3 + 9 * i for i in range(50 - len(lens))]
    syms = [None] + [f"S{i}" for i in range(1, len(lens))]
    pdf = pd.concat(
        [pd.DataFrame({"symbol": s, "t": np.arange(n)}) for s, n in zip(syms, lens)]
        + [pd.DataFrame({"symbol": "LONG", "t": np.arange(450)})],
        ignore_index=True,
    )
    df = spark.createDataFrame(pdf.fillna({"symbol": "NULL"})).withColumn(
        "symbol", F.when(F.col("symbol") != "NULL", F.col("symbol"))
    )

    def scan(tbl, seed, halo_n):
        seen = seed[0] if seed is not None else 0.0
        body = np.arange(1, tbl.num_rows - halo_n + 1, dtype=np.float64)
        return [seen + body], [seen + len(body)]

    out, finals = seg._segmented_passes(
        df, "symbol", "t", 100, 2, "2", ["t"], ["c"], scan, halo=2
    )
    length = dict(zip(syms, lens), LONG=450)
    rows = finals.collect()
    assert Counter(r["symbol"] for r in rows) == dict.fromkeys(length, 1)
    assert {r["symbol"]: r["_st"] for r in rows} == {s: [n] for s, n in length.items()}
    got = out.select("symbol", "t", "c").collect()
    assert len(got) == sum(length.values())
    assert all(r["c"] == r["t"] + 1 for r in got)
