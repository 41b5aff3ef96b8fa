"""Stateful streaming operators: state must survive micro-batch boundaries
and reproduce the batch kernels exactly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from polars_quant_spark.operators import recurrence as rec
from polars_quant_spark.streaming import stateful
from polars_quant_spark.streaming.windows import run_available_now


def _run_stream(spark, tmp_path, pdf, schema, build, name, cuts=None):
    """Write pdf as several parquet files (micro-batches): four equal parts,
    or the pieces between the row indices ``cuts``. Run the stateful query
    with maxFilesPerTrigger=1 so state genuinely crosses batches."""
    src = tmp_path / "src"
    src.mkdir(parents=True)
    n = len(pdf)
    bounds = [0, *cuts, n] if cuts else [*range(0, n, n // 4), n]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        pdf.iloc[lo:hi].to_parquet(src / f"part{i}.parquet", index=False)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return run_available_now(build(stream), name).toPandas()


def _bits(a) -> np.ndarray:
    return np.asarray(a, dtype="float64").view(np.uint64)


# A close series with a NaN close at row 50 and a non-positive one at row
# 80, cut into micro-batches inside the EMA's 20-row SMA seed, right after
# the NaN close, or right after the non-positive close.
_N = 120
_CUTS = {"in_seed": [10], "after_nan": [51], "after_nonpositive": [81]}


def _close(seed: int) -> np.ndarray:
    close = 50 + np.cumsum(np.random.default_rng(seed).normal(0, 1, _N))
    close[50] = np.nan
    close[80] = -1.0
    return close


def test_streaming_ema_matches_batch(spark, tmp_path):
    """Bit-equal to ``recurrence.ema`` over the whole stream, for each
    micro-batch split."""
    close = _close(2)
    pdf = pd.DataFrame(
        {"symbol": ["X"] * _N, "ts_us": np.arange(1, _N + 1, dtype="int64"), "close": close}
    )
    schema = StructType(
        [
            StructField("symbol", StringType()),
            StructField("ts_us", LongType()),
            StructField("close", DoubleType()),
        ]
    )
    want = _bits(rec.ema(close, 20))
    for label, cuts in _CUTS.items():
        out = _run_stream(
            spark, tmp_path / label, pdf, schema,
            lambda s: stateful.streaming_ema(s, 20), "sema", cuts,
        )
        got = out.sort_values("ts_us")["ema"].to_numpy(dtype="float64", na_value=np.nan)
        np.testing.assert_array_equal(_bits(got), want, err_msg=label)


def test_streaming_position_matches_batch_fold(spark, tmp_path):
    """Bit-equal to the zero-cost ``_fold_state`` over the whole stream,
    for each micro-batch split: the NaN and non-positive closes are frozen
    bars marked at the last valid price."""
    from polars_quant_spark.backtest.vectorized import BacktestParams, _fold_state

    rng = np.random.default_rng(4)
    close = _close(4)
    buy = rng.random(_N) < 0.2
    sell = rng.random(_N) < 0.2
    pdf = pd.DataFrame(
        {
            "symbol": ["X"] * _N,
            "ts_us": np.arange(1, _N + 1, dtype="int64"),
            "close": close,
            "buy": buy,
            "sell": sell,
        }
    )
    schema = StructType(
        [
            StructField("symbol", StringType()),
            StructField("ts_us", LongType()),
            StructField("close", DoubleType()),
            StructField("buy", BooleanType()),
            StructField("sell", BooleanType()),
        ]
    )
    p = BacktestParams(buy_commission_rate=0.0, sell_commission_rate=0.0, min_commission=0.0)
    pos, cash, eq, _, _ = _fold_state(close, buy, sell, p)
    assert (pos > 0).any() and (pos == 0).any()
    for label, cuts in _CUTS.items():
        out = _run_stream(
            spark, tmp_path / label, pdf, schema, stateful.streaming_position, "spos", cuts
        ).sort_values("ts_us")
        for col, want in (("position", pos), ("cash", cash), ("equity", eq)):
            np.testing.assert_array_equal(
                _bits(out[col]), _bits(want), err_msg=f"{label} {col}"
            )


def test_recurrence_and_stream_calls_validated_before_any_job(spark):
    """``with_recurrences`` rejects an unknown kernel, an input column count
    off the kernel's registered arity, an output name count off its
    registered output count and an input column that is neither in the
    frame nor an earlier spec's output (ValueError), and ``params`` the
    kernel's signature does not bind (TypeError); ``streaming_ema`` rejects
    a ``p`` that is not an int >= 1 (ValueError). Each raises at call time,
    so no case submits a Spark job (before, each failed only inside a
    Python task, after the shuffle)."""
    import uuid

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "symbol": ["X"] * 3,
                "t": [1, 2, 3],
                "ts_us": [1, 2, 3],
                "close": [1.0, 2.0, 3.0],
                "high": [1.5, 2.5, 3.5],
                "low": [0.5, 1.5, 2.5],
            }
        )
    )
    wr = rec.with_recurrences
    calls = [
        (lambda: wr(df, [rec.Rec("e", "emaa", ["close"], {"p": 5})]), "unknown"),
        (lambda: wr(df, [rec.Rec("a", "atr", ["high", "low"], {"p": 5})]), "takes 3"),
        (lambda: wr(df, [rec.Rec("e", "ema", ["close", "high"], {"p": 5})]), "takes 1"),
        (lambda: wr(df, [rec.Rec("e", "ema", ["volume"], {"p": 5})]), "not found"),
        (
            lambda: wr(
                df,
                [
                    rec.Rec("e2", "ema", ["e"], {"p": 5}),
                    rec.Rec("e", "ema", ["close"], {"p": 5}),
                ],
            ),
            "not found",
        ),
        (lambda: wr(df, [rec.Rec("m", "macd", ["close"], {})]), "returns 3"),
        (lambda: wr(df, [rec.Rec(["e", "f"], "ema", ["close"], {"p": 5})]), "returns 1"),
        (
            lambda: wr(df, [rec.Rec(["s"], "supertrend", ["high", "low", "close"], {})]),
            "returns 2",
        ),
    ] + [
        (lambda bad=bad: stateful.streaming_ema(df, bad), "p must be")
        for bad in (0, -3, 2.5, "20", True)
    ]
    unbound = [
        rec.Rec("e", "ema", ["close"], {"period": 5}),
        rec.Rec("e", "ema", ["close"], {"x": 5}),
        rec.Rec("s", "sar", ["high", "low"], {"p": 5}),
        rec.Rec(["m", "s", "h"], "macdfix", ["close"], {"fast": 12}),
    ]
    calls = [(call, ValueError, match) for call, match in calls] + [
        (lambda r=r: wr(df, [r]), TypeError, f"kernel '{r.kernel}' params")
        for r in unbound
    ]
    sc = spark.sparkContext
    group = f"call-validation-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        for call, exc, match in calls:
            with pytest.raises(exc, match=match):
                call()
        # an earlier spec's output is a valid input of a later spec
        wr(
            df,
            [
                rec.Rec("e", "ema", ["close"], {"p": 2}),
                rec.Rec("e2", "ema", ["e"], {"p": 2}),
            ],
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stream-static dimension join: the real readStream form (4 micro-
    batches) must produce exactly the batch rollup, with the join itself
    stateless (completed windows only, watermark on the agg)."""
    from polars_quant_spark.streaming.windows import enriched_nation_counts

    rng = np.random.default_rng(7)
    n = 400
    base = pd.Timestamp("2026-01-01", tz="UTC").value // 1000
    pdf = pd.DataFrame(
        {
            "user_id": rng.integers(0, 20, n),
            "value": rng.normal(100.0, 5.0, n).round(3),
            "ts_us": base + rng.integers(0, 6 * 3600_000_000, n),
        }
    ).sort_values("ts_us", kind="stable").reset_index(drop=True)
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
            StructField("ts_us", LongType()),
        ]
    )
    customer = spark.createDataFrame(
        pd.DataFrame({"c_custkey": range(20), "c_nationkey": [i % 5 for i in range(20)]})
    )
    nation = spark.createDataFrame(
        pd.DataFrame({"n_nationkey": range(5), "n_name": [f"N{i}" for i in range(5)]})
    )

    def build(stream):
        ev = stream.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
        return enriched_nation_counts(ev, customer, nation, window="1 hour")

    got = _run_stream(spark, tmp_path, pdf, schema, build, "enrich_stream")

    batch_ev = spark.createDataFrame(pdf, schema).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    exp = (
        enriched_nation_counts(batch_ev, customer, nation, window="1 hour")
        .orderBy("window_start", "n_name")
        .toPandas()
    )
    # append mode emits only watermark-closed windows; compare that subset
    got = got.sort_values(["window_start", "n_name"]).reset_index(drop=True)
    exp = exp[exp["window_start"].isin(set(got["window_start"]))].reset_index(drop=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, exp, check_like=True)


def test_interval_join_stream_equals_batch(spark, sf_dir):
    """The watermarked stream-stream interval join drains (availableNow) to
    exactly the pair set the same function produces on batch frames."""
    from polars_quant_spark.queries_pipeline import QUERIES as PQ
    from polars_quant_spark.sources.bars import load_table, ts_us_expr
    from polars_quant_spark.streaming.join import interval_join

    got = (
        PQ["stream_attribution_join"](spark, sf_dir)
        .orderBy("purchase_id", "click_id")
        .collect()
    )
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("event_time", F.timestamp_micros(ts_us_expr(ev)))
    p = ev.where(F.col("value") > 300.0).select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("event_time").alias("p_time"),
    )
    c = ev.where(F.col("value") < 100.0).select(
        F.col("event_id").alias("click_id"), F.col("user_id"),
        F.col("event_time").alias("c_time"),
    )
    exp = (
        interval_join(p, c, "user_id", "p_time", "c_time", lookback="3 days")
        .select(
            "purchase_id", "click_id", "user_id",
            F.unix_micros("p_time").alias("p_ts_us"),
            F.unix_micros("c_time").alias("c_ts_us"),
        )
        .orderBy("purchase_id", "click_id")
        .collect()
    )
    assert len(got) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_exactly_once_sink(spark, sf_dir, tmp_path):
    """The foreachBatch batch_id-overwrite sink: output equals the batch
    computation; restarting from the same checkpoint adds nothing; a
    replayed batch (the at-least-once failure mode) leaves the output
    byte-identical instead of appending duplicates."""
    from polars_quant_spark.sources.bars import load_table
    from polars_quant_spark.streaming.sink import (
        batch_writer,
        write_stream_exactly_once,
    )
    from polars_quant_spark.streaming.windows import read_events_stream

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = read_events_stream(spark, sf_dir).select("event_id", "event_type")
    q = write_stream_exactly_once(stream, out_dir, ckpt)
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    n_batch = load_table(spark, sf_dir, "events").count()
    assert got.count() == n_batch
    assert got.select("event_id").distinct().count() == n_batch
    # restart with the same checkpoint: no new data, nothing appended
    q2 = write_stream_exactly_once(stream, out_dir, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out_dir).count() == n_batch
    # simulate the crash-replay: rerun batch 0's write directly
    # (localCheckpoint materializes the rows first — the replay source in a
    # real crash is the upstream stream, not the files being overwritten)
    replay = spark.read.parquet(out_dir + "/batch_id=0").localCheckpoint(eager=True)
    batch_writer(out_dir)(replay, 0)
    assert spark.read.parquet(out_dir).count() == n_batch


def test_streaming_source_quota_matches_batch_cumsum(spark, tmp_path):
    """Per-source token quota across FOUR micro-batches: the running total
    must survive batch boundaries, and the admitted set must equal the
    batch cumsum-window rule (prefix admission, budget 100)."""
    rng = np.random.default_rng(11)
    n = 80
    pdf = pd.DataFrame(
        {
            "source": [f"s{i % 3}" for i in range(n)],
            "doc_id": np.arange(n, dtype="int64"),
            "n_tokens": rng.integers(1, 20, n).astype("int64"),
        }
    )
    schema = StructType(
        [
            StructField("source", StringType()),
            StructField("doc_id", LongType()),
            StructField("n_tokens", LongType()),
        ]
    )
    rows = _run_stream(
        spark,
        tmp_path,
        pdf,
        schema,
        lambda s: stateful.streaming_source_quota(s, budget=100),
        "pqs_quota_test",
    )
    got = {
        (s, int(d), int(c))
        for s, d, c in rows[["source", "doc_id", "cum_tokens"]].itertuples(index=False)
    }

    exp = set()
    for src_name, g in pdf.groupby("source"):
        g = g.sort_values("doc_id")
        cum = g["n_tokens"].cumsum()
        for did, c in zip(g["doc_id"], cum):
            if c <= 100:
                exp.add((src_name, did, int(c)))
    assert got == exp
    # the budget genuinely cut something (non-vacuous)
    assert 0 < len(got) < n


def test_streaming_ohlcv_matches_batch_across_batches(spark, tmp_path):
    """OHLCV window aggregation with events split across FOUR micro-batches
    (maxFilesPerTrigger=1): window state must merge partial bars across
    batches and equal the batch groupBy — including open/close argmin/
    argmax resolved over the scalar time+id key."""
    import pandas as pd

    from polars_quant_spark.streaming.windows import streaming_ohlcv

    rng = np.random.default_rng(5)
    n = 120
    base_us = pd.Timestamp("2024-01-01 00:00:00").value // 1000
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts_us": base_us + rng.integers(0, 600, n).astype("int64") * 60_000_000,
            "event_type": [f"s{i % 2}" for i in range(n)],
            "value": rng.uniform(0, 1000, n),
        }
    )
    # shuffle row order so arrival order != time order inside batches
    pdf = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    schema = "event_id BIGINT, ts_us BIGINT, event_type STRING, value DOUBLE"
    src = tmp_path / "src"
    src.mkdir()
    for i, lo in enumerate(range(0, n, n // 4)):
        pdf.iloc[lo : lo + n // 4].to_parquet(src / f"p{i}.parquet", index=False)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    )
    bars = streaming_ohlcv(stream, window="1 hour", watermark="10 hours")
    got = {
        (r["window_start"], r["symbol"]): (r["open"], r["high"], r["low"], r["close"], r["n_ticks"])
        for r in run_available_now(bars, "pqs_ohlcv_test", "complete").collect()
    }

    pdf["px"] = 300.0 + pdf["value"] / 10.0
    pdf["ts"] = pd.to_datetime(pdf["ts_us"], unit="us")
    pdf["win"] = pdf["ts"].dt.floor("1h")
    exp = {}
    for (win, sym), g in pdf.groupby(["win", "event_type"]):
        g = g.sort_values(["ts_us", "event_id"])
        exp[(win.to_pydatetime(), sym)] = (
            g["px"].iloc[0],
            g["px"].max(),
            g["px"].min(),
            g["px"].iloc[-1],
            len(g),
        )
    assert set(got) == set(exp)
    for k in exp:
        for a, b in zip(got[k], exp[k]):
            assert abs(a - b) < 1e-9, (k, got[k], exp[k])


def test_streaming_zscore_matches_batch_windows(spark, tmp_path):
    """Rolling z-score with the 49-value buffer crossing FOUR micro-batch
    boundaries must flag exactly the rows the batch trailing-window rule
    flags (integer-quantized moments make the comparison exact)."""
    rng = np.random.default_rng(9)
    n = 400
    vals = rng.normal(100.0, 5.0, n)
    spikes = rng.choice(n, 12, replace=False)
    vals[spikes] += rng.choice([-60.0, 60.0], 12)
    pdf = pd.DataFrame(
        {
            "event_type": ["a"] * n,
            "event_id": np.arange(n, dtype="int64"),
            "ts_us": np.arange(n, dtype="int64") * 1_000_000,
            "value": vals,
        }
    )
    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    got = _run_stream(
        spark,
        tmp_path,
        pdf,
        schema,
        lambda s: __import__(
            "polars_quant_spark.streaming.stateful", fromlist=["streaming_zscore"]
        ).streaming_zscore(s, window=50, threshold=3.0),
        "pqs_zs_test",
    )
    got_ids = set(got["event_id"].astype("int64"))

    qv = np.floor(vals * 1e6 + 0.5).astype("int64")
    exp_ids = set()
    for i in range(49, n):
        w = qv[i - 49 : i + 1]
        S1, S2 = int(w.sum()), int((w.astype(object) * w).sum())
        mu = S1 / 1e6 / 50
        var = S2 / 1e12 / 50 - mu * mu
        if var > 0:
            z = (qv[i] / 1e6 - mu) / var ** 0.5
            if abs(z) > 3.0:
                exp_ids.add(i)
    assert got_ids == exp_ids
    assert len(exp_ids) > 0
