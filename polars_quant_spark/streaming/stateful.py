"""Custom stateful streaming operators via applyInPandasWithState.

The reference's sequential backtester is "the natural streaming candidate
(stateful per-key fold)" (SURVEY §2.7). A micro-batch is one more split of
the frame, so these operators carry per-key state across micro-batches and
the folds that have a batch kernel resume that kernel's own step from it:

* ``streaming_ema`` — state (seen, psum, e), the carry of
  ``recurrence._ewm_chain``, the step the segmented EMA sweep resumes;
* ``streaming_position`` — state the 9-scalar ``vectorized.FoldState`` of
  ``vectorized._fold_state``, the carry ``backtest_segmented`` resumes;
* ``streaming_source_quota`` — state the running token total;
* ``streaming_zscore`` — state the last window−1 micro-quantized values;
* ``streaming_latest_compact`` — state the winning change row.

Every operator is one ``_keyed_fold``. State is a tiny tuple per key,
stored in the state store — size is bounded by key cardinality, not
stream length.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from polars_quant_spark.backtest.vectorized import BacktestParams, _fold_state
from polars_quant_spark.operators.recurrence import _ewm_chain


def _keyed_fold(
    df: DataFrame,
    key: str,
    fold: Callable[..., Iterator[pd.DataFrame]],
    init: tuple | None,
    out: StructType,
    state: StructType,
) -> DataFrame:
    """``df.groupBy(key).applyInPandasWithState`` over one generator
    ``fold(key_value, pdfs, carry)``: it yields the output frames of a
    key's micro-batch and returns the carry to store as the key's state.
    ``carry`` is the stored state, or ``init`` for a key not seen yet."""

    def fn(k, pdfs, st):
        carry = yield from fold(k[0], pdfs, tuple(st.get) if st.exists else init)
        st.update(carry)

    return df.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out,
        stateStructType=state,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EMA_OUT = StructType(
    [
        StructField("symbol", StringType()),
        StructField("ts_us", LongType()),
        StructField("close", DoubleType()),
        StructField("ema", DoubleType()),
    ]
)

# state: the _ewm_chain carry (seen, psum, e)
EMA_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("acc", DoubleType()),
        StructField("ema", DoubleType()),
    ]
)


def streaming_ema(events: DataFrame, p: int = 20) -> DataFrame:
    """Per-symbol streaming EMA (α = 2/(p+1), SMA-seeded), bit-equal to
    ``recurrence.ema`` over the whole stream however it is cut into
    micro-batches: each micro-batch, sorted by ``ts_us``, runs
    ``recurrence._ewm_chain`` from the carried (seen, psum, e). NaN/null
    closes are skipped and emit null, as the kernel's ``_compact_apply``
    does. Input needs (symbol, ts_us, close) columns."""
    if isinstance(p, bool) or not isinstance(p, int) or p < 1:
        raise ValueError(f"p must be an int >= 1, got {p!r}")
    alpha = 2.0 / (p + 1)

    def fold(symbol, pdfs, carry):
        for pdf in pdfs:
            pdf = pdf.sort_values("ts_us")
            ema, carry = _ewm_chain(carry, pdf["close"].to_numpy("float64"), p, alpha)
            yield pdf[["symbol", "ts_us", "close"]].assign(ema=ema)
        return carry

    return _keyed_fold(events, "symbol", fold, (0, 0.0, np.nan), EMA_OUT, EMA_STATE)


POS_OUT = StructType(
    [
        StructField("symbol", StringType()),
        StructField("ts_us", LongType()),
        StructField("position", DoubleType()),
        StructField("cash", DoubleType()),
        StructField("equity", DoubleType()),
    ]
)

# state: vectorized.FoldState
POS_STATE = StructType(
    [
        *[
            StructField(f, DoubleType())
            for f in ("position", "cash", "peak", "entry_cost", "entry_px", "last_price")
        ],
        StructField("trades", LongType()),
        StructField("wins", LongType()),
        StructField("hwm", DoubleType()),
    ]
)


def streaming_position(signals: DataFrame, initial_capital: float = 100_000.0) -> DataFrame:
    """Long-flat position fold over a streaming signal frame
    (symbol, ts_us, close, buy, sell): ``vectorized._fold_state`` with
    zero commissions, resumed per micro-batch (sorted by ``ts_us``) from
    the carried ``FoldState``, so the output is bit-equal to the batch
    fold over the whole stream. NaN and non-positive closes are frozen
    bars, marked at the last valid price; null signals are False."""
    params = BacktestParams(
        initial_capital,
        buy_commission_rate=0.0,
        sell_commission_rate=0.0,
        min_commission=0.0,
    )

    def fold(symbol, pdfs, carry):
        for pdf in pdfs:
            pdf = pdf.sort_values("ts_us")
            pos, cash, equity, _, carry = _fold_state(
                pdf["close"].to_numpy("float64"),
                pdf["buy"].eq(True).to_numpy(),
                pdf["sell"].eq(True).to_numpy(),
                params,
                carry,
            )
            yield pdf[["symbol", "ts_us"]].assign(position=pos, cash=cash, equity=equity)
        return carry

    return _keyed_fold(signals, "symbol", fold, None, POS_OUT, POS_STATE)


# ---------------------------------------------------------------------------
# Per-source token-quota admission
# ---------------------------------------------------------------------------

QUOTA_OUT = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("cum_tokens", LongType()),
    ]
)

# state: running token total over ALL docs seen for the source (prefix rule)
QUOTA_STATE = StructType([StructField("cum", LongType())])


def streaming_source_quota(docs: DataFrame, budget: int = 10_000) -> DataFrame:
    """Streaming per-source token-budget admission — the ingest-side quota
    that caps any one source's contribution to a training corpus (the
    batch-side equivalent is a cumsum window; this is its arrival-time
    twin). Keyed by source; state is a single running-total long per key
    (bounded by source cardinality, not stream length), and each batch is
    one vectorized cumsum — no per-row Python.

    Input must carry (source, doc_id, n_tokens). Admission uses the prefix
    rule over ALL docs seen (admitted or not), so with an ordered drain
    the output is engine-exact against the batch SQL window twin.

    Spark 4's transformWithStateInPandas is the native home for this
    operator (ValueState per key, TTL, timers); this runtime lacks its
    protobuf dependency, so the op rides applyInPandasWithState — same
    state contract, same output."""

    def fold(source, pdfs, carry):
        (cum,) = carry
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("doc_id")
            run = pdf["n_tokens"].astype("int64").cumsum() + cum
            cum = int(run.iloc[-1])
            keep = run <= budget
            if keep.any():
                yield pd.DataFrame(
                    {
                        "source": source,
                        "doc_id": pdf["doc_id"][keep].astype("int64"),
                        "n_tokens": pdf["n_tokens"][keep].astype("int64"),
                        "cum_tokens": run[keep].astype("int64"),
                    }
                )
        return (cum,)

    return _keyed_fold(docs, "source", fold, (0,), QUOTA_OUT, QUOTA_STATE)


# ---------------------------------------------------------------------------
# Streaming rolling z-score anomaly detector (bounded per-key buffer)
# ---------------------------------------------------------------------------

ZS_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("z", DoubleType()),
    ]
)

# state: the last (window-1) micro-quantized values, oldest first
ZS_STATE = StructType([StructField("buf", ArrayType(LongType()))])


def streaming_zscore(
    events: DataFrame, window: int = 50, threshold: float = 3.0
) -> DataFrame:
    """Streaming rolling z-score anomaly detector: each event's value vs
    the trailing-``window`` mean/σ of its event type, flagging
    |z| > threshold — the arrival-time twin of the batch
    events_anomaly_zscore. State is the last window−1 MICRO-QUANTIZED
    values per key (bounded, integer-exact), so the window moments are
    pure functions of the data: integer sums → identical double formula
    on every engine and every replay. Python-object cumsum keeps the
    squared sums exact beyond int64 (values are bounded in practice;
    correctness first).

    Input must carry (event_type, event_id, ts_us, value)."""

    def fold(etype, pdfs, carry):
        buf = list(carry[0])
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts_us", "event_id"])
            qv = np.floor(
                pdf["value"].to_numpy(dtype="float64") * 1e6 + 0.5
            ).astype("int64")
            concat = np.concatenate([np.asarray(buf, dtype="int64"), qv])
            s1 = np.concatenate([[0], np.cumsum(concat)])
            s2 = np.concatenate([[0], np.cumsum(concat.astype(object) * concat)])
            k = len(buf)
            out = []
            for j in range(len(qv)):
                i = k + j  # position in concat
                if i + 1 < window:
                    continue
                S1 = int(s1[i + 1] - s1[i + 1 - window])
                S2 = int(s2[i + 1] - s2[i + 1 - window])
                mu = S1 / 1e6 / window
                var = S2 / 1e12 / window - mu * mu
                if var <= 0:
                    continue
                sd = var ** 0.5
                z = (qv[j] / 1e6 - mu) / sd
                if abs(z) > threshold:
                    out.append(
                        (etype, int(pdf["event_id"].iloc[j]), qv[j] / 1e6, z)
                    )
            buf = list(concat[-(window - 1):])
            # one frame per group with fixed dtypes, empty when no row
            # passes the warm-up. pandas' "concatenation with empty or
            # all-NA entries" FutureWarning still shows: PySpark's state
            # serializer (pyspark/sql/pandas/serializers.py) pads the data
            # and state blocks to one length with all-NA rows and
            # concatenates them, whatever this function yields
            yield pd.DataFrame(
                {
                    "event_type": pd.Series([r[0] for r in out], dtype="object"),
                    "event_id": pd.Series([r[1] for r in out], dtype="int64"),
                    "value": pd.Series([r[2] for r in out], dtype="float64"),
                    "z": pd.Series([r[3] for r in out], dtype="float64"),
                }
            )
        return ([int(x) for x in buf],)

    return _keyed_fold(events, "event_type", fold, ([],), ZS_OUT, ZS_STATE)


# ---------------------------------------------------------------------------
# CDC latest-wins compaction (streaming upsert → current-state table)
# ---------------------------------------------------------------------------

CDC_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_event_type", StringType()),
        StructField("last_value", DoubleType()),
    ]
)

# state: (ts_us, event_id, event_type, value) of the winner — the FULL
# (ts_us, event_id) pair orders lexicographically, so ties on ts_us are
# broken deterministically by event_id with no packed-composite collisions
# (the r2 us*4096 + id%4096 rank collided when two events shared ts_us and
# event_ids equal mod 4096).
CDC_STATE = StructType(
    [
        StructField("ts_us", LongType()),
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def streaming_latest_compact(events: DataFrame) -> DataFrame:
    """CDC latest-wins compaction: the change stream folds to ONE current
    row per key — the lakehouse upsert/SCD-1 primitive. State per key is a
    single (ts, event_id, type, value) tuple; each batch reduces
    vectorized to its per-key lexicographic max on the FULL
    (ts_us, event_id) pair (np.lexsort — the same ORDER BY ts_us DESC,
    event_id DESC the SQL twin uses, so ordering is engine-identical and
    collision-free), then merges with state. Emits the post-merge current
    row each batch: with an availableNow drain the sink's last row per
    key IS the compacted table.

    Input must carry (user_id, event_id, ts_us, event_type, value)."""

    def fold(uid, pdfs, best):
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts = pdf["ts_us"].to_numpy(dtype="int64")
            eid = pdf["event_id"].to_numpy(dtype="int64")
            # lexsort: last key is primary → max ts_us, ties by max event_id
            i = int(np.lexsort((eid, ts))[-1])
            cand = (
                int(ts[i]),
                int(eid[i]),
                str(pdf["event_type"].iloc[i]),
                float(pdf["value"].iloc[i]),
            )
            if best is None or cand[:2] > best[:2]:
                best = cand
        yield pd.DataFrame(
            [
                {
                    "user_id": uid,
                    "last_ts_us": best[0],
                    "last_event_id": best[1],
                    "last_event_type": best[2],
                    "last_value": best[3],
                }
            ]
        )
        return best

    return _keyed_fold(events, "user_id", fold, None, CDC_OUT, CDC_STATE)
