"""polars_quant_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ``Firstastor/polars-quant`` (reference at
/root/reference, surveyed in SURVEY.md), re-architected Spark-first.

Design principles (see SURVEY.md §4.2, §7):

* **DataFrame/Column expressions everywhere.** Every indicator that the
  reference implements as a Rust columnar kernel is re-expressed as a
  ``pyspark.sql.Column`` expression over an explicit
  ``Window.partitionBy(symbol).orderBy(time)`` — Catalyst optimizes, Tungsten
  codegens, and the plan scales to any number of executors with exactly one
  shuffle per partitioning.
* **Recurrences run in Arrow-batched numpy kernels.** EMA-family smoothing,
  Wilder RMA, SAR, the MESA/Hilbert state machine, and the backtest fold have
  no closed SQL form; they run as numpy scans inside ``applyInArrow``, one
  partition per symbol (operators/recurrence.py).
* **Explicit time axis.** The reference treats row order as time
  (src/backtest/sequential.rs:290 positional iteration); at Spark scale order
  must be declared, so every API takes partition/order columns.
"""

from polars_quant_spark.session import get_spark, released
from polars_quant_spark.functions import (
    price,
    overlap,
    momentum,
    volume,
    volatility,
    pattern,
    returns,
    trend,
)
from polars_quant_spark.operators import recurrence
from polars_quant_spark.operators import hilbert
from polars_quant_spark.operators import asof, clean, dedup, factor, linear
from polars_quant_spark.operators import chunked, multimodal, segmented, similarity, text
from polars_quant_spark.operators.skew import salted_join
from polars_quant_spark.operators.selector import Selector
from polars_quant_spark.operators import strategy
from polars_quant_spark.backtest import (
    Backtest,
    MarginParams,
    SequentialBacktester,
    margin_backtest,
    summary,
    auto_backtest,
    vectorized_backtest,
)
from polars_quant_spark.backtest.bootstrap import bootstrap_bands
from polars_quant_spark.backtest.rebalance import rebalance_backtest
from polars_quant_spark.backtest.sweep import best_params, parameter_sweep
from polars_quant_spark.operators import events, graph, portfolio, sketch
from polars_quant_spark.plans import inspect as plans
from polars_quant_spark.sources import bars, load, prepare_sequential_data

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "released",
    # indicator Column functions
    "price",
    "overlap",
    "momentum",
    "volume",
    "volatility",
    "pattern",
    "trend",
    "returns",
    # operators
    "recurrence",
    "hilbert",
    "asof",
    "clean",
    "dedup",
    "factor",
    "linear",
    "chunked",
    "multimodal",
    "segmented",
    "similarity",
    "text",
    "salted_join",
    "Selector",
    "strategy",
    # backtesting
    "auto_backtest",
    "vectorized_backtest",
    "SequentialBacktester",
    "summary",
    "Backtest",
    "MarginParams",
    "margin_backtest",
    "rebalance_backtest",
    "bootstrap_bands",
    "parameter_sweep",
    "best_params",
    # cohort / graph / portfolio / sketches / plan inspection
    "events",
    "graph",
    "portfolio",
    "sketch",
    "plans",
    # sources
    "bars",
    "load",
    "prepare_sequential_data",
]
