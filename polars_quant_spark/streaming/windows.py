"""Structured Streaming surface (SURVEY.md §2.7 — the reference has no
streaming ops; this is the extension surface for the `events` table).

Helpers return streaming DataFrames; tests drive them with
``trigger(availableNow=True)`` + memory sink so the same logic is exercised
in CI without a long-running source. At scale the inputs are Kafka/files and
the identical plan runs unmodified.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Reference shape only — the actual stream schema is sniffed from the parquet
# footer at runtime (the driver's ts physical type changed between rounds:
# TIMESTAMP(NANOS)→int64-ns under nanosAsLong, TIMESTAMP(MICROS)→timestamp).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


# Canonical implementation moved to session.is_dir (ADVICE r11: promote the
# cross-module symbol out of underscore-private). Alias kept for local use
# and any external caller of the old name.
from polars_quant_spark.session import is_dir as _is_dir  # noqa: E402


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's events parquet with an event-time
    column derived from ts, robust to either timestamp physical type.

    Streaming sources require an explicit schema; a one-off batch read of the
    same path supplies the true one (footer only — no data scan)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    if _is_dir(spark, path):
        # Spark-written table: a DIRECTORY of part files (the scale-smoke
        # replicas). Stream the directory itself — a pathGlobFilter of
        # "events.parquet" matches LEAF file names, so it would list
        # nothing here (round-11 catch: the 64x stream smoke drained an
        # empty source and reported an absurd 0.05 ratio).
        stream = spark.readStream.schema(schema).format("parquet").load(path)
    else:
        # Driver testdata: one FILE per table inside sf_dir; the file
        # stream source requires a directory, so load sf_dir with a glob
        # narrowing the listing to the events table.
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
    if dict(stream.dtypes)["ts"] == "bigint":
        return stream.withColumn(
            "event_time", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return stream.withColumn("event_time", F.col("ts").cast("timestamp"))


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event_type — the canonical
    late-data-tolerant rollup."""
    # DECIMAL(38,6) sum: partial aggregation across micro-batches reorders a
    # float sum run-to-run; the decimal sum is exact and association-free, so
    # the streaming result is deterministic (and twin-checkable vs DuckDB).
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_avg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window average value per event_type."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window, slide).alias("win"), F.col("event_type"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value")
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "avg_value",
        )
    )


def enriched_nation_counts(
    events: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment — the canonical dimension-join pattern: the
    event stream joined to static customer→nation dimensions, then a
    watermarked tumbling rollup per (window, nation).

    Stream-static equi-joins are STATELESS in Structured Streaming (the
    static side is re-planned per micro-batch; no state store, no watermark
    needed for the join itself). The dim side carries NO forced broadcast
    hint: it has one row per user, which scales with the corpus, and a
    parquet-backed static side has REAL size statistics, so the per-batch
    planner broadcasts a small dim automatically and falls back to a
    shuffled (still stateless) hash join for a 10^8-row one — forcing the
    hint would OOM the driver at exactly the 100 TB/day ingest shape the
    query exists for (VERDICT r7 #1 class). Only the downstream
    aggregation carries watermark state."""
    dim = (
        customer.select(F.col("c_custkey").alias("user_id"), "c_nationkey")
        .join(
            nation.select("n_nationkey", "n_name"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("user_id", "n_name")
    )
    return (
        events.join(dim, "user_id")
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("win"), F.col("n_name"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "n_name",
            "n_events",
            "sum_value",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user: a session closes after `gap` of inactivity."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap).alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


_DRAINS = itertools.count()


def run_available_now(
    stream_df: DataFrame, query_name: str = "pqs_stream", output_mode: str = "append"
) -> DataFrame:
    """Drain a streaming plan with ``trigger(availableNow=True)`` into a
    memory sink named ``{query_name}_{k}`` (k unique per process) and
    return the sink as a table. ``output_mode`` is the sink's: "complete"
    for a windowed aggregation whose windows are still open at the end of
    a finite replay."""
    name = f"{query_name}_{next(_DRAINS)}"
    (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return stream_df.sparkSession.table(name)


def streaming_ohlcv(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window OHLCV bars from the raw tick/event
    stream — the market-data ingest rollup. open/close are argmin/argmax
    over the scalar key µs·4096 + event_id%4096 (event times are µs-unique
    per symbol in practice; the id term breaks residual ties), so the bar
    is a pure function of the window's events regardless of arrival
    order; volume sums in integer micro-units (association-free
    across micro-batch partial aggregation)."""
    price = (F.lit(300.0) + F.col("value").cast("double") / F.lit(10.0)).alias("px")
    return (
        events.select("event_time", "event_id", "event_type", price)
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("win"), F.col("event_type"))
        .agg(
            F.expr(
                "min_by(px, unix_micros(event_time) * 4096 + event_id % 4096)"
            ).alias("open"),
            F.max("px").alias("high"),
            F.min("px").alias("low"),
            F.expr(
                "max_by(px, unix_micros(event_time) * 4096 + event_id % 4096)"
            ).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("event_type").alias("symbol"),
            "open",
            "high",
            "low",
            "close",
            "n_ticks",
        )
    )
