"""Watermarked event-count stream (SURVEY.md §2.12 extension).

The north rule's job is batch (spark-submit, checkpoint resume); the
batch checkpoint table (plans/checkpoint.py) gives its incremental
semantics.  This module holds the hourly tumbling-window count that the
``stream_counts`` query runs as a stream: ``windowed_event_counts`` is
the aggregation, and ``stream_counts_to_parquet`` drives it from a file
source into an append-mode parquet sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation: on a stream, rows later
    than the watermark are dropped."""
    # watermarks require TIMESTAMP (with timezone); parquet written as NTZ
    # (the driver tables are) is normalized here — session tz is UTC
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


# 1 hour in microseconds — the tumbling-window size AND the watermark delay
# of windowed_event_counts' defaults.  The stream_counts oracle (registry)
# interpolates this; if the "1 hour" strings above ever change, this
# constant must move with them (lang_id lockstep rule).
HOUR_US = 3_600_000_000


def stream_counts_to_parquet(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    output_dir: str,
):
    """File-source → watermarked hourly counts → exactly-once parquet sink
    in APPEND mode: only watermark-FINALIZED windows reach the sink.  A
    window [s, s+1h) is emitted iff s + 1h <= final watermark
    (= max event time − 1h); the boundary is INCLUSIVE (window end equal
    to the watermark is emitted — pinned by
    test_stream_counts_emission_boundary).  Windows still open when the
    AvailableNow run drains stay in state and are never emitted — exactly
    the contract a downstream consumer of an append sink relies on.
    Emits (window_start_us bigint, event_type, n) — epoch micros, not
    timestamps, so the driver canonicalizer sees one integer dtype."""
    events = spark.readStream.schema(schema).parquet(input_dir)
    agg = windowed_event_counts(events).select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n",
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
