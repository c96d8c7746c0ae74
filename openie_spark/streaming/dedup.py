"""Streaming exact deduplication (§2.12 extension): content-hash dedup
across micro-batches with bounded state.

A plain ``dropDuplicates`` on a stream keeps ALL seen keys in the state
store forever — unusable for an unbounded corpus feed.
``dropDuplicatesWithinWatermark`` (Spark 3.5+) evicts a key's state once
the event-time watermark passes its horizon, so state is bounded by the
duplicate-arrival window instead of corpus size: exactly the contract a
streaming training-data ingest wants ("duplicates arrive within N minutes
of each other" — e.g. multi-crawler races).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def stream_dedup_to_parquet(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    output_dir: str,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    delay: str = "10 minutes",
):
    """File-source incremental dedup run (availableNow): drain the
    backlog, emit first arrivals to an exactly-once parquet sink.  The
    dedup key defaults to the content hash; callers whose downstream
    aggregate groups by additional survivor columns should put those
    columns IN the key (``keys``) — within a micro-batch the surviving
    row of a duplicate group is partition-order-dependent, so only
    key columns (and functional dependents of them) are deterministic
    in the sink."""
    docs = spark.readStream.schema(schema).parquet(input_dir)
    docs = docs.withColumn("content_hash", F.md5(F.col("text"))).withWatermark(
        ts_col, delay
    )
    out = docs.dropDuplicatesWithinWatermark(keys or ["content_hash"])
    return (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
