"""Streaming and batch sources (SURVEY.md §2.1, S1-S6).

The Kafka option bundle mirrors the reference's subscription
(silver.py:45-51); file/rate sources are the test-time stand-ins (no broker
in CI).  Delta CDF reads live in ``delta_utils`` (they need delta-spark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 10_000,
) -> DataFrame:
    """S1: Kafka streaming scan — binary key/value rows.

    Reference: silver.py:45-51 (subscribe, startingOffsets env-overridable,
    ``maxOffsetsPerTrigger`` backpressure, config.py:76).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source — the broker-free replay path for tests
    and backfills.  ``max_files_per_trigger`` sets ``maxFilesPerTrigger``,
    the per-trigger admission bound; unset, Spark admits every new file.
    A bronze caller picks its own value; the pipeline's change-feed stages
    use ``streaming.pipeline.CDF_MAX_FILES_PER_TRIGGER`` (1000, the Delta
    source's default — the reference's gold stage ran with it because the
    ``maxOffsetsPerTrigger`` it passes at gold.py:65 is not a Delta option,
    SURVEY.md §2.2 K6)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Built-in rate source — load-generator stand-in for the reference's
    Rust publish daemon (publish_daemon.rs:78-147) in throughput tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def rate_micro_batch_stream(
    spark: SparkSession,
    rows_per_batch: int,
    num_partitions: int | None = None,
    start_timestamp_ms: int = 0,
    advance_ms_per_batch: int = 1000,
) -> DataFrame:
    """``rate-micro-batch`` source: exactly ``rows_per_batch`` rows per
    trigger with DETERMINISTIC values and timestamps — batch *k* carries
    ``value`` in ``[k*rows_per_batch, (k+1)*rows_per_batch)`` and timestamp
    ``start_timestamp_ms + k*advance_ms_per_batch``, independent of wall
    clock.  The wall-clock `rate` source is the load generator; this one is
    the REPRODUCIBLE streaming witness: a query over it has a closed-form
    input, so its output is oracle-checkable (DuckDB ``range()``
    arithmetic) the way file-replay witnesses are.
    """
    reader = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("startTimestamp", str(start_timestamp_ms))
        .option("advanceMillisPerBatch", str(advance_ms_per_batch))
    )
    if num_partitions is not None:
        reader = reader.option("numPartitions", str(num_partitions))
    return reader.load()
