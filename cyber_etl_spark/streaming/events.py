"""Structured Streaming jobs over the events stream.

The reference is batch-only (SURVEY.md §1.1: "no streams"), but the
engine keeps event-time columns end-to-end so the same operator library
runs under ``readStream``: watermarked tumbling rollups (the streaming
twin of q14), session windows, and watermark-bounded stream dedup.

Design:
- File source with an explicit schema (streaming sources cannot infer).
- Event-time watermarks bound state: late rows beyond the watermark are
  dropped, so state size is O(windows in the watermark horizon), not
  O(stream length) — the property that lets these jobs run forever on a
  cluster.
- Tests execute with ``trigger(availableNow=True)`` into a memory sink
  and compare against the deterministic batch twin — the streaming
  correctness harness mirroring the DuckDB-oracle pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ts physical type varies by driver data generation (TIMESTAMP(NANOS) →
# read as long + convert; naive TIMESTAMP(MICROS) → TIMESTAMP_NTZ → cast),
# same convention as sources.catalog.read_table.  Streaming sources cannot
# infer, so sniff the batch schema once and declare the matching one.
def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_event_stream(
    spark: SparkSession, path: str, empty_dir_ts: str = "nanos"
) -> DataFrame:
    """``empty_dir_ts``: which physical ts layout to declare when the
    input directory is empty at start (a normal initial state for a
    file-stream source — there is no footer to sniff, and a streaming
    schema cannot change once the query starts).  ``"nanos"`` (default,
    the legacy TIMESTAMP(NANOS)-as-long layout) or ``"micros"`` (naive
    TIMESTAMP(MICROS) read as NTZ) — callers on a MICROS-generating
    driver must pass the latter or the first arriving file would kill
    the query with a schema-convert error."""
    try:
        batch_ts = dict(spark.read.parquet(path).dtypes).get("ts", "bigint")
    except Exception:
        # empty/not-yet-populated dir: start anyway with the declared
        # layout and pick up files later (ADVICE r03)
        batch_ts = "bigint" if empty_dir_ts == "nanos" else "timestamp_ntz"
    if batch_ts == "bigint":  # TIMESTAMP(NANOS) read as long
        raw = (
            spark.readStream.schema(_events_schema(LongType()))
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    from pyspark.sql.types import TimestampNTZType

    raw = (
        spark.readStream.schema(_events_schema(TimestampNTZType()))
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    # Session tz is UTC (session.get_spark), so NTZ→LTZ preserves values.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of q14_hourly_rollup: watermarked tumbling window →
    (hour_start, event_type, n_events, total_value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-based): (user_id, session_start,
    session_end, n_events, total_value).  State is bounded by the
    watermark; sessions close when the gap passes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def stream_dedupe(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-id projection: watermark-bounded dropDuplicates on
    event_id — the streaming form of exact dedup (state expires with the
    watermark instead of growing forever)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def run_stream_to_memory(df: DataFrame, name: str, mode: str = "complete"):
    """Test/debug harness: drain all available input into a memory sink
    and return the finished query (caller reads ``SELECT * FROM name``)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def error_followups_stream(events: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Stream-stream interval join: events within ``window`` after an
    error by the same user — the streaming twin of q47_interval_join.

    Both sides are watermarked so the join state is bounded: a buffered
    error row can be dropped once the watermark passes its ts + window
    (Spark derives the state-cleanup predicate from the time-range join
    condition)."""
    errors = (
        events.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("id_a"),
            "user_id",
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "10 minutes")
    )
    followups = events.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
    ).withWatermark("ts_b", "10 minutes")
    return errors.join(
        followups,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr(f"INTERVAL {window}")),
    ).select("id_a", "id_b", "user_id")


def run_stream_to_parquet(
    df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Production-shaped sink: append the stream to a parquet directory
    via foreachBatch with the checkpointed batch id — replays of a failed
    micro-batch overwrite rather than duplicate (idempotent exactly-once
    on top of at-least-once delivery)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_stream_to_partitioned_parquet(
    df: DataFrame, out_dir: str, checkpoint_dir: str, partition_by: list[str]
):
    """Exactly-once partitioned table maintenance from a stream.

    Each micro-batch lands in Hive partitions ``(*partition_by,
    _batch_id)`` via DYNAMIC partition overwrite — a batch REPLAYED on
    the same checkpoint (failure before the commit log records it)
    REPLACES its own partitions instead of appending duplicates, while
    other batches' partitions are untouched.  This is the idempotent
    upgrade of :func:`run_stream_to_parquet`'s append-with-batch-id:
    downstream readers get directory pruning on the user partition
    columns for free (sources/sinks.write_parquet semantics).

    Scope of the guarantee: idempotence is PER BATCH ID under one
    checkpoint lineage.  A from-scratch rebuild (new checkpoint over old
    output) restarts batch ids at 0 with possibly different batch
    boundaries — partitions of old higher ids would survive as stale
    duplicates, so rebuilds must target a fresh directory (or clear the
    table first), exactly like any overwrite-by-partition pipeline.
    """
    from ..sources.sinks import write_parquet

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_parquet(
            batch_df.withColumn("_batch_id", F.lit(batch_id)),
            out_dir,
            partition_by=[*partition_by, "_batch_id"],
            compact=True,
            dynamic_overwrite=True,
        )

    q = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
