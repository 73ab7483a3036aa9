"""Streaming execution of the shared logical operators.

``read_events_stream`` builds the same normalized events DataFrame as
``io.table`` but from a file *stream* source — the batch/stream twin
pair differ only in the source node, exactly the Flink model where a
bounded input is just a stream that ends.

Watermarks: ``with_watermark`` applies ``withWatermark(ts, delay)``.
Semantic note (SURVEY.md §2 I4): Spark *drops* rows later than the
watermark in streaming aggregations; Flink can also side-output them.
The batch emulation of the drop set is ``q_stream_late``; the parity
side-output is ``streaming.late.LateSideOutputProcessor`` (a
``foreachBatch`` split against the carried running-max watermark),
property-tested equal to the batch emulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_framework_spark.io import _normalize_events_ts
from flink_framework_spark.session import configure_session
from flink_framework_spark.streaming.drain import run_available_now


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    with_watermark: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """events as a Structured Streaming source (file source).

    The file source requires an explicit schema; we take it from the
    batch reader so both twins see identical input types.

    Event time is produced as TIMESTAMP (an absolute instant) rather
    than the batch twin's TIMESTAMP_NTZ: Spark watermarks require the
    instant type. Window bucketing is epoch-aligned for both types, so
    the twins produce identical buckets; output rendering goes through
    ``streaming_ops._fmt_event_time``, which formats instants in UTC —
    matching the NTZ wall-clock — regardless of session timezone.
    """
    configure_session(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source needs a DIRECTORY; select just the events
    # table out of the lake dir with a glob filter
    reader = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = _normalize_events_ts(reader.parquet(sf_dir), as_instant=True)
    if with_watermark is not None:
        sdf = sdf.withWatermark("ts", with_watermark)
    return sdf


def run_to_memory(
    df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    timeout_sec: int = 120,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into
    an in-memory table and return it as a batch DataFrame.

    ``timeout_sec`` is an idle budget (see ``drain.await_drain``): the
    query fails loudly if no micro-batch completes for that long, but a
    slow-but-progressing drain under suite contention is never killed.
    A partially-processed memory table is never returned.
    """
    run_available_now(
        df.writeStream.format("memory").outputMode(output_mode),
        query_name,
        timeout_sec,
    )
    return df.sparkSession.table(query_name)
