"""Structured Streaming subscriptions (SURVEY §2.9 T3/T4/T6/T7).

The reference's SubscribeToSegmentStatus contract: **latest snapshot →
live updates**, per-segment latest-wins coalescing when consumers lag, no
durable replay (/root/reference/docs/concepts.md:91-100,
pkg/server/node.go:596-679, subscription_router.go:142-191).

Spark mapping:
* live phase = streaming groupBy(space, segment) max-aggregate with
  ``outputMode("update")`` — update mode IS latest-wins-per-key coalescing;
* snapshot phase = a batch ``segment_status`` read emitted before the
  stream starts (the helper below unions them at the sink);
* resume/cursors (T6) = ``checkpointLocation``;
* at-least-once → exactly-once (T7) = event-time watermark +
  ``dropDuplicates`` on the (space, segment, sequence) identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamkit_spark.operators.status import status_aggs
from streamkit_spark.schema import EVENTS_SCHEMA


def events_stream(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source over an engine store's events table.
    (On a cluster this would be Kafka/Delta CDF; the file source has the
    same semantics: append-only, offset-tracked, replayable.)"""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_path)


def status_stream(stream: DataFrame, space: str | None = None, segment: str | None = None) -> DataFrame:
    """Live SegmentStatus aggregate over an events stream.

    ``Segment "*"`` (reference wildcard) = pass segment=None.  Streaming
    max/min_by state is O(#segments), not O(#entries) — the same
    incremental shape as the reference's mergeSegmentStatus
    (pebblekit/store.go:411-425)."""
    out = stream
    if space is not None:
        out = out.filter(F.col("space") == space)
    if segment is not None and segment != "*":
        out = out.filter(F.col("segment") == segment)
    return out.groupBy("space", "segment").agg(
        *status_aggs(F.col("sequence"), F.col("ts"))
    )


def subscribe_segment_status(
    spark: SparkSession,
    events_path: str,
    query_name: str,
    space: str | None = None,
    segment: str | None = None,
    checkpoint: str | None = None,
):
    """Start a latest-snapshot→live-updates subscription into a memory sink
    named ``query_name``; returns the StreamingQuery.

    The snapshot-then-live contract holds because the file source replays
    existing files as the first micro-batch (snapshot) and subsequent
    appends arrive as updates; a reconnect (new checkpoint) re-snapshots —
    exactly the reference's no-replay reconnect contract
    (docs/limitations.md:29-36)."""
    stream = events_stream(spark, events_path)
    agg = status_stream(stream, space, segment)
    writer = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def at_least_once_dedup(
    stream: DataFrame, delay: str = "10 minutes", ts_col: str = "ts_event"
) -> DataFrame:
    """T7 — collapse redelivered entries: exactly-once view of an
    at-least-once stream.  Dedup identity is (space, segment, sequence);
    the event-time watermark bounds the dedup state so it is GC-able
    (reference contract: consumers dedupe on Entry.Sequence,
    docs/limitations.md:9-17)."""
    with_time = stream.withColumn(ts_col, F.timestamp_millis(F.col("ts")))
    return with_time.withWatermark(ts_col, delay).dropDuplicates(
        ["space", "segment", "sequence"]
    )
