"""Canonical schemas and column bindings.

The reference's single row type is ``Entry`` (Sequence, Timestamp, TRX,
Payload, Metadata, Space, Segment — /root/reference/pkg/api/messages.go:102-110)
plus the derived ``SegmentStatus`` aggregate (messages.go:36-44).  The engine
stores the same envelope as one columnar ``events`` table.

Because the engine is schema-flexible (any table with space/segment/sequence/
timestamp-shaped columns supports the streamkit read surface), operators take
an :class:`EventsBinding` that names the columns.  The driver fixture table
(/root/testdata/sf*/events.parquet: event_id, ts, user_id, event_type, value,
props) binds space=event_type, segment=user_id, sequence=event_id.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Sequences are unsigned 64-bit in the reference; it clamps to MaxInt64
# itself (/root/reference/pkg/client/client.go:1712-1717), so LongType with a
# documented 2^63-1 bound is exact parity.
MAX_SEQUENCE = (1 << 63) - 1

# Server-side limit clamp (/root/reference/pkg/server/node.go:100).
MAX_CONSUME_ENTRIES = 10_000_000

# Produce commit chunk (/root/reference/pkg/storage/pebblekit/store.go:233).
PRODUCE_CHUNK_SIZE = 10_000

# Canonical streamkit-envelope events table (engine-owned stores).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("store_id", T.StringType(), False),
        T.StructField("space", T.StringType(), False),
        T.StructField("segment", T.StringType(), False),
        T.StructField("sequence", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),  # epoch ms, commit-assigned
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("trx_id", T.StringType(), False),
        T.StructField("trx_node", T.StringType(), True),
        T.StructField("trx_number", T.LongType(), False),
    ]
)

# The events table as a read of the store returns it: Spark's partitioned
# file read appends the ``space`` partition column and reports every column
# nullable.  The Spark scan, the empty store and the driver-side tail read
# all emit this one layout.
EVENTS_READ_SCHEMA = T.StructType(
    [
        T.StructField(f.name, f.dataType, True)
        for f in EVENTS_SCHEMA.fields
        if f.name != "space"
    ]
    + [T.StructField("space", T.StringType(), True)]
)

SEGMENT_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("space", T.StringType(), False),
        T.StructField("segment", T.StringType(), False),
        T.StructField("first_sequence", T.LongType(), True),
        T.StructField("first_ts", T.LongType(), True),
        T.StructField("last_sequence", T.LongType(), True),
        T.StructField("last_ts", T.LongType(), True),
    ]
)


def local_frame(
    spark: SparkSession, schema: T.StructType | str, rows: list[dict] | pa.Table
) -> DataFrame:
    """``rows`` (dicts, whose keys outside ``schema`` are ignored, or an
    Arrow table already in its column order) as an Arrow-backed
    LocalRelation of ``schema`` (a StructType or a DDL string): building
    and collecting it start no Spark job, where ``createDataFrame([],
    schema)`` starts one on collect."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        rows = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(rows, schema)


@dataclass(frozen=True)
class EventsBinding:
    """Maps streamkit envelope roles onto a concrete table's columns.

    ``ts_unit`` declares the physical type of the timestamp column so the
    engine can normalize to epoch milliseconds (the reference's unit) with
    pure integer/JVM expressions:
      * ``"ms"`` — already epoch ms (engine-owned stores)
      * ``"ns"`` — epoch ns long (driver fixture parquet via nanosAsLong)
      * ``"timestamp"`` — Spark TimestampType
    """

    space: str = "space"
    segment: str = "segment"
    sequence: str = "sequence"
    ts: str = "ts"
    ts_unit: str = "ms"


def ts_ms_col(binding: EventsBinding) -> Column:
    """Epoch-ms long column for any binding (integer math, codegen-friendly)."""
    if binding.ts_unit == "ms":
        return F.col(binding.ts)
    if binding.ts_unit == "ns":
        return F.expr(f"{binding.ts} div 1000000")
    if binding.ts_unit == "timestamp":
        return F.unix_millis(F.col(binding.ts))
    raise ValueError(f"unknown ts_unit: {binding.ts_unit}")


# The driver fixture events table.
FIXTURE_BINDING = EventsBinding(
    space="event_type", segment="user_id", sequence="event_id", ts="ts", ts_unit="ns"
)

# Engine-owned streamkit-envelope tables.
ENVELOPE_BINDING = EventsBinding()


def with_ts_ms(df: DataFrame, binding: EventsBinding, col_name: str = "ts_ms") -> DataFrame:
    return df.withColumn(col_name, ts_ms_col(binding))
