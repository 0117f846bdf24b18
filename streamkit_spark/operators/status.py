"""Status & inventory aggregates (SURVEY §2.4 A1/A2, §2.3 J2).

The reference maintains SegmentStatus incrementally at write time and can
recompute it from data (pebblekit/store.go:368-425); the engine computes it
as a partial-aggregable groupBy — map-side combine makes this a single
shuffle of one small row per (space, segment), which is the scalable shape
(the number of segments, not the number of entries, crosses the wire).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streamkit_spark.schema import EventsBinding, ts_ms_col


def status_aggs(seq: Column, ts: Column) -> list[Column]:
    """The SegmentStatus columns of one group of events: first/last
    sequence and the timestamps AT them — the one definition behind
    :func:`segment_status`, the live ``status_stream``, the store's status
    recompute and the ``segment_status`` SQL view."""
    return [
        F.min(seq).alias("first_sequence"),
        F.min_by(ts, seq).alias("first_ts"),
        F.max(seq).alias("last_sequence"),
        F.max_by(ts, seq).alias("last_ts"),
    ]


def segment_status(
    df: DataFrame,
    binding: EventsBinding = EventsBinding(),
    space: str | None = None,
    segment: str | None = None,
) -> DataFrame:
    """A1 — first/last sequence + timestamps per (space, segment).

    SegmentStatus semantics: /root/reference/pkg/api/messages.go:36-44;
    recompute path pebblekit/store.go:368-409 (iter First()/Last()).
    ``first_ts``/``last_ts`` are the timestamps *at* the min/max sequence
    (min_by/max_by), not min/max of ts — identical when ts is nondecreasing
    in sequence (the commit invariant) but faithful when not.
    """
    out = df
    if space is not None:
        out = out.filter(F.col(binding.space) == F.lit(space))
    if segment is not None:
        out = out.filter(F.col(binding.segment).cast("string") == F.lit(str(segment)))
    return (
        out.groupBy(
            F.col(binding.space).alias("space"),
            F.col(binding.segment).cast("string").alias("segment"),
        )
        .agg(*status_aggs(F.col(binding.sequence), ts_ms_col(binding)))
        .orderBy("space", "segment")
    )


def get_spaces(df: DataFrame, binding: EventsBinding = EventsBinding()) -> DataFrame:
    """A2 — distinct space inventory (reference: INV rows + prefix scan,
    pebblekit/store.go:114-121; projection-pruned, azurekit/store.go:192-201).

    Plan: parquet scan reading ONE column → partial distinct → exchange of
    distinct values only."""
    return df.select(F.col(binding.space).alias("space")).distinct().orderBy("space")


def get_segments(
    df: DataFrame, space: str, binding: EventsBinding = EventsBinding()
) -> DataFrame:
    """A2 — distinct segments of one space."""
    return (
        df.filter(F.col(binding.space) == F.lit(space))
        .select(F.col(binding.segment).cast("string").alias("segment"))
        .distinct()
        .orderBy("segment")
    )
