from streamkit_spark.streaming.anomaly import (
    ewma_anomalies_stream,
    subscribe_anomalies,
)
from streamkit_spark.streaming.cardinality import (
    finalize_kmv_overlap,
    kmv_sketch_stream,
)
from streamkit_spark.streaming.heavyhitters import (
    heavy_hitters_stream,
    subscribe_heavy_hitters,
)
from streamkit_spark.streaming.joins import interval_join
from streamkit_spark.streaming.neardup import EmbeddingDupIndex, NearDupIndex
from streamkit_spark.streaming.rollup import (
    maintain_rollup,
    read_rollup,
    rollup_aggregate,
)
from streamkit_spark.streaming.subscribe import (
    at_least_once_dedup,
    status_stream,
    subscribe_segment_status,
)
from streamkit_spark.streaming.watermark import SpaceWatermarks
from streamkit_spark.streaming.wire import (
    format_envelope_lines,
    parse_envelope_lines,
)

__all__ = [
    "SpaceWatermarks",
    "status_stream",
    "subscribe_segment_status",
    "at_least_once_dedup",
    "NearDupIndex",
    "EmbeddingDupIndex",
    "interval_join",
    "format_envelope_lines",
    "parse_envelope_lines",
    "heavy_hitters_stream",
    "subscribe_heavy_hitters",
    "maintain_rollup",
    "read_rollup",
    "rollup_aggregate",
    "ewma_anomalies_stream",
    "subscribe_anomalies",
    "kmv_sketch_stream",
    "finalize_kmv_overlap",
]
