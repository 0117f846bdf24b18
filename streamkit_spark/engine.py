"""StreamkitEngine — the session facade (the reference's server node layer,
/root/reference/pkg/server/node.go), binding together:

* Store (durable events table, produce/publish),
* SpaceWatermarks (read-visibility fence; every read is clamped like
  clampConsumeSegmentArgs/clampConsumeSpaceArgs, node.go:565-587),
* a maintained ``segment_status`` table with recompute fallback.  Its
  row is the reference's stored status row + LAST_ENTRY pointer
  (pebblekit/store.go:219-228,294,351-366): ``peek`` and a one-segment
  ``get_segment_status`` are answered on the driver from that row and the
  tail row it pins, as Arrow-backed frames that start no Spark job,
* subscriptions (snapshot → live).

The reference's manager keeps one node per store with idle eviction
(manager.go); here ``StreamkitEngine.store(store_id)`` memoizes Store
handles — Spark's driver owns lifecycle beyond that.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamkit_spark.operators.consume import (
    ConsumeBounds,
    SpaceCursor,
    consume as _consume,
    consume_segment as _consume_segment,
    consume_space as _consume_space,
    peek as _peek,
)
from streamkit_spark.operators.produce import Store
from streamkit_spark.operators.status import get_segments, get_spaces, segment_status
from streamkit_spark.schema import SEGMENT_STATUS_SCHEMA
from streamkit_spark.streaming.subscribe import subscribe_segment_status
from streamkit_spark.streaming.watermark import SpaceWatermarks


def _now_ms() -> int:
    return int(time.time() * 1000)


class StreamkitEngine:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.watermarks = SpaceWatermarks()
        self._stores: dict[str, Store] = {}

    # ------------------------------------------------------------ stores

    def store(self, store_id: str) -> Store:
        if store_id not in self._stores:
            self._stores[store_id] = Store(
                self.spark, os.path.join(self.root, store_id), store_id
            )
        return self._stores[store_id]

    def _status_path(self, store_id: str) -> str:
        return os.path.join(self.root, store_id, "segment_status")

    # ------------------------------------------------------------- write

    def produce(
        self,
        store_id: str,
        space: str,
        segment: str,
        records,
        now_ms: int | None = None,
    ) -> list[dict]:
        """Fenced produce: begin → commit → note → publish-ordered → end
        (node.go:386-456).  Also maintains the segment_status table in the
        same logical commit."""
        now = now_ms if now_ms is not None else _now_ms()
        token = self.watermarks.begin(space, now)
        try:
            # Store.produce maintains the segment_status table itself by
            # merging the statuses it just computed — no events re-scan
            # (the r1 engine re-aggregated the segment per produce).
            statuses = self.store(store_id).produce(
                space, segment, records, now_ms=now
            )
            last_ts = statuses[-1]["last_ts"] if statuses else now
            self.watermarks.note_committed(space, token, last_ts)
            return statuses
        finally:
            self.watermarks.end(space, token)

    # -------------------------------------------------------------- read

    def _clamp(self, space: str, bounds: ConsumeBounds, now_ms: int | None) -> ConsumeBounds:
        now = now_ms if now_ms is not None else _now_ms()
        safe = self.watermarks.safe_max_timestamp(space, now)
        max_ts = bounds.max_ts if bounds.max_ts not in (0,) else safe
        return ConsumeBounds(
            bounds.min_sequence,
            bounds.max_sequence,
            bounds.min_ts,
            min(max_ts, safe),
            bounds.limit,
        )

    def consume_segment(
        self,
        store_id: str,
        space: str,
        segment: str,
        bounds: ConsumeBounds = ConsumeBounds(),
        now_ms: int | None = None,
    ) -> DataFrame:
        return _consume_segment(
            self.store(store_id).events(), space, segment,
            self._clamp(space, bounds, now_ms),
        )

    def consume_space(
        self,
        store_id: str,
        space: str,
        bounds: ConsumeBounds = ConsumeBounds(),
        cursor: SpaceCursor | None = None,
        now_ms: int | None = None,
    ) -> DataFrame:
        return _consume_space(
            self.store(store_id).events(), space,
            self._clamp(space, bounds, now_ms), cursor,
        )

    def consume(
        self,
        store_id: str,
        offsets: dict[str, SpaceCursor | None],
        bounds: ConsumeBounds = ConsumeBounds(),
        now_ms: int | None = None,
    ) -> DataFrame:
        now = now_ms if now_ms is not None else _now_ms()
        safe = min(
            (self.watermarks.safe_max_timestamp(sp, now) for sp in offsets),
            default=now,
        )
        clamped = ConsumeBounds(
            bounds.min_sequence, bounds.max_sequence, bounds.min_ts,
            min(bounds.max_ts or safe, safe), bounds.limit,
        )
        return _consume(
            self.store(store_id).events(), offsets, clamped
        )

    def peek(
        self, store_id: str, space: str, segment: str, now_ms: int | None = None
    ) -> DataFrame:
        """Watermark-clamped peek (node.go:259-298).

        Fast path: the maintained status row pins the last sequence, and
        :meth:`Store.entry` reads that one row on the driver (pyarrow, the
        space's files only, row groups skipped by their min/max stats) —
        zero Spark jobs, like the reference's LAST_ENTRY point read.  Falls
        back to the scan peek when the segment's tail is above the
        watermark (the result must then be the latest *visible* entry) or
        when no status row exists."""
        now = now_ms if now_ms is not None else _now_ms()
        safe = self.watermarks.safe_max_timestamp(space, now)
        store = self.store(store_id)
        st = store.last_status(space, segment)
        if (
            st is not None
            and st["last_ts"] is not None
            and st["last_ts"] <= safe
        ):
            return store.entry(space, segment, st["last_sequence"])
        return _peek(store.events(), space, segment, max_ts=safe)

    def get_segment_status(
        self, store_id: str, space: str, segment: str | None = None
    ) -> DataFrame:
        """Stored-status fast path with recompute fallback (J2 —
        pebblekit/store.go:151-157,368-409).  One segment's status is the
        stored row read on the driver (zero Spark jobs); the space-wide
        listing and the recompute run on Spark."""
        if os.path.isdir(self._status_path(store_id)):
            return self.store(store_id).statuses(space, segment)
        return segment_status(
            self.store(store_id).events(), space=space, segment=segment
        )

    def get_spaces(self, store_id: str) -> DataFrame:
        """Inventory fast path: distinct over the (tiny) status table when
        maintained — the reference's INV rows (pebblekit/store.go:332-349);
        fallback scans events."""
        path = self._status_path(store_id)
        if os.path.isdir(path):
            df = self.spark.read.schema(SEGMENT_STATUS_SCHEMA).parquet(path)
            return df.select("space").distinct().orderBy("space")
        return get_spaces(self.store(store_id).events())

    def get_segments(self, store_id: str, space: str) -> DataFrame:
        path = self._status_path(store_id)
        if os.path.isdir(path):
            df = self.spark.read.schema(SEGMENT_STATUS_SCHEMA).parquet(path)
            return (
                df.filter(F.col("space") == space)
                .select("segment")
                .distinct()
                .orderBy("segment")
            )
        return get_segments(self.store(store_id).events(), space)

    # --------------------------------------------------------- subscribe

    def subscribe(
        self,
        store_id: str,
        query_name: str,
        space: str | None = None,
        segment: str | None = None,
        checkpoint: str | None = None,
    ):
        return subscribe_segment_status(
            self.spark,
            self.store(store_id).events_path,
            query_name,
            space,
            segment,
            checkpoint,
        )
