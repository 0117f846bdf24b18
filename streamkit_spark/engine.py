"""StreamkitEngine — the session facade (the reference's server node layer,
/root/reference/pkg/server/node.go), binding together:

* Store (durable events table, produce/publish),
* SpaceWatermarks (read-visibility fence; every read is clamped like
  clampConsumeSegmentArgs/clampConsumeSpaceArgs, node.go:565-587),
* a maintained ``segment_status`` table with recompute fallback.  Its
  row is the reference's stored status row + LAST_ENTRY pointer
  (pebblekit/store.go:219-228,294,351-366): ``peek``, the status lookups
  and the inventory are answered on the driver from those rows and the
  tail row they pin,
* bounded reads: a consume with ``limit > 0`` is a page, read on the
  driver by :meth:`Store.scan` with the predicates of
  ``operators/consume.py`` — the reference's bounded range scan, every
  wire call carrying a limit (node.go:100).  ``limit == 0`` is an
  unbounded read and runs the Spark operators,
* subscriptions (snapshot → live), the one continuous Spark query.

The request/response paths return Arrow-backed frames that start no Spark
job; only unbounded reads, fallbacks and the subscription's micro-batches
run on Spark.

The reference's manager keeps one node per store with idle eviction
(manager.go); here ``StreamkitEngine.store(store_id)`` memoizes Store
handles — Spark's driver owns lifecycle beyond that.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from streamkit_spark.operators.consume import (
    ConsumeBounds,
    SpaceCursor,
    consume as _consume,
    consume_segment as _consume_segment,
    consume_space as _consume_space,
    merge_page,
    peek as _peek,
    segment_page,
    space_page,
)
from streamkit_spark.operators.produce import Store
from streamkit_spark.operators.status import get_segments, get_spaces, segment_status
from streamkit_spark.schema import local_frame
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

    def _clamp(
        self, spaces, bounds: ConsumeBounds, now_ms: int | None
    ) -> ConsumeBounds:
        """``bounds`` with ``max_ts`` (0: unbounded) clamped to the lowest
        read fence of ``spaces`` — one rule for every read kind."""
        now = now_ms if now_ms is not None else _now_ms()
        safe = min(
            (self.watermarks.safe_max_timestamp(sp, now) for sp in spaces),
            default=now,
        )
        return ConsumeBounds(
            bounds.min_sequence,
            bounds.max_sequence,
            bounds.min_ts,
            min(bounds.max_ts or safe, safe),
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
        clamped = self._clamp([space], bounds, now_ms)
        store = self.store(store_id)
        if clamped.limit > 0:
            return store.scan(*segment_page(space, segment, clamped))
        return _consume_segment(store.events(), space, segment, clamped)

    def consume_space(
        self,
        store_id: str,
        space: str,
        bounds: ConsumeBounds = ConsumeBounds(),
        cursor: SpaceCursor | None = None,
        now_ms: int | None = None,
    ) -> DataFrame:
        clamped = self._clamp([space], bounds, now_ms)
        store = self.store(store_id)
        if clamped.limit > 0:
            return store.scan(*space_page(space, clamped, cursor))
        return _consume_space(store.events(), space, clamped, cursor)

    def consume(
        self,
        store_id: str,
        offsets: dict[str, SpaceCursor | None],
        bounds: ConsumeBounds = ConsumeBounds(),
        now_ms: int | None = None,
    ) -> DataFrame:
        clamped = self._clamp(offsets, bounds, now_ms)
        store = self.store(store_id)
        if clamped.limit > 0:
            return store.scan(*merge_page(offsets, clamped))
        return _consume(store.events(), offsets, clamped)

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
        pebblekit/store.go:151-157,368-409).  The stored rows, of one
        segment or of the whole space, are read on the driver (zero Spark
        jobs); the recompute from events runs on Spark."""
        store = self.store(store_id)
        if os.path.isdir(store.status_path):
            return store.statuses(space, segment)
        return segment_status(store.events(), space=space, segment=segment)

    def get_spaces(self, store_id: str) -> DataFrame:
        """Inventory fast path: the spaces of the (tiny) status table, read
        on the driver when maintained — the reference's INV rows
        (pebblekit/store.go:332-349); fallback scans events."""
        store = self.store(store_id)
        if os.path.isdir(store.status_path):
            spaces = sorted({r["space"] for r in store.status_rows()})
            return local_frame(self.spark, "space string", [{"space": sp} for sp in spaces])
        return get_spaces(store.events())

    def get_segments(self, store_id: str, space: str) -> DataFrame:
        store = self.store(store_id)
        if os.path.isdir(store.status_path):
            rows = [{"segment": r["segment"]} for r in store.status_rows(space)]
            return local_frame(self.spark, "segment string", rows)
        return get_segments(store.events(), space)

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
