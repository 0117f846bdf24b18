"""Read surface: ConsumeSegment / ConsumeSpace / Consume / Peek (SURVEY §2.1).

Semantics are exact parity with the reference:

* sequence bounds are **inclusive** on both ends; ``max_sequence==0`` means
  unbounded; ``max < min`` clamps to ``min``
  (/root/reference/pkg/storage/pebblekit/store.go:431-460).
* timestamp bounds are **exclusive min, inclusive max**
  (pebblekit/store.go:194,486-487); ``max_ts==0`` or future clamps to "now"
  when a now is supplied (store.go:167-181 — "Issue #19 align with Azure").
* segment scans are ordered by ``sequence``; space scans by
  ``(ts, segment, sequence)`` — the space-index key layout
  (pkg/api/messages.go:112-115); multi-space merges add ``space`` to the
  tiebreak for determinism (a strengthening of the reference contract, which
  documents tie non-determinism — messages.go:126-129).
* cursors resume **strictly after** a ``(ts, segment, sequence)`` position
  (docs/concepts.md:73-81).
* limits clamp to 10,000,000 (pkg/server/node.go:100).

The predicates are written once, over column objects, and render to either
engine:

* the Spark operators below are declarative DataFrame builds: Catalyst
  pushes the space/segment equality and the sequence/ts ranges into the
  parquet scan (PushedFilters + partition pruning when the table is
  partitioned by space), and the final ORDER BY is a range-partitioned sort
  only when the caller actually needs global order — at 100 TB the common
  pattern is ``sortWithinPartitions`` after repartitioning by segment, which
  this module exposes via ``ordered=False``.  They serve unbounded reads and
  catalog queries over any bound DataFrame;
* :func:`segment_page`, :func:`space_page` and :func:`merge_page` render the
  same predicates as pyarrow ``ds.field`` expressions for an engine store's
  bounded page, which :meth:`Store.scan` reads on the driver with no Spark
  job (the reference's bounded range scan, pebblekit/store.go:431-488).
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass

import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streamkit_spark.schema import (
    MAX_CONSUME_ENTRIES,
    MAX_SEQUENCE,
    EventsBinding,
    ts_ms_col,
)


@dataclass(frozen=True)
class ConsumeBounds:
    """Normalized scan bounds (F3 in SURVEY §2.2)."""

    min_sequence: int = 0
    max_sequence: int = 0  # 0 = unbounded
    min_ts: int = 0  # exclusive, epoch ms
    max_ts: int = 0  # inclusive, epoch ms; 0 = unbounded/now
    limit: int = 0  # 0 = unlimited (clamped server-side)

    def normalized(self, now_ms: int | None = None) -> "ConsumeBounds":
        """Apply the reference's bound normalization rules."""
        min_seq = max(self.min_sequence, 0)
        max_seq = self.max_sequence
        if max_seq == 0:
            max_seq = MAX_SEQUENCE
        if max_seq < min_seq:
            max_seq = min_seq  # pebblekit/store.go:455-457
        min_ts = self.min_ts
        max_ts = self.max_ts
        if now_ms is not None:
            # future/zero max clamps to now; future min clamps to now
            if max_ts == 0 or max_ts > now_ms:
                max_ts = now_ms
            if min_ts > now_ms:
                min_ts = now_ms
        elif max_ts == 0:
            max_ts = MAX_SEQUENCE  # unbounded when no wall clock in play
        limit = self.limit
        if limit <= 0 or limit > MAX_CONSUME_ENTRIES:
            limit = MAX_CONSUME_ENTRIES
        return ConsumeBounds(min_seq, max_seq, min_ts, max_ts, limit)


def _all(*preds):
    """AND of the predicates that are not None (None when none is)."""
    preds = [p for p in preds if p is not None]
    return functools.reduce(operator.and_, preds) if preds else None


def _bounds_predicate(seq, ts, b: ConsumeBounds):
    """Normalized bounds over a sequence and an epoch-ms ts column — Spark
    Columns or pyarrow ``ds.field`` expressions alike (None: unbounded)."""
    return _all(
        seq >= b.min_sequence if b.min_sequence > 0 else None,
        seq <= b.max_sequence if b.max_sequence < MAX_SEQUENCE else None,
        ts > b.min_ts if b.min_ts > 0 else None,  # exclusive min
        ts <= b.max_ts if b.max_ts < MAX_SEQUENCE else None,  # inclusive max
    )


def _spark_cols(binding: EventsBinding) -> tuple[Column, Column, Column]:
    """(segment as string, sequence, epoch-ms ts) of a bound DataFrame."""
    return (
        F.col(binding.segment).cast("string"),
        F.col(binding.sequence),
        ts_ms_col(binding),
    )


# the same three columns of an engine store's files, for the driver page
_FILE_COLS = (ds.field("segment"), ds.field("sequence"), ds.field("ts"))


def consume_segment(
    df: DataFrame,
    space: str,
    segment: str,
    bounds: ConsumeBounds = ConsumeBounds(),
    binding: EventsBinding = EventsBinding(),
    now_ms: int | None = None,
    ordered: bool = True,
) -> DataFrame:
    """S1 — bounded scan of one segment in strict sequence order.

    Reference: pebblekit/store.go:431-488, api/messages.go:159-169.
    """
    b = bounds.normalized(now_ms)
    seg, seq, ts = _spark_cols(binding)
    out = df.filter(
        _all(F.col(binding.space) == space, seg == str(segment), _bounds_predicate(seq, ts, b))
    )
    if ordered:
        out = out.orderBy(binding.sequence)
    if b.limit < MAX_CONSUME_ENTRIES or bounds.limit > 0:
        out = out.limit(b.limit)
    return out


def segment_page(space: str, segment: str, bounds: ConsumeBounds):
    """S1's bounded page as the ``(filters, order, limit)`` of
    :meth:`Store.scan`."""
    b = bounds.normalized()
    seg, seq, ts = _FILE_COLS
    return (
        {space: _all(seg == str(segment), _bounds_predicate(seq, ts, b))},
        ("sequence",),
        b.limit,
    )


SpaceCursor = tuple[int, str, int]  # (ts_ms, segment, sequence) — strictly-after


def _cursor_predicate(seg, seq, ts, cursor: SpaceCursor | None):
    """Strictly-after tuple predicate — the lex-key cursor of the space index
    (Entry.GetSpaceOffset, api/messages.go:112-115) translated to a row
    comparison Catalyst can push partially into the scan (ts >= c_ts), over
    the columns of :func:`_bounds_predicate` (None: no cursor)."""
    if cursor is None:
        return None
    c_ts, c_seg, c_seq = cursor
    return (
        (ts > c_ts)
        | ((ts == c_ts) & (seg > str(c_seg)))
        | ((ts == c_ts) & (seg == str(c_seg)) & (seq > c_seq))
    )


def consume_space(
    df: DataFrame,
    space: str,
    bounds: ConsumeBounds = ConsumeBounds(),
    cursor: SpaceCursor | None = None,
    binding: EventsBinding = EventsBinding(),
    now_ms: int | None = None,
    ordered: bool = True,
) -> DataFrame:
    """S2 — scan all segments of a space merged by timestamp.

    Order contract ``(ts, segment, sequence)`` mirrors the space-index key
    layout (SURVEY §1.3).  Reference: pebblekit/store.go:159-196.
    """
    b = bounds.normalized(now_ms)
    seg, seq, ts = _spark_cols(binding)
    out = df.filter(
        _all(
            F.col(binding.space) == space,
            _bounds_predicate(seq, ts, b),
            _cursor_predicate(seg, seq, ts, cursor),
        )
    )
    if ordered:
        out = out.orderBy(ts.alias("__ts_ms"), seg, seq)
    if b.limit < MAX_CONSUME_ENTRIES or bounds.limit > 0:
        out = out.limit(b.limit)
    return out


def space_page(space: str, bounds: ConsumeBounds, cursor: SpaceCursor | None = None):
    """S2's bounded page as the ``(filters, order, limit)`` of
    :meth:`Store.scan`."""
    b = bounds.normalized()
    seg, seq, ts = _FILE_COLS
    return (
        {space: _all(_bounds_predicate(seq, ts, b), _cursor_predicate(seg, seq, ts, cursor))},
        ("ts", "segment", "sequence"),
        b.limit,
    )


def consume(
    df: DataFrame,
    offsets: dict[str, SpaceCursor | None],
    bounds: ConsumeBounds = ConsumeBounds(),
    binding: EventsBinding = EventsBinding(),
    now_ms: int | None = None,
    ordered: bool = True,
) -> DataFrame:
    """S3 — multi-space timestamp-merge (k-way interleave).

    The reference opens one ConsumeSpace per offsets entry and interleaves by
    Timestamp (pkg/server/node.go:546-563).  Declaratively that is a single
    scan with an OR of per-space cursor predicates + a global timestamp sort:
    one parquet pass, no per-space union (which would re-scan the table k
    times), and the deterministic tiebreak (ts, space, segment, sequence).
    """
    b = bounds.normalized(now_ms)
    seg, seq, ts = _spark_cols(binding)
    per_space = functools.reduce(
        operator.or_,
        [
            _all(F.col(binding.space) == sp, _cursor_predicate(seg, seq, ts, offsets[sp]))
            for sp in sorted(offsets)
        ],
    )
    out = df.filter(_all(per_space, _bounds_predicate(seq, ts, b)))
    if ordered:
        out = out.orderBy(ts.alias("__ts_ms"), F.col(binding.space), seg, seq)
    if b.limit < MAX_CONSUME_ENTRIES or bounds.limit > 0:
        out = out.limit(b.limit)
    return out


def merge_page(offsets: dict[str, SpaceCursor | None], bounds: ConsumeBounds):
    """S3's bounded page as the ``(filters, order, limit)`` of
    :meth:`Store.scan`: one filter per space, merged by the same tiebreak."""
    b = bounds.normalized()
    seg, seq, ts = _FILE_COLS
    return (
        {
            sp: _all(_bounds_predicate(seq, ts, b), _cursor_predicate(seg, seq, ts, offsets[sp]))
            for sp in sorted(offsets)
        },
        ("ts", "space", "segment", "sequence"),
        b.limit,
    )


def peek(
    df: DataFrame,
    space: str,
    segment: str,
    binding: EventsBinding = EventsBinding(),
    max_ts: int | None = None,
) -> DataFrame:
    """S4 — latest entry of one segment (empty → zero rows; the reference's
    zero-sequence sentinel is an API-layer concern).  ``max_ts`` applies the
    watermark visibility clamp (pkg/server/node.go:259-298).

    Catalyst plan: filter → TakeOrderedAndProject(desc sequence, limit 1) —
    the distributed analog of the reference's reverse seek
    (pebblekit/store.go:137 SeekLT)."""
    out = df.filter(
        (F.col(binding.space) == F.lit(space))
        & (F.col(binding.segment).cast("string") == F.lit(str(segment)))
    )
    if max_ts is not None:
        out = out.filter(ts_ms_col(binding) <= F.lit(max_ts))
    return out.orderBy(F.col(binding.sequence).desc()).limit(1)


def peek_all(
    df: DataFrame,
    binding: EventsBinding = EventsBinding(),
    space: str | None = None,
) -> DataFrame:
    """Top-1 per (space, segment) for every segment at once (W1).

    Uses max_by over a single shuffle-free partial-aggregable groupBy rather
    than a window (a window would sort every partition; max_by is a partial
    aggregate that combines map-side — the right plan at 100 TB)."""
    out = df
    if space is not None:
        out = out.filter(F.col(binding.space) == F.lit(space))
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        out.groupBy(
            F.col(binding.space).alias("space"),
            F.col(binding.segment).cast("string").alias("segment"),
        )
        .agg(F.max_by(row, F.col(binding.sequence)).alias("entry"))
        .select("space", "segment", "entry.*")
    )


def consume_space_pages(
    df: DataFrame,
    space: str,
    page_size: int,
    binding: EventsBinding = EventsBinding(),
    bounds: ConsumeBounds = ConsumeBounds(),
    max_pages: int = 1_000_000,
):
    """T6 — client-side cursor pagination: yields lists of Rows, resuming
    each page strictly after the last row of the previous one (the batch
    analog of the reference's lex-key offsets, docs/concepts.md:73-81).

    Each page is an independent bounded query — between pages nothing is
    cached or held; a crashed client resumes from its last persisted
    cursor exactly like a reference consumer."""
    cursor: SpaceCursor | None = None
    ts_name = "__cursor_ts"
    for _ in range(max_pages):
        page_bounds = ConsumeBounds(
            bounds.min_sequence, bounds.max_sequence,
            bounds.min_ts, bounds.max_ts, page_size,
        )
        page_df = consume_space(df, space, page_bounds, cursor, binding)
        rows = page_df.withColumn(ts_name, ts_ms_col(binding)).collect()
        if not rows:
            return
        yield [r for r in rows]
        last = rows[-1]
        cursor = (
            last[ts_name],
            str(last[binding.segment]),
            last[binding.sequence],
        )
        if len(rows) < page_size:
            return
