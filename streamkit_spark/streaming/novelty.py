"""Streaming user-novelty — the stream twin of
``analytics.user_novelty``.

The association.py discipline applied to actor novelty: per-micro-batch
novelty COUNTS are not monotone (a "new" actor in this batch may be a
returning one the aggregator already saw), but the DISTINCT
(actor, day) activity relation IS — an observed activity fact never
disappears, and first-seen days / daily distinct counts / cumulative
totals are all exactly recomputable from it.  So the twin maintains
exactly that relation with the built-in streaming ``dropDuplicates``
(append mode, no tombstones, no custom stateful op) and the report is
computed at read time by the batch operator itself
(``analytics.user_novelty`` over the sink table), so batch and stream
cannot drift.

* ``activity_pairs_stream`` — streaming distinct over (actor, day).
  Each first observation of a pair emits one append row; replays emit
  nothing (at-least-once dedup falls out of the operator).  State is
  one entry per DISTINCT (actor, day) pair — exactly the relation the
  batch operator reduces over, independent of stream length.  No
  watermark: activity facts have no event-time expiry.
* the report is ``analytics.user_novelty(pairs, key_col, day_col)``
  over the maintained relation (the operator is duplicate-idempotent,
  so the batch definition IS the finisher).

At 100 TB the maintained relation is the natural materialization: it
shards by actor with no cross-actor shuffle during maintenance; the
finisher's day-level window runs over the day-count-sized daily table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["activity_pairs_stream"]


def activity_pairs_stream(
    stream: DataFrame,
    key_col: str,
    day_col: str,
) -> DataFrame:
    """Maintain the distinct (actor, day) activity relation over a
    stream.  Output (append mode): one row per first-ever observation
    of a (key, day) combination, with input types preserved."""
    return (
        stream.filter(
            F.col(key_col).isNotNull() & F.col(day_col).isNotNull()
        )
        .select(key_col, day_col)
        .dropDuplicates([key_col, day_col])
    )

