"""Streaming association-rule maintenance — the stream twin of
``analytics.association_rules``.

Why this shape (CLAUDE r5 note: "the basket sketch is NOT monotone
under re-keying"): per-micro-batch PAIR COUNTS cannot be summed — when
a later batch adds item C to a basket that already holds {A, B}, the
new pairs (A,C) and (B,C) involve items the aggregator no longer sees,
so incremental pair counting under-counts retroactive pairs.  What IS
monotone is the (basket, item) DISTINCT relation: a basket's item set
only ever grows, an observed pair never disappears.  So the twin
maintains exactly that relation with the built-in streaming
``dropDuplicates`` — append output mode, no tombstones, no custom
stateful op — and the rules themselves are computed at read time by
the batch operator itself (``analytics.association_rules`` over the
sink table), so batch and stream cannot drift.

* ``basket_items_stream`` — streaming distinct over
  (basket key columns..., item).  Each first observation of a pair
  emits one append row; replays of a known pair emit nothing
  (at-least-once dedup falls out of the operator).  State is one entry
  per DISTINCT (basket, item) pair — the same cardinality the batch
  operator's basket table holds, i.e. at most baskets × item
  vocabulary, independent of stream length.  No watermark: an
  association relation has no event-time expiry; pairs are facts.
* the report is ``analytics.association_rules(pairs, basket_cols,
  item_col)`` over the maintained relation: it groups the pairs back to
  sorted-distinct basket arrays (its NULL-item filter is a no-op there,
  the relation holds no NULL items).

At 100 TB the maintained relation is the natural materialization: it
is the smallest state from which support/confidence/lift are exactly
recomputable, and it shards by basket key with no cross-basket
shuffle during maintenance (the only shuffles are in the finisher,
over the much smaller distinct relation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["basket_items_stream"]


def basket_items_stream(
    stream: DataFrame,
    basket_cols: list[str] | tuple[str, ...],
    item_col: str,
) -> DataFrame:
    """Maintain the distinct (basket, item) relation over a stream.

    Output (append mode): one row per first-ever observation of a
    (basket key..., item) combination, columns exactly
    ``(*basket_cols, item_col)`` with their input types preserved.
    """
    cols = [*basket_cols, item_col]
    return (
        stream.filter(F.col(item_col).isNotNull())
        .select(*cols)
        .dropDuplicates(cols)
    )

