"""Streaming KMV set-overlap sketch — the stream twin of
``sketch.kmv_overlap``.

HLL distinct counts need no module here: ``sketch.hll_registers`` run on
a streaming DataFrame IS the live register sketch (at most ``2^b``
monotone maxima per group), and ``sketch.hll_estimate_from_registers``
finishes the sink table.  KMV does need real streaming state:

* ``kmv_sketch_stream`` keeps ≤ k hash strings per group and emits
  whole-sketch rows for atomic latest-wins replacement;
* ``finalize_kmv_overlap`` explodes the latest sketch rows and runs the
  batch pair estimator unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kmv_sketch_stream", "finalize_kmv_overlap"]


def kmv_sketch_stream(
    events: DataFrame,
    value_col: str,
    group_col: str = "event_type",
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """Streaming KMV sketch maintenance — the stream twin of
    ``sketch.kmv_sketch``: per group, keep the ``k`` lexicographically
    smallest salted md5 hashes seen so far.

    State is one ≤ ``k``-string list per group whatever the stream
    length (``applyInPandasWithState``, no timeout — a k-min set never
    expires).  Each batch emits ONE row per updated group carrying the
    WHOLE current sketch as an array, so a latest-wins sink replaces it
    atomically — per-hash rows would need eviction tombstones (the
    heavy-hitters lesson: an insertion can push the old k-th hash out).
    The hash is computed column-side with the exact batch expression
    (``sketch.kmv_hash``), and the update is a set union + sort —
    insensitive to arrow chunk order (the repo's
    applyInPandasWithState ordering edge).

    Output: (group, hs array<string>); feed the latest row per group to
    :func:`finalize_kmv_overlap`."""
    import pandas as pd

    from streamkit_spark.functions.sketch import kmv_hash

    # Preserve the group column's original type (ADVICE r5): a sketch
    # maintained from an int key must finalize with the same group type
    # the batch kmv_sketch path produces.
    grp_type = events.schema[group_col].dataType.simpleString()
    out_schema = f"{group_col} {grp_type}, hs array<string>"
    state_schema = "hs array<string>"
    src = events.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col),
        kmv_hash(F.col(value_col), salt).alias("__h"),
    )

    def update(key, pdfs, state):
        cur = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            if not pdf.empty:
                cur.update(pdf["__h"])
        top = sorted(cur)[:k]
        state.update((top,))
        yield pd.DataFrame([{group_col: key[0], "hs": top}])

    from pyspark.sql.streaming.state import GroupStateTimeout

    return src.groupBy(group_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def finalize_kmv_overlap(
    sketches: DataFrame, group_col: str = "event_type", k: int = 256
) -> DataFrame:
    """Batch finisher: explode the latest (group, hs) sketch rows into
    the (group, h, u) table and run the ONE shared pair estimator
    (``sketch.kmv_overlap_from_sketches``) — streaming sketches produce
    the identical overlap report a batch build would (the parity test
    pins this)."""
    from streamkit_spark.functions.sketch import (
        kmv_overlap_from_sketches,
        kmv_u,
    )

    sk = sketches.select(
        group_col, F.explode("hs").alias("h")
    ).withColumn("u", kmv_u(F.col("h")))
    return kmv_overlap_from_sketches(
        sk.localCheckpoint(eager=False), group_col, k
    )
