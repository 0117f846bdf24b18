"""Streaming inter-arrival gap extraction — the stream twin of
``analytics.interarrival_stats``.

Unlike the cell sketches (``analytics.histogram_buckets``,
``value_cells``, ``daily_totals`` run on a streaming DataFrame), gaps are
not a re-aggregated table: each gap is an IMMUTABLE FACT (two
consecutive events in one stream) emitted exactly once, so the twin is
an APPEND stream of gap rows plus per-stream last-ts state:

* ``gap_stream`` — ``applyInPandasWithState`` keyed by (group, key);
  state is ONE long (the stream's last timestamp) regardless of stream
  length.  Each micro-batch sorts its rows once by ``(ts, *order_cols)``
  (arrow chunks arrive unordered — the r3 sharp edge) and emits one gap
  per consecutive pair, including the boundary gap against the stored
  last ts.
* the report is ``analytics.interarrival_from_gaps(gaps, group_col)``
  over the accumulated gap rows — the batch finisher itself, so batch
  and stream cannot drift; the parity test pins them together.

Ordering contract: gaps are computed in ARRIVAL-within-batch order
against monotone state — correct when each (group, key) stream arrives
in event order across micro-batches (the produce path's ordered-append
invariant).  A late row older than the stored last ts would yield a
negative gap; such rows are emitted with the negative gap intact so a
consumer can SEE the disorder rather than silently absorbing it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["gap_stream"]


def gap_stream(
    events: DataFrame,
    group_col: str,
    key_col: str,
    ts_col: str,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Append stream of (group, gap) rows — one per consecutive event
    pair inside each (group, key) stream, boundary pairs across
    micro-batches included via the last-ts state."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    # preserve the group column's original type (the kmv_sketch_stream
    # discipline — a hardcoded string would stringify numeric groups
    # and break type parity with the batch twin)
    grp_type = events.schema[group_col].dataType.simpleString()
    out_schema = f"{group_col} {grp_type}, gap long"
    state_schema = "last_ts long"
    sort_cols = [ts_col, *order_cols]

    def update(key, pdfs, state):
        frames = [p for p in pdfs if not p.empty]
        if not frames:
            yield pd.DataFrame([])
            return
        # one concat + one sort per group-batch: arrow hands a group's
        # rows as multiple chunks in arbitrary order (r3 sharp edge)
        pdf = pd.concat(frames, ignore_index=True).sort_values(
            sort_cols, kind="mergesort"
        )
        ts = pdf[ts_col].astype("int64").tolist()
        prev = state.get[0] if state.exists else None
        gaps = []
        for t in ts:
            if prev is not None:
                gaps.append(t - prev)
            prev = t
        state.update((int(prev),))
        yield pd.DataFrame(
            [{group_col: key[0], "gap": int(g)} for g in gaps]
        )

    return (
        events.filter(
            events[group_col].isNotNull()
            & events[key_col].isNotNull()
            & events[ts_col].isNotNull()
        )
        # cast ts to long SPARK-side, exactly as the batch twin does —
        # a timestamp-typed column decoded into pandas would otherwise
        # become datetime64[ns] and astype('int64') would emit
        # NANOSECOND gaps while the batch path emits the cast('long')
        # unit
        .withColumn(ts_col, F.col(ts_col).cast("long"))
        .groupBy(group_col, key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

