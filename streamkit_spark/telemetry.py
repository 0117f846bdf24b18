"""Metrics and tracing surface — the engine's analog of the reference's
``pkg/telemetry`` (meter.go: OTel counters/gauges/histograms; tracer.go:
spans; errors.go: error recording), re-expressed on PUBLIC Spark APIs
instead of an OTel SDK (absent in this environment, and Spark already
carries the hard part — per-query execution metrics — natively):

- **Meter analog** — :meth:`Telemetry.observe` attaches a
  ``pyspark.sql.Observation`` to a DataFrame: named aggregate metrics
  (counters/gauges) are collected INSIDE the job that executes the
  plan, no second action and no driver re-scan.  Driver-side counters
  (:meth:`Telemetry.counter`) cover non-query events (files compacted,
  retries, leases lost) the way meter.go's Int64Counters do.
- **Tracer analog** — :meth:`Telemetry.span` is a nested context
  manager producing (name, parent, depth, seconds, error) rows; like
  tracer.go's spans it records failures (errors.go discipline: the
  span survives the exception and carries its class name).
- **Streaming** — :class:`StreamProgressListener` (public
  ``StreamingQueryListener`` API) keeps a BOUNDED deque of
  QueryProgressEvent summaries: rows/sec, batch duration and its
  ``durationMs`` phases, state rows and state-store commit time — the
  backpressure signals meter.go's queue gauges watch on the wire.
- **Codegen** — :func:`codegen_compiles` reads how many classes the
  driver JVM's Janino compiler has built, and in how many ms, so a
  timing can be split into compilation and the rest.

Scale: everything here is driver-side bookkeeping of per-JOB scalars —
an Observation costs one extra aggregate riding the existing job; the
listener holds ``maxlen`` dicts however long the stream runs.  Nothing
touches the data path.
"""

from __future__ import annotations

import time
from collections import deque
from decimal import Decimal as _Decimal
from contextlib import contextmanager
from typing import Any, Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = ["Telemetry", "StreamProgressListener", "codegen_compiles"]


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) by the JVM's generated-code compiler
    since the JVM started: Spark's ``CodegenMetrics`` compilation count
    and ``CodeGenerator.compileTime``.  A hit in the generated-class
    cache (``spark.sql.codegen.cache.maxEntries``) counts neither, so the
    difference of two readings around an action is the compile work that
    action paid.  The readings are JVM-wide: in local mode they include
    the executors' compiles, and concurrent actions blur the split."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e6


class Telemetry:
    """Process-local metrics/trace registry for one engine instance.

    >>> tel = Telemetry()
    >>> df2 = tel.observe(df, "scan", F.count("*").alias("rows"))
    >>> df2.write...                       # run any action
    >>> tel.metrics("scan")["rows"]
    >>> with tel.span("compact"):
    ...     store.compact(...)
    >>> tel.report(spark).show()
    """

    def __init__(self, max_spans: int = 10_000) -> None:
        self._observations: dict[str, Observation] = {}
        self._counters: dict[str, int] = {}
        self._spans: deque[dict[str, Any]] = deque(maxlen=max_spans)
        self._span_stack: list[str] = []

    # -- meter analog ------------------------------------------------------

    def observe(self, df: DataFrame, name: str, *metrics: Column) -> DataFrame:
        """Attach named in-job metrics to ``df`` (meter.go's instruments):
        each ``metrics`` column is an aggregate expression evaluated over
        the rows that actually flow through this point of the plan.
        Defaults to a row counter.  Re-using a name replaces the previous
        observation (Observations are single-action)."""
        if not metrics:
            metrics = (F.count(F.lit(1)).alias("rows"),)
        obs = Observation(name)
        self._observations[name] = obs
        return df.observe(obs, *metrics)

    def metrics(self, name: str) -> dict[str, Any]:
        """Collected metrics of a named observation; blocks until the
        observed DataFrame's action has run (Observation semantics)."""
        return dict(self._observations[name].get)

    def counter(self, name: str, add: int = 1) -> int:
        """Driver-side monotonic counter (meter.go Int64Counter analog);
        returns the new value."""
        self._counters[name] = self._counters.get(name, 0) + int(add)
        return self._counters[name]

    @property
    def counters(self) -> dict[str, int]:
        return dict(self._counters)

    @staticmethod
    def _try_get(obs: Observation) -> dict[str, Any] | None:
        """Non-blocking metrics probe.  ``Observation.get`` BLOCKS until
        the observed action runs, so the report path must ask the JVM
        observation's ``getOrEmpty`` instead (empty map = not finished);
        an unattached observation has no JVM handle at all."""
        jo = getattr(obs, "_jo", None)
        if jo is None:
            return None
        try:
            if jo.getOrEmpty().isEmpty():
                return None
            return dict(obs.get)  # finished — the blocking get returns now
        except Exception:
            return None

    # -- tracer analog -----------------------------------------------------

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        """Nested wall-time span (tracer.go analog).  A raised exception
        is re-raised but the span still records, carrying the error
        class name (errors.go's RecordError discipline)."""
        parent = self._span_stack[-1] if self._span_stack else None
        self._span_stack.append(name)
        t0 = time.monotonic()
        err: str | None = None
        try:
            yield
        except BaseException as e:
            err = type(e).__name__
            raise
        finally:
            self._span_stack.pop()
            self._spans.append(
                {
                    "name": name,
                    "parent": parent,
                    "depth": len(self._span_stack),
                    "seconds": time.monotonic() - t0,
                    "error": err,
                }
            )

    @property
    def spans(self) -> list[dict[str, Any]]:
        return list(self._spans)

    # -- report ------------------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame:
        """One flat (kind, name, metric, value, text_value, error)
        DataFrame over everything recorded so far — counters, finished
        observations, spans — the scrape surface a metrics exporter
        would read.

        Every finished observation metric is emitted, never skipped:
        numerics land in ``value`` (text_value NULL); booleans are
        explicit 1.0/0.0 AND carry 'true'/'false' in ``text_value`` so
        a scrape can tell a gauge from a flag; non-numeric metrics
        (e.g. min/max over a string column) emit value NULL with the
        stringified payload in ``text_value``."""
        rows: list[tuple[str, str, str, float | None, str | None, str | None]] = []
        for name, val in sorted(self._counters.items()):
            rows.append(("counter", name, "count", float(val), None, None))
        for name, obs in sorted(self._observations.items()):
            got = self._try_get(obs)
            if got is None:
                continue  # observed action has not run yet
            for metric, val in got.items():
                if isinstance(val, bool):
                    rows.append(("observation", name, metric,
                                 1.0 if val else 0.0,
                                 "true" if val else "false", None))
                elif isinstance(val, (int, float, _Decimal)):
                    # strict type check, NOT float(val) duck-typing: a
                    # numeric-looking STRING metric (max over id
                    # strings like '00042') must keep its payload in
                    # text_value, not silently become a gauge of 42.0
                    rows.append(
                        ("observation", name, metric, float(val), None, None)
                    )
                else:
                    rows.append(("observation", name, metric, None,
                                 None if val is None else str(val), None))
        for s in self._spans:
            rows.append(
                ("span", s["name"], "seconds", s["seconds"], None, s["error"])
            )
        return spark.createDataFrame(
            rows,
            "kind string, name string, metric string, value double, "
            "text_value string, error string",
        )


class StreamProgressListener:
    """Bounded StreamingQueryListener capturing per-batch progress —
    register with ``spark.streams.addListener(listener)`` and read
    ``.progress()`` / ``.summary()``.  State is ``maxlen`` dicts total
    whatever the stream's lifetime (the bounded-state discipline every
    streaming op in this repo follows)."""

    def __init__(self, maxlen: int = 1_000) -> None:
        # subclassing StreamingQueryListener lazily: the pyspark import
        # is deferred so batch-only deployments never touch streaming
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer._events.append(
                    {"kind": "started", "id": str(event.id), "name": event.name}
                )

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                duration = dict(p.durationMs or {})
                outer._events.append(
                    {
                        "kind": "progress",
                        "id": str(p.id),
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "rows_per_sec": p.processedRowsPerSecond,
                        "batch_ms": duration.get("triggerExecution"),
                        # the whole breakdown: addBatch, latestOffset,
                        # walCommit, commitOffsets, ... per batch
                        "duration_ms": duration,
                        "state_rows": sum((s.numRowsTotal or 0) for s in ops),
                        # one entry per state operator, summed over its
                        # state-store instances
                        "state_commit_ms": [s.commitTimeMs or 0 for s in ops],
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer._events.append(
                    {
                        "kind": "terminated",
                        "id": str(event.id),
                        "error": event.exception,
                    }
                )

        self._events: deque[dict[str, Any]] = deque(maxlen=maxlen)
        self.listener = _L()

    def progress(self) -> list[dict[str, Any]]:
        return [e for e in self._events if e["kind"] == "progress"]

    def events(self) -> list[dict[str, Any]]:
        return list(self._events)

    def summary(self) -> dict[str, Any]:
        """Aggregate view: batches seen, total input rows, max state
        rows, mean batch ms, the mean of each ``durationMs`` phase over
        the batches that report it, and the mean state-store commit ms
        per batch (all state operators) — the health scrape.  Its size
        is fixed by Spark's phase names, not by the batch count."""
        prog = self.progress()
        if not prog:
            return {"batches": 0, "input_rows": 0, "max_state_rows": 0,
                    "mean_batch_ms": None, "mean_duration_ms": {},
                    "mean_state_commit_ms": None}
        mean = lambda xs: (sum(xs) / len(xs)) if xs else None
        phases = sorted({k for p in prog for k in p["duration_ms"]})
        return {
            "batches": len(prog),
            "input_rows": sum(p["num_input_rows"] for p in prog),
            "max_state_rows": max(p["state_rows"] for p in prog),
            "mean_batch_ms": mean([p["batch_ms"] for p in prog if p["batch_ms"] is not None]),
            "mean_duration_ms": {
                k: mean([p["duration_ms"][k] for p in prog if k in p["duration_ms"]])
                for k in phases
            },
            "mean_state_commit_ms": mean(
                [sum(p["state_commit_ms"]) for p in prog if p["state_commit_ms"]]
            ),
        }
