"""segment_log — closed loop, one client, over streamkit's wire surface.

A fresh store under the run's scratch directory holds 2 spaces x 4
segments.  The client draws segments from a seeded Zipf(1.1), so a few
segments are hot, and runs a fixed op mix per pass in a seeded order:
``produce`` (batches of 200-500 records that add up to the same count
in every pass), ``consume_segment`` (a cursor
page of 100 from a seeded sequence), ``consume_space`` (the next
timestamp-merged page of a space), ``consume`` (the next merged page
over both spaces), ``peek`` and ``get_segment_status``.  A live
``engine.subscribe`` stream runs the whole time; after each produce the
client reads the subscription sink until it shows the new tail, which is
the visibility latency.

Every read is checked against a model of what was produced: contiguous
sequences after the cursor with the produced payloads, the exact
(ts, segment, sequence) merge order of a page, ``peek`` equal to the
last produced sequence and the status row equal to the produced tail.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import time
import zlib

from common import latency_summary, median
from tracer import descendants, subtree_total
from workload import Workload

STORE = "bench-store"
# Traffic shape.  METRICS.md ("Where the segment_log figures come from")
# gives each value's source, or says it is an assumption and why.
SPACES = ("sp0", "sp1")
SEGMENTS = tuple((sp, f"seg{i}") for sp in SPACES for i in range(4))
ZIPF_S = 1.1
PAGE = 100
SEED_RECORDS = 253
BATCH_MIN, BATCH_MAX = 200, 500
BODY_MIN, BODY_MAX = 20, 200
PASS_MIX = {
    "produce": 2, "consume_segment": 6, "consume_space": 6,
    "consume": 6, "peek": 6, "status": 6,
}
VISIBLE_TIMEOUT_S = 30.0  # a stalled stream fails its check well inside the 180 s run limit

LAYER_METRICS = {
    "store.seed_s": "s",
    "produce.ms": "ms",
    "produce.jobs": "count",
    "produce.files_written": "count",
    "produce.bytes_per_user_byte": "ratio",
    "consume.segment_ms": "ms",
    "consume.space_ms": "ms",
    "consume.merge_ms": "ms",
    "consume.jobs": "count",
    "consume.files_scanned": "count",
    "consume.rows_scanned_per_returned": "ratio",
    "store.event_files": "count",
    "engine.peek_ms": "ms",
    "engine.peek_jobs": "count",
    "status.ms": "ms",
    "status.jobs": "count",
    "subscribe.visible_ms": "ms",
    "subscribe.batch_ms": "ms",
    "subscribe.batches": "count",
    "subscribe.input_rows_per_s": "1/s",
    "subscribe.state_rows": "count",
}

READS = ("consume_segment", "consume_space", "consume")
LOOKUPS = ("peek", "status")
SPAN_OF = {
    "produce": "engine.produce",
    "consume_segment": "engine.consume_segment",
    "consume_space": "engine.consume_space",
    "consume": "engine.consume",
    "peek": "engine.peek",
    "status": "engine.get_segment_status",
}


def _event_files(events_path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(events_path):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


class SegmentLog(Workload):
    name = "segment_log"
    layer_metrics_units = LAYER_METRICS
    pass_nominal_s = 10.0
    # 4 calls a run, each waiting on whichever micro-batch is in flight:
    # 160-610 ms medians across runs of the same build
    detail_only_kinds = ("visible",)

    def __init__(self, ctx):
        super().__init__(ctx)
        from streamkit_spark.engine import StreamkitEngine
        from streamkit_spark.operators.consume import ConsumeBounds

        self._engine_cls = StreamkitEngine
        self._bounds = ConsumeBounds
        rng = ctx.rng
        order = list(SEGMENTS)
        rng.shuffle(order)  # which segments are hot depends on the seed
        self.zipf_segments = order
        self.zipf_weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(order))]
        self.mix = {k: 1 for k in PASS_MIX} if ctx.smoke else PASS_MIX
        self.engine = None
        self.query = None
        self.layer: dict[str, list[float]] = {}
        self.user_bytes = 0
        self.written_bytes = 0

    # ------------------------------------------------------------ model
    def _reset_model(self):
        self.tail = {s: 0 for s in SEGMENTS}
        # per space: sorted (ts, segment, sequence) keys of every produced row
        self.keys = {sp: [] for sp in SPACES}
        self.space_cursor = {sp: None for sp in SPACES}
        self.merge_cursor = {sp: None for sp in SPACES}

    def _payload(self, seg: tuple[str, str], seq: int) -> bytes:
        h = zlib.crc32(f"{self.ctx.seed}:{seg[0]}:{seg[1]}:{seq}".encode())
        body_len = BODY_MIN + h % (BODY_MAX - BODY_MIN)
        return json.dumps(
            {"space": seg[0], "segment": seg[1], "seq": seq, "body": "x" * body_len}
        ).encode()

    def _pick(self, written: bool = False) -> tuple[str, str]:
        """A Zipf draw over all segments, or over the segments written so
        far (reads: a client reads segments it knows exist)."""
        pairs = [
            (s, w) for s, w in zip(self.zipf_segments, self.zipf_weights)
            if not written or self.tail[s]
        ]
        return self.ctx.rng.choices([s for s, _ in pairs], [w for _, w in pairs])[0]

    # ------------------------------------------------------------ setup
    def setup(self, rep: int) -> None:
        self.root = os.path.join(self.ctx.work, f"store-{rep}")
        self.engine = self._engine_cls(self.spark, self.root)
        self.qname = f"perfbench_status_{rep}"
        self._reset_model()
        t = time.perf_counter()
        with self.tracer.span("store.seed"):
            self._produce(self.zipf_segments[0], SEED_RECORDS)
        self.layer.setdefault("store.seed_s", []).append(time.perf_counter() - t)
        with self.tracer.span("subscribe.start"):
            self.query = self.engine.subscribe(
                STORE, self.qname, checkpoint=os.path.join(self.root, "_subscription")
            )
            self._await_visible(self.zipf_segments[0])
        self.first_batch = self._last_batch_id()

    def teardown(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
        if self.engine is not None:
            shutil.rmtree(self.root, ignore_errors=True)
            self.engine = None

    def warm_up(self) -> None:
        """Each read and lookup twice; the set-ups have already produced
        and awaited visibility three times."""
        for kind in 2 * (READS + LOOKUPS):
            getattr(self, f"_op_{kind}")()

    # ------------------------------------------------------------- ops
    def run_pass(self, k: int) -> None:
        rng = self.ctx.rng
        ops = [kind for kind, n in self.mix.items() for _ in range(n)]
        rng.shuffle(ops)
        # paired sizes n and MIN+MAX-n: a pass produces the same volume on
        # every seed, so the store grows alike across seeds
        self.batches = []
        while len(self.batches) < self.mix["produce"]:
            n = rng.randint(BATCH_MIN, BATCH_MAX)
            self.batches += [n, BATCH_MIN + BATCH_MAX - n]
        for kind in ops:
            getattr(self, f"_op_{kind}")()

    def _op_produce(self):
        n = self.batches.pop()
        seg = self._pick()
        self._produce(seg, n)
        self._await_visible(seg)

    def _produce(self, seg, n: int):
        first = self.tail[seg] + 1
        records = [(s, self._payload(seg, s), None) for s in range(first, first + n)]
        traced = self.tracer.enabled
        before = set()
        if traced:
            with self.tracer.overhead():
                before = set(_event_files(self.engine.store(STORE).events_path))
        t = time.perf_counter()
        with self.tracer.span("engine.produce", space=seg[0], segment=seg[1], records=n) as op:
            statuses = self.engine.produce(STORE, seg[0], seg[1], records)
        t1 = time.perf_counter()
        last = first + n - 1
        ok = bool(statuses) and statuses[-1]["last_sequence"] == last
        self.check(ok, f"produce {seg} -> {statuses[-1] if statuses else None}, want tail {last}")
        if not ok:
            raise RuntimeError("produce returned a wrong tail")
        ts = statuses[-1]["last_ts"]
        self.tail[seg] = last
        keys = self.keys[seg[0]]
        for s in range(first, last + 1):
            bisect.insort(keys, (ts, seg[1], s))
        self.record("produce", t, t1)
        if traced:
            with self.tracer.overhead():
                new = set(_event_files(self.engine.store(STORE).events_path)) - before
                op["files_written"] = len(new)
                self.written_bytes += sum(os.path.getsize(p) for p in new)
                self.user_bytes += sum(len(r[1]) for r in records)

    def _sink_tail(self, seg) -> int:
        row = self.spark.sql(
            f"SELECT max(last_sequence) AS m FROM {self.qname} "
            f"WHERE space = '{seg[0]}' AND segment = '{seg[1]}'"
        ).collect()[0]
        return row["m"] or 0

    def _await_visible(self, seg):
        want = self.tail[seg]
        t = time.perf_counter()
        with self.tracer.span("subscribe.visible", space=seg[0], segment=seg[1]):
            while True:
                got = self._sink_tail(seg)
                if got >= want or time.perf_counter() - t > VISIBLE_TIMEOUT_S:
                    break
                time.sleep(0.005)
        self.record("visible", t, time.perf_counter())
        self.check(got == want, f"subscription sink tail of {seg} is {got}, want {want}")

    def _read(self, kind: str, build, **attrs):
        t = time.perf_counter()
        with self.tracer.span(SPAN_OF[kind], **attrs):
            rows = self.timed_df(build)
        self.record(kind, t, time.perf_counter())
        return rows

    def _op_consume_segment(self):
        seg = self._pick(written=True)
        tail = self.tail[seg]
        start = self.ctx.rng.randint(1, tail) if tail else 1
        bounds = self._bounds(min_sequence=start, limit=PAGE)
        rows = self._read(
            "consume_segment",
            lambda: self.engine.consume_segment(STORE, seg[0], seg[1], bounds),
            space=seg[0], segment=seg[1],
        )
        want = list(range(start, min(start + PAGE, tail + 1)))
        got = [r["sequence"] for r in rows]
        ok = got == want and all(r["payload"] == self._payload(seg, r["sequence"]) for r in rows)
        self.check(ok, f"consume_segment {seg} from {start}: got {got[:3]}..{got[-3:]} want {want[:3]}..{want[-3:]}")

    def _page_after(self, space, cursor):
        keys = self.keys[space]
        i = 0 if cursor is None else bisect.bisect_right(keys, cursor)
        return keys[i:i + PAGE]

    def _op_consume_space(self):
        space = self._pick(written=True)[0]
        cursor = self.space_cursor[space]
        rows = self._read(
            "consume_space",
            lambda: self.engine.consume_space(
                STORE, space, self._bounds(limit=PAGE), cursor=cursor
            ),
            space=space,
        )
        got = [(r["ts"], r["segment"], r["sequence"]) for r in rows]
        want = self._page_after(space, cursor)
        ok = got == want and all(
            r["payload"] == self._payload((space, r["segment"]), r["sequence"]) for r in rows
        )
        self.check(ok, f"consume_space {space} after {cursor}: {len(got)} rows, want {len(want)}")
        if got:
            self.space_cursor[space] = got[-1]

    def _op_consume(self):
        offsets = dict(self.merge_cursor)
        rows = self._read(
            "consume",
            lambda: self.engine.consume(STORE, offsets, self._bounds(limit=PAGE)),
        )
        got = [(r["ts"], r["space"], r["segment"], r["sequence"]) for r in rows]
        merged = sorted(
            (k[0], sp, k[1], k[2]) for sp in SPACES for k in self._page_after(sp, offsets[sp])
        )
        want = merged[:PAGE]
        self.check(got == want, f"consume after {offsets}: {len(got)} rows, want {len(want)}")
        for ts, sp, seg, seq in got:
            self.merge_cursor[sp] = (ts, seg, seq)

    def _op_peek(self):
        seg = self._pick(written=True)
        rows = self._read(
            "peek", lambda: self.engine.peek(STORE, seg[0], seg[1]),
            space=seg[0], segment=seg[1],
        )
        tail = self.tail[seg]
        got = [r["sequence"] for r in rows]
        want = [tail] if tail else []
        ok = got == want and all(r["payload"] == self._payload(seg, tail) for r in rows)
        self.check(ok, f"peek {seg}: got {got}, want {want}")

    def _op_status(self):
        seg = self._pick(written=True)
        rows = self._read(
            "status", lambda: self.engine.get_segment_status(STORE, seg[0], seg[1]),
            space=seg[0], segment=seg[1],
        )
        tail = self.tail[seg]
        got = [(r["first_sequence"], r["last_sequence"]) for r in rows]
        want = [(1, tail)] if tail else []
        self.check(got == want, f"status {seg}: got {got}, want {want}")

    # ------------------------------------------------------------ metrics
    def _last_batch_id(self) -> int:
        prog = self.query.lastProgress if self.query is not None else None
        return prog["batchId"] if prog else -1

    def finish(self) -> None:
        """Final checks and stream figures, before the store is dropped."""
        for seg in SEGMENTS:
            if self.tail[seg]:
                got = self._sink_tail(seg)
                self.check(got == self.tail[seg], f"final sink tail of {seg} is {got}, want {self.tail[seg]}")
        self.event_files = len(_event_files(self.engine.store(STORE).events_path))
        self.progress = [
            p for p in (json.loads(q.json) for q in self.query.recentProgress)
            if p["batchId"] > self.first_batch and p["numInputRows"] > 0
        ]

    def e2e_detail(self) -> dict:
        reads = [s for k in READS for s in self.lat.get(k, [])]
        looks = [s for k in LOOKUPS for s in self.lat.get(k, [])]
        return {
            "produce": latency_summary(self.lat.get("produce", [])),
            "read": latency_summary(reads),
            "lookup": latency_summary(looks),
            "visible": latency_summary(self.lat.get("visible", [])),
        }

    def layer_metrics(self, spans: list[dict]) -> dict[str, float]:
        ops = [
            s for p in spans if p["name"] == "pass" for s in descendants(spans, p["id"])
        ]
        by_name: dict[str, list[dict]] = {}
        for s in ops:
            by_name.setdefault(s["name"], []).append(s)
        # scan figures live on each op's exec child
        exec_of = {s["parent"]: s for s in ops if s["name"] == "exec"}
        consumes = [s for k in READS for s in by_name.get(SPAN_OF[k], [])]
        scanned = sum(exec_of[s["id"]].get("rows_scanned", 0) for s in consumes)
        returned = sum(exec_of[s["id"]].get("rows_returned", 0) for s in consumes)
        ms = lambda xs: median([(x["end"] - x["start"]) * 1000.0 for x in xs])
        n_jobs = lambda xs: median([subtree_total(spans, x, "jobs") for x in xs])
        prog = self.progress
        m = {
            "store.seed_s": median(self.layer.get("store.seed_s", [])),
            "produce.ms": ms(by_name.get("engine.produce", [])),
            "produce.jobs": n_jobs(by_name.get("engine.produce", [])),
            "produce.files_written": median(
                [s.get("files_written", 0) for s in by_name.get("engine.produce", [])]
            ),
            "produce.bytes_per_user_byte": self.written_bytes / self.user_bytes if self.user_bytes else 0.0,
            "consume.segment_ms": ms(by_name.get("engine.consume_segment", [])),
            "consume.space_ms": ms(by_name.get("engine.consume_space", [])),
            "consume.merge_ms": ms(by_name.get("engine.consume", [])),
            "consume.jobs": n_jobs(consumes),
            "consume.files_scanned": median(
                [exec_of[s["id"]].get("files_scanned", 0) for s in consumes]
            ),
            "consume.rows_scanned_per_returned": scanned / returned if returned else 0.0,
            "store.event_files": self.event_files,
            "engine.peek_ms": ms(by_name.get("engine.peek", [])),
            "engine.peek_jobs": n_jobs(by_name.get("engine.peek", [])),
            "status.ms": ms(by_name.get("engine.get_segment_status", [])),
            "status.jobs": n_jobs(by_name.get("engine.get_segment_status", [])),
            "subscribe.visible_ms": ms(by_name.get("subscribe.visible", [])),
            "subscribe.batch_ms": median([p["durationMs"]["triggerExecution"] for p in prog]),
            "subscribe.batches": len(prog),
            "subscribe.input_rows_per_s": median([p["processedRowsPerSecond"] for p in prog]),
            "subscribe.state_rows": sum(
                op["numRowsTotal"] for op in prog[-1].get("stateOperators", [])
            ) if prog else 0,
        }
        m.update(self.phase_metrics(spans))
        return m

