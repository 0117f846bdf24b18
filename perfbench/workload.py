"""What every workload shares: the run context, op and check bookkeeping,
and the per-pass roll-up of the Spark-phase spans (build, Catalyst, exec)."""

from __future__ import annotations

import math
import random
import sys
from dataclasses import dataclass, field

from common import median
from tracer import Tracer, descendants, subtree_total

# per-layer metrics every workload reports besides its own
COMMON_METRICS = {
    "session.start_s": "s",
    "trace.overhead_ratio": "ratio",
}
PHASE_METRICS = {
    "build.s": "s",
    "build.jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.storage_mb_peak": "MB",
}


@dataclass
class Context:
    spark: object
    tracer: Tracer
    work: str  # scratch directory of this run, removed at the end
    data: str  # the benchmark's fixture tables
    seed: int
    smoke: bool
    rng: random.Random = field(init=False)

    def __post_init__(self):
        self.rng = random.Random(self.seed)


class Workload:
    name = ""
    layer_metrics_units: dict[str, str] = {}  # the workload's own layer metrics
    # op kinds reported in the detail record only, not in op_geomean_ms
    detail_only_kinds: tuple[str, ...] = ()

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.lat: dict[str, list[float]] = {}  # op kind -> latencies (s)
        self.when: dict[str, list[tuple[float, float]]] = {}  # kind -> (start, end)
        self.attempted = 0
        self.failed = 0

    def record(self, kind: str, start: float, end: float) -> None:
        self.lat.setdefault(kind, []).append(end - start)
        self.when.setdefault(kind, []).append((start, end))

    def check(self, ok: bool, what: str) -> None:
        """Count one output check; a mismatch is printed, never hidden."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: CHECK FAILED [{self.name}] {what}", file=sys.stderr, flush=True)

    def calm_medians(self, steal) -> dict[str, float]:
        """Op kind -> the median latency of the half of its calls (rounded
        up) during which the host stole the least CPU time from this
        machine, by ``steal(start, end)``.  On a shared host a call that
        loses CPU to other guests runs far slower than the stolen time
        alone, so the calls the host left alone measure the program."""
        out = {}
        for kind, lats in self.lat.items():
            calls = sorted(zip(self.when[kind], lats), key=lambda c: steal(*c[0]))
            out[kind] = median([lat for _, lat in calls[: (len(calls) + 1) // 2]])
        return out

    # -- hooks
    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Once after the set-ups: ops whose first call would otherwise be
        timed cold.  Latencies recorded here are dropped."""
        raise NotImplementedError

    # nominal length of one pass on a 4-core box: a run makes
    # round(--seconds / pass_nominal_s) passes, at least one
    pass_nominal_s: float

    def run_pass(self, k: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Final output checks once the measured passes are done."""

    def e2e_detail(self) -> dict:
        """Latency summaries by op class for the run's detail record."""
        return {}

    def traced_extras(self) -> None:
        """Traced runs only: standalone calls whose spans feed per-layer
        metrics but no end-to-end metric."""

    def teardown(self) -> None:
        pass

    def layer_metrics(self, spans: list[dict]) -> dict[str, float]:
        raise NotImplementedError

    # -- roll-ups shared by the workloads
    def phase_metrics(self, spans: list[dict]) -> dict[str, float]:
        """Spark-phase totals per measured pass, median over passes."""
        passes = [s for s in spans if s["name"] == "pass"]
        per_pass: dict[str, list[float]] = {}
        for p in passes:
            sub = descendants(spans, p["id"])
            builds = [s for s in sub if s["name"] == "build"]
            execs = [s for s in sub if s["name"] == "exec"]
            tot = lambda xs, key: sum(x.get(key, 0) for x in xs)
            vals = {
                "build.s": sum(s["end"] - s["start"] for s in builds),
                "build.jobs": sum(subtree_total(spans, s, "jobs") for s in builds),
                "catalyst.analysis_ms": tot(execs, "analysis_ms"),
                "catalyst.optimization_ms": tot(execs, "optimization_ms"),
                "catalyst.planning_ms": tot(execs, "planning_ms"),
                "exec.s": sum(s["end"] - s["start"] for s in execs),
                "exec.jobs": sum(subtree_total(spans, s, "jobs") for s in execs),
                "exec.stages": tot(execs, "stages"),
                "exec.tasks": tot(execs, "tasks"),
                "exec.shuffle_read_bytes": tot(execs, "shuffle_read_bytes"),
                "exec.shuffle_write_bytes": tot(execs, "shuffle_write_bytes"),
                "exec.spill_bytes": tot(execs, "spill_bytes"),
            }
            for k, v in vals.items():
                per_pass.setdefault(k, []).append(v)
        out = {k: median(v) for k, v in per_pass.items()}
        out["exec.storage_mb_peak"] = self.tracer.storage_peak_bytes / 1e6
        return out

    def timed_df(self, build):
        """Build a DataFrame inside a ``build`` span and collect it inside an
        ``exec`` span; returns the rows."""
        with self.tracer.span("build"):
            df = build()
        with self.tracer.span("exec") as ex:
            rows = df.collect()
        self.tracer.annotate_exec(ex, df, len(rows))
        return rows


def geomean(values) -> float:
    """Geometric mean: every op kind weighs the same, however many calls
    it has and however slow it is."""
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))
