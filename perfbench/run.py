"""Benchmark of the streamkit_spark engine, driven from outside through its
public functions.

    python3 perfbench/run.py --workload segment_log --seed 1 --seconds 20 --trace 0

Run from the root of a checkout that holds ``streamkit_spark/`` and
``__spark_entry__.py``.  One process drives ``local[nproc]`` with one
client thread.  Stores, Spark scratch and temp files go to
``.perfbench/work/`` under the checkout and are removed at the end;
spans and the run's detail record go to ``.perfbench/out/``.

A run sets the workload up 3 times, warms it up, then times
round(--seconds / the workload's nominal pass length) whole passes while
a thread samples the machine's CPU steal time every 10 ms.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it is the
run's detail record (machine stamp, per-op latency summaries, every
setup and pass time).  METRICS.md says what each metric means and which
end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import StealSampler, commit_of, env_snapshot, median, steal_share  # noqa: E402

SETUP_REPS = 3
SMOKE_SETUP_REPS = 2
E2E_UNITS = {"setup_s": "s", "op_geomean_ms": "ms"}


def _workloads():
    from corpus_catalog import CorpusCatalog
    from segment_log import SegmentLog

    return {w.name: w for w in (SegmentLog, CorpusCatalog)}


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from workload import COMMON_METRICS, PHASE_METRICS

    units = dict(COMMON_METRICS)
    for w in _workloads().values():
        units.update(w.layer_metrics_units)
    units.update(PHASE_METRICS)
    return units


def _start_spark(work: str, nproc: int):
    from streamkit_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            # -XX:-UsePerfData: no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "hadoop"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then wait for the gateway JVM and every process it
    started (Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in spawned:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(_workloads()))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="one short pass, few ops")
    p.add_argument(
        "--record", action="store_true",
        help="rewrite expected.json from this run's outputs (corpus_catalog, --trace 1)",
    )
    args = p.parse_args(argv)
    if args.record and (args.workload != "corpus_catalog" or not args.trace):
        p.error("--record needs --workload corpus_catalog --trace 1")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "streamkit_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: no streamkit_spark checkout at {ROOT}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    for d in (work, os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "commit": commit_of(ROOT),
        "env_start": env_snapshot(),
    }
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)

    spark = None
    try:
        import pyspark

        stamp["pyspark"] = pyspark.__version__
        t = time.perf_counter()
        spark = _start_spark(work, nproc)
        session_s = time.perf_counter() - t
        result, detail = _measure(spark, args, work, out_dir, session_s)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    stamp["env_end"] = env_snapshot()
    stamp["cotenant"] = any(
        s["cotenant_jvms"] != 0 for s in (stamp["env_start"], stamp["env_end"])
    )
    stamp["cpu_steal_share"] = steal_share(stamp["env_start"], stamp["env_end"])
    detail = {"perfbench": "detail", "stamp": stamp, **detail}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    with open(os.path.join(out_dir, f"detail-{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(detail, default=str))
    print(json.dumps(result), flush=True)
    return 0


def _measure(spark, args, work, out_dir, session_s):
    from tracer import Tracer
    from workload import Context, geomean

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(spark, enabled=bool(args.trace), run_id=run_id)
    ctx = Context(
        spark=spark, tracer=tracer, work=work, data=os.path.join(HERE, "data"),
        seed=args.seed, smoke=args.smoke,
    )
    wl = _workloads()[args.workload](ctx)

    setups = []
    for rep in range(SMOKE_SETUP_REPS if args.smoke else SETUP_REPS):
        if rep:
            wl.teardown()
        t = time.perf_counter()
        with tracer.span("setup", rep=rep):
            wl.setup(rep)
        setups.append(time.perf_counter() - t)
    t = time.perf_counter()
    with tracer.span("warm_up"):
        wl.warm_up()
    warm_s = time.perf_counter() - t
    wl.lat.clear()
    wl.when.clear()

    # a fixed number of whole passes for a given --seconds, so the op mix
    # and the store's growth do not depend on the machine's speed that day
    n_passes = 1 if args.smoke else max(1, round(args.seconds / wl.pass_nominal_s))
    own0 = tracer.own_s
    passes = []
    with StealSampler() as steal:
        t0 = time.perf_counter()
        for k in range(n_passes):
            t = time.perf_counter()
            with tracer.span("pass", index=k):
                wl.run_pass(k)
            passes.append(time.perf_counter() - t)
        measured = time.perf_counter() - t0
    tracer_s = tracer.own_s - own0
    wl.finish()
    if args.trace:
        wl.traced_extras()
    wl.teardown()

    n_ops = sum(len(v) for v in wl.lat.values())
    calm = wl.calm_medians(steal)
    detail = {
        "setup_s": setups,
        "warm_up_s": warm_s,
        "pass_s": passes,
        "measured_s": measured,
        "ops": {k: len(v) for k, v in wl.lat.items()},
        "ops_per_s": n_ops / measured,
        "failed_ratio": wl.failed / max(wl.attempted, 1),
        "calm_ms": {k: v * 1000.0 for k, v in calm.items()},
        # every timed call: [latency ms, steal ticks during it]
        "calls": {
            k: [[lat * 1000.0, steal(*w)] for lat, w in zip(wl.lat[k], wl.when[k])]
            for k in wl.lat
        },
        **wl.e2e_detail(),
    }
    if args.trace:
        units = layer_units()
        layers = {k: 0.0 for k in units}
        layers.update(wl.layer_metrics(tracer.spans))
        layers["session.start_s"] = session_s
        layers["trace.overhead_ratio"] = measured / (measured - tracer_s)
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
        spans_path = os.path.join(out_dir, f"spans-{run_id}.jsonl")
        tracer.write(spans_path)
        detail["spans"] = spans_path
        if args.record:
            wl.write_expected()
    else:
        timed = [v for k, v in calm.items() if k not in wl.detail_only_kinds]
        values = {"setup_s": median(setups), "op_geomean_ms": geomean(timed) * 1000.0}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    detail["session_start_s"] = session_s
    result = {
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
