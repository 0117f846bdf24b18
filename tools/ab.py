"""Interleaved A/B of two commits on perfbench, the repository's benchmark,
or on declared queries.

    python tools/ab.py --base HEAD~1 --change HEAD \
        --workload segment_log --seeds 1 2 3 4 5 6 7 8 9 10 --seconds 20

    python tools/ab.py --base HEAD~1 --change . \
        --queries knn_graph semantic_dedup --sf-dir /path/to/sf0.1 --reps 5

Each arm is its commit exported with ``git archive`` into a temporary
directory, or an existing directory (``.`` is the working tree).

Workloads: ``perfbench/run.py`` runs unchanged in each arm (``--trace 0``),
one process per run.  The arms alternate and their order flips every
seed, so load that drifts during the session hits both alike.  Printed
per workload and end-to-end metric: each arm's median and q1-q3, in how
many pairs the change was better, and how the median gap compares with
the base's q1-q3 spread; then the calm median of each op kind, and per
run its correctness and the machine's CPU steal share.

Queries: one worker process per arm imports the arm's
``__spark_entry__`` and, per rep, builds and collects each named entry of
``queries()``; the arms alternate per query and their order flips every
rep.  Before rep 0 each worker builds and collects every named query
once, untimed, so no timed rep pays the Spark session's warm-up.  The
first rep's rows are written as parquet (``--rows`` keeps them).  Printed
per query: schema equality (each differing field with its name, type
and nullable flag in both arms), the exceptAll counts in both directions,
each arm's median and q1-q3 seconds (build + collect), in how many
reps the change was faster, and each arm's median count of classes its
JVM compiled per rep with their compile ms (Spark's ``CodegenMetrics``
count and ``CodeGenerator.compileTime``), so a gap can be laid to code
generation or not.  Then each arm's median build ms (the ``queries()``
call: DataFrame construction and any job it runs eagerly), collect ms,
and py4j commands sent during the build, so a gap can be laid to plan
construction or to execution.  Unless ``SPARK_GRAFT_DRIVER_MEM`` is
set, each worker's driver heap is a quarter of the machine's memory, so
both arms fit beside each other; unless ``SPARK_GRAFT_CPUS`` is set,
each worker runs ``local[nproc]``, as perfbench does.  A worker whose
JVM is gone exits non-zero, and the A/B stops there, naming the arm.

``--out`` writes every run as JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARMS = ("base", "change")
MARK = "@ab "  # prefixes a worker's answer lines; anything else on stdout is noise


def _tree(rev: str, dest: str) -> str:
    """The arm's source tree: ``rev`` itself if it is a directory, else the
    commit exported into ``dest``."""
    if os.path.isdir(rev):
        return os.path.abspath(rev)
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", rev], capture_output=True, check=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def _run(tree: str, workload: str, seed: int, seconds: float) -> tuple[dict, dict]:
    """One perfbench run in ``tree``: its result line and detail record."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2:
        raise SystemExit(f"perfbench failed in {tree}:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _report(runs: dict, better: dict) -> None:
    for workload, arms in runs.items():
        metrics = arms["base"][0]["result"]["metrics"]
        for name, spec in metrics.items():
            lower = better.get(name, "lower") == "lower"
            vals = {a: [r["result"]["metrics"][name]["value"] for r in arms[a]] for a in ARMS}
            q = {a: _quartiles(vals[a]) for a in ARMS}
            print(f"{workload} {name} ({spec['unit']}, {'lower' if lower else 'higher'} is better)")
            for a in ARMS:
                print(f"  {a:<6} median {q[a][1]:10.4g}   q1-q3 {q[a][0]:.4g}-{q[a][2]:.4g}")
            wins = sum(
                (c < b) if lower else (c > b) for b, c in zip(vals["base"], vals["change"])
            )
            gap = q["base"][1] - q["change"][1]
            print(
                f"  change better in {wins}/{len(vals['base'])} pairs; median "
                f"{-gap / q['base'][1]:+.1%}; gap {abs(gap):.4g} vs base q1-q3 "
                f"spread {q['base'][2] - q['base'][0]:.4g}"
            )
        kinds = sorted({k for a in ARMS for r in arms[a] for k in r["calm_ms"]})
        if kinds:
            print(f"{workload} calm ms per op kind (median of runs): base -> change")
            width = max(map(len, kinds))
            for k in kinds:
                med = {
                    a: statistics.median([r["calm_ms"][k] for r in arms[a] if k in r["calm_ms"]])
                    for a in ARMS
                }
                print(f"  {k:<{width}} {med['base']:9.1f} -> {med['change']:9.1f}")
        print(f"{workload} runs: seed arm correct failed/attempted steal")
        for a in ARMS:
            for r in arms[a]:
                res, steal = r["result"], r["steal"]
                print(
                    f"  {r['seed']:>4} {a:<6} {res['correct']!s:<5} "
                    f"{res['failed']}/{res['attempted']} "
                    f"{'n/a' if steal is None else f'{steal:.3f}'}"
                )


def _worker_env() -> dict:
    """The workers' environment: a driver heap of a quarter of MemTotal
    unless ``SPARK_GRAFT_DRIVER_MEM`` is set (the session's default is
    sized for one process on a large machine, not two), and the cores this
    process may use unless ``SPARK_GRAFT_CPUS`` is set (the session's
    default of 32 oversubscribes a small box)."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if "SPARK_GRAFT_DRIVER_MEM" not in env:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        env["SPARK_GRAFT_DRIVER_MEM"] = f"{max(kib // 4 // 1024, 512)}m"
    return env


def _jvm_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # py4j cannot reach the JVM
        return False


def _compiles(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) so far in this JVM.  Read here, not
    through ``telemetry.codegen_compiles``: the arm's tree may predate it."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    return count, jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e6


def _worker(sf_dir: str) -> None:
    """One arm's query server (cwd = the arm's tree): per stdin line a JSON
    command, per command one ``MARK`` + JSON answer line on stdout.
    ``run`` builds and collects one ``queries()`` entry, timed, and writes
    its rows when asked; ``check`` counts exceptAll rows both ways between
    two written results."""
    sys.path.insert(0, os.getcwd())
    import __spark_entry__ as entry
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    from streamkit_spark.session import get_spark

    spark = get_spark(app_name="ab-queries")
    queries = entry.queries()
    sent = [0]  # py4j commands this process has sent to the JVM
    send = ClientServerConnection.send_command

    def counted_send(self, command):
        sent[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted_send

    def comparable(df):  # set operations cannot take map columns
        return df.select(*[
            F.array_sort(F.map_entries(f.name)).alias(f.name)
            if isinstance(f.dataType, MapType) else F.col(f.name)
            for f in df.schema
        ])

    for line in sys.stdin:
        cmd = json.loads(line)
        try:
            if cmd["op"] == "run":
                c0 = _compiles(spark)
                s0, t0 = sent[0], time.perf_counter()
                df = queries[cmd["name"]](spark, sf_dir)
                s1, t1 = sent[0], time.perf_counter()
                n = len(df.collect())
                t2 = time.perf_counter()
                c1 = _compiles(spark)
                out = {
                    "secs": t2 - t0, "build_ms": (t1 - t0) * 1e3,
                    "collect_ms": (t2 - t1) * 1e3, "py4j": s1 - s0,
                    "rows": n, "schema": df.schema.json(),
                    "compiles": c1[0] - c0[0], "compile_ms": c1[1] - c0[1],
                }
                if cmd.get("write"):
                    df.write.mode("overwrite").parquet(cmd["write"])
            else:
                a, b = (comparable(spark.read.parquet(cmd[k])) for k in ("a", "b"))
                out = {"a_minus_b": a.exceptAll(b).count(), "b_minus_a": b.exceptAll(a).count()}
        except Exception:  # reported per query, the worker keeps serving
            if not _jvm_alive(spark):
                print(traceback.format_exc()[-2000:], file=sys.stderr)
                sys.exit(3)
            out = {"error": traceback.format_exc()[-2000:]}
        print(MARK + json.dumps(out), flush=True)


def _run_queries(trees: dict, names: list, sf_dir: str, reps: int, rows_dir: str) -> dict:
    """Interleaved runs of ``names`` in both arms, then the identity checks."""
    procs = {
        a: subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", "--sf-dir", sf_dir],
            cwd=trees[a], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            env=_worker_env(),
        )
        for a in ARMS
    }

    def ask(arm: str, cmd: dict) -> dict:
        proc = procs[arm]
        with contextlib.suppress(BrokenPipeError):
            proc.stdin.write(json.dumps(cmd) + "\n")
            proc.stdin.flush()
            for line in proc.stdout:
                if line.startswith(MARK):
                    return json.loads(line[len(MARK):])
        raise SystemExit(
            f"the {arm} worker exited with code {proc.wait()} on {cmd['op']} "
            f"{cmd.get('name', '')}"
        )

    runs = {n: {a: [] for a in ARMS} for n in names}
    try:
        for n in names:  # warm-up, untimed; a failure shows again in rep 0
            for arm in ARMS:
                ask(arm, {"op": "run", "name": n})
        for rep in range(reps):
            for n in names:
                for arm in ARMS if rep % 2 == 0 else ARMS[::-1]:
                    cmd = {"op": "run", "name": n}
                    if rep == 0:
                        cmd["write"] = os.path.join(rows_dir, arm, n)
                    runs[n][arm].append(ask(arm, cmd))
                    last = runs[n][arm][-1]
                    print(f"rep {rep} {n} {arm}: {last.get('secs', last.get('error'))}", file=sys.stderr)
        checks = {}
        for n in names:
            first = {a: runs[n][a][0] for a in ARMS}
            if any("error" in r for r in first.values()):
                checks[n] = {"error": "a run failed"}
                continue
            checks[n] = ask("change", {
                "op": "check",
                "a": os.path.join(rows_dir, "base", n),
                "b": os.path.join(rows_dir, "change", n),
            })
            checks[n]["schema_equal"] = first["base"]["schema"] == first["change"]["schema"]
    finally:
        for proc in procs.values():
            with contextlib.suppress(BrokenPipeError):
                proc.stdin.close()
            proc.wait()
    return {"runs": runs, "checks": checks}


def _schema_diff(base: str, change: str) -> list[str]:
    """Each field position where the arms' schema JSONs differ: the
    field's name, type, nullable flag and any metadata in each arm
    (``-`` where the arm has no such field)."""

    def describe(f: dict | None) -> str:
        if f is None:
            return "-"
        t = f["type"] if isinstance(f["type"], str) else json.dumps(f["type"])
        return f"{f['name']} {t} nullable={f['nullable']} {f['metadata'] or ''}".rstrip()

    fields = (json.loads(s)["fields"] for s in (base, change))
    return [
        f"field {i}: {describe(b)} -> {describe(c)}"
        for i, (b, c) in enumerate(itertools.zip_longest(*fields)) if b != c
    ]


def _report_queries(result: dict) -> bool:
    """Prints the per-query table; True when every query is identical."""
    same = True
    print(
        "query: schema, base-change / change-base rows; seconds median (q1-q3) "
        "base -> change; reps the change was faster; median classes compiled "
        "(compile ms) per rep, base -> change; then median build ms, collect "
        "ms and py4j commands per build, base -> change"
    )
    for n, arms in result["runs"].items():
        chk = result["checks"][n]
        if "error" in chk or any("error" in r for a in ARMS for r in arms[a]):
            errs = {r["error"] for a in ARMS for r in arms[a] if "error" in r}
            print(f"  {n}: FAILED {chk.get('error', '')} {sorted(errs)}")
            same = False
            continue
        ok = chk["schema_equal"] and chk["a_minus_b"] == chk["b_minus_a"] == 0
        same &= ok
        secs = {a: [r["secs"] for r in arms[a]] for a in ARMS}
        q = {a: _quartiles(secs[a]) for a in ARMS}
        won = sum(c < b for b, c in zip(secs["base"], secs["change"]))
        cg = {
            a: (statistics.median(r["compiles"] for r in arms[a]),
                statistics.median(r["compile_ms"] for r in arms[a]))
            for a in ARMS
        }
        print(
            f"  {n}: {'identical' if ok else 'DIFFERENT'} "
            f"(schema {'equal' if chk['schema_equal'] else 'differs'}, "
            f"{chk['a_minus_b']} / {chk['b_minus_a']}, {arms['base'][0]['rows']} rows); "
            f"{q['base'][1]:.3f} ({q['base'][0]:.3f}-{q['base'][2]:.3f}) -> "
            f"{q['change'][1]:.3f} ({q['change'][0]:.3f}-{q['change'][2]:.3f}); "
            f"change faster in {won}/{len(secs['base'])} reps; compiled "
            f"{cg['base'][0]:g} ({cg['base'][1]:.0f} ms) -> "
            f"{cg['change'][0]:g} ({cg['change'][1]:.0f} ms)"
        )
        med = {
            k: {a: statistics.median(r[k] for r in arms[a]) for a in ARMS}
            for k in ("build_ms", "collect_ms", "py4j")
        }
        if not chk["schema_equal"]:
            for line in _schema_diff(arms["base"][0]["schema"], arms["change"][0]["schema"]):
                print(f"    schema {line}")
        print(
            f"    build {med['build_ms']['base']:.1f} -> {med['build_ms']['change']:.1f} ms; "
            f"collect {med['collect_ms']['base']:.1f} -> {med['collect_ms']['change']:.1f} ms; "
            f"py4j {med['py4j']['base']:g} -> {med['py4j']['change']:g} commands"
        )
    return same


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", help="git revision or directory of the base arm")
    ap.add_argument("--change", help="git revision or directory of the change arm")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", type=int, nargs="+")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--queries", nargs="+", help="declared query names")
    ap.add_argument("--sf-dir", help="fixture directory the queries read")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--rows", help="write the queries' rows here (default: a temporary directory)")
    ap.add_argument("--out", help="write every run as JSON here")
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        _worker(args.sf_dir)
        return
    if not (args.base and args.change):
        ap.error("--base and --change are required")
    if bool(args.queries) == bool(args.workload):
        ap.error("give either --workload (with --seeds) or --queries (with --sf-dir)")
    if args.workload and not args.seeds or args.queries and not args.sf_dir:
        ap.error("--workload needs --seeds; --queries needs --sf-dir")

    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {
            arm: _tree(rev, os.path.join(tmp, arm))
            for arm, rev in zip(ARMS, (args.base, args.change))
        }
        if args.queries:
            rows_dir = os.path.abspath(args.rows or os.path.join(tmp, "rows"))
            result = _run_queries(
                trees, args.queries, os.path.abspath(args.sf_dir), args.reps, rows_dir
            )
            if args.out:
                with open(args.out, "w") as f:
                    json.dump(result, f, indent=1)
            sys.exit(0 if _report_queries(result) else 1)
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
        runs = {w: {a: [] for a in ARMS} for w in args.workload}
        for i, seed in enumerate(args.seeds):
            for workload in args.workload:
                for arm in ARMS if i % 2 == 0 else ARMS[::-1]:
                    result, detail = _run(trees[arm], workload, seed, args.seconds)
                    runs[workload][arm].append({
                        "seed": seed,
                        "result": result,
                        "steal": detail["stamp"].get("cpu_steal_share"),
                        "calm_ms": detail.get("calm_ms", {}),
                        "detail": detail,
                    })
                    values = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
                    print(f"{workload} seed {seed} {arm}: {values}", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1, default=str)
    _report(runs, better)


if __name__ == "__main__":
    main()
