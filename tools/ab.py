"""Interleaved A/B of two commits on perfbench, the repository's benchmark.

    python tools/ab.py --base HEAD~1 --change HEAD \
        --workload segment_log --seeds 1 2 3 4 5 6 7 8 9 10 --seconds 20

Each arm is a git worktree of its commit in a temporary directory, and
``perfbench/run.py`` runs unchanged in each (``--trace 0``), one process
per run.  The arms alternate and their order flips every seed, so load
that drifts during the session hits both alike.  Printed per workload and
end-to-end metric: each arm's median and q1-q3, in how many pairs the
change was better, and how the median gap compares with the base's q1-q3
spread; then the calm median of each op kind, and per run its correctness
and the machine's CPU steal share.  ``--out`` writes every run's result
line and detail record as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARMS = ("base", "change")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, check=True
    ).stdout.strip()


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


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base arm")
    ap.add_argument("--change", required=True, help="git revision of the change arm")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", help="write every run as JSON here")
    args = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    runs = {w: {a: [] for a in ARMS} for w in args.workload}
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {}
        try:
            for arm, rev in zip(ARMS, (args.base, args.change)):
                trees[arm] = os.path.join(tmp, arm)
                _git("worktree", "add", "--detach", trees[arm], rev)
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
        finally:
            for tree in trees.values():
                subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force", tree])
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1, default=str)
    _report(runs, better)


if __name__ == "__main__":
    main()
