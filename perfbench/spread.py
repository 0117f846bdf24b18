"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload segment_log --seeds 1-10 --seconds 20

For every metric of the result line it prints the ten values, their
median and the interquartile distance as a share of the median
(``statistics.quantiles(values, n=4)``), and each run's wall time.
Runs go one after another, never in parallel.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="20")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds_of(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        detail = json.loads(proc.stdout.strip().splitlines()[-2])
        print(
            f"seed {seed}: wall {walls[-1]:.1f}s correct={res['correct']} "
            f"failed={res['failed']}/{res['attempted']} "
            f"load={detail['stamp']['env_start']['loadavg']} "
            f"steal={detail['stamp']['cpu_steal_share'] or 0:.3f} "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True,
        )
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        share = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k}: median {med:.6g} iqr/median {share:.4f}")
    print(f"wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s total {sum(walls):.0f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
