"""Smoke self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json in ``--smoke`` mode (one short
pass, a few ops, on the sf0.001 fixture) untraced and traced, and asserts
that the last stdout line has exactly the keys ``correct``, ``attempted``,
``failed`` and ``metrics``, that every end-to-end (untraced) or per-layer
(traced) metric is there with its unit, and that every output check
passed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in bench["workloads"]:
        for trace in (0, 1):
            proc = run(w["name"], trace)
            assert proc.returncode == 0, f"{w['name']} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], f"{w['name']} trace={trace}: metrics differ: {set(got) ^ set(want[trace])}"
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            print(f"ok {w['name']} trace={trace}: {res['attempted']} checks", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
