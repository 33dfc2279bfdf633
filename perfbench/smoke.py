"""Smoke run of the benchmark: every workload at sf0.001 for four
seconds (enough for the rpc mix to reach its first large scan), untraced
and traced. It checks that the result line names every metric
of BENCHMARK.json with its unit and that a clean run is correct, then
corrupts every expected result and checks that the run reports failures.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    env = dict(os.environ, PERFBENCH_CORRUPT="1" if corrupt else "0")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "4", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace}: exit code {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w['name']} trace={trace}: metrics differ from BENCHMARK.json")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w['name']} trace={trace}: {res['failed']} failed of {res['attempted']}")
            print(f"{w['name']} trace={trace}: attempted={res['attempted']} failed={res['failed']}", flush=True)
        res = run(w["name"], 0, corrupt=True)
        frac = res["failed"] / res["attempted"]
        print(f"{w['name']} corrupted expectations: failed_frac={frac:.3f}", flush=True)
        if res["correct"] or frac <= 0:
            problems.append(f"{w['name']}: corrupted expectations went unnoticed")
    for p in problems:
        print("FAIL", p)
    print("smoke ok" if not problems else f"smoke: {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
