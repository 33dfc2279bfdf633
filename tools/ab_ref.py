"""Generic fresh-subprocess A/B for a queries() entry across two git
refs (SIMHASH_r9.md / PERCENTILE_r10.md protocol, made reusable).

Arms are ``git archive`` exports of a ref (made on demand under the
temp directory as abref_<sha>); the "work" arm is the checkout this
tool runs from, so uncommitted changes can be measured before
committing. Each sample is a FRESH subprocess that imports
__spark_entry__ from its arm's checkout, warms the query once, then
times one noop write — alternating arm order so session-level
JIT/GC/page-cache state cannot bias an arm. Trimmed mean (drop
min+max) + 95% CI half-width per arm.

Usage:
  python tools/ab_ref.py <query> <refA> <refB> [n_per_arm]
  python tools/ab_ref.py q_percentiles HEAD~1 work 5
  python tools/ab_ref.py --child <repo_dir> <query>      (internal)
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _child(repo_dir: str, query: str) -> None:
    sys.path.insert(0, repo_dir)
    import __spark_entry__ as entrymod
    from bq_duckdb_spark import get_spark

    spark = get_spark(app_name=f"abref-{query}", cpus=CPUS)
    fn = entrymod.queries()[query]
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
    t0 = time.time()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    print(f"ABREF_SEC {time.time() - t0:.4f}")


def _checkout_for(ref: str) -> str:
    if ref == "work":
        return REPO
    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", ref],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    path = os.path.join(tempfile.gettempdir(), f"abref_{sha}")
    if not os.path.isdir(path):
        os.makedirs(path)
        archive = subprocess.run(
            ["git", "-C", REPO, "archive", sha], capture_output=True, check=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", path], input=archive, check=True)
    return path


def _run_sample(repo_dir: str, query: str) -> float:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", repo_dir, query],
        capture_output=True, text=True,
    )
    for line in out.stdout.splitlines():
        if line.startswith("ABREF_SEC"):
            return float(line.split()[1])
    raise RuntimeError(
        f"child failed for {repo_dir}:{query}\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )


def _trimmed(s: list[float]) -> float:
    if len(s) < 3:
        return statistics.mean(s)
    return statistics.mean(sorted(s)[1:-1])


def _ci95(s: list[float]) -> float:
    if len(s) < 2:
        return 0.0
    t = {2: 12.706, 3: 4.303, 4: 3.182, 5: 2.776, 6: 2.571, 7: 2.447}.get(
        len(s), 2.776
    )
    return t * statistics.stdev(s) / math.sqrt(len(s))


def main() -> None:
    if sys.argv[1] == "--child":
        _child(sys.argv[2], sys.argv[3])
        return
    query, ref_a, ref_b = sys.argv[1:4]
    n = int(sys.argv[4]) if len(sys.argv) > 4 else 5
    dirs = {ref_a: _checkout_for(ref_a), ref_b: _checkout_for(ref_b)}
    samples: dict[str, list[float]] = {ref_a: [], ref_b: []}
    order = [ref_a, ref_b]
    for i in range(n):
        for ref in order if i % 2 == 0 else order[::-1]:
            sec = _run_sample(dirs[ref], query)
            samples[ref].append(sec)
            print(f"  sample {ref}: {sec:.3f}", flush=True)
    print(f"\n{query} @ {SF_DIR} local[{CPUS}], n={n}/arm, fresh subprocesses")
    for ref in (ref_a, ref_b):
        s = sorted(samples[ref])
        print(
            f"  {ref:12s} trimmed {_trimmed(s):.3f} ±{_ci95(s):.3f}  "
            f"samples {' '.join(f'{x:.2f}' for x in s)}"
        )


if __name__ == "__main__":
    main()
