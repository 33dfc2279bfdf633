"""Capture .explain("formatted") for the bench-basket queries (plus the
scalable twins) into plans/<tag>/<query>_<suffix>.txt — the committed
before/after evidence for optimization rounds.

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
  e.g. python tools/capture_plans.py r10 before
       python tools/capture_plans.py r10 after q_percentiles dedup_minhash
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from bench import BENCH_QUERIES, TWIN_QUERIES
from bq_duckdb_spark import get_spark


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r10"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="capture-plans")
    qs = entrymod.queries()
    names = only or [n for n in BENCH_QUERIES + TWIN_QUERIES if n in qs]
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
