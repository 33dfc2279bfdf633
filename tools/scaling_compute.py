"""Core-count scaling probe for COMPUTE-DENSE contract entries.

The bench basket is scan/overhead-bound at the tested SFs (SCALING_r11:
8-vs-32-core ratios ~1 even at sf1 because single-file scans and
sub-second jobs hide core count). This times the entries whose cost is
executor compute — warm once, then noop-time — at the current
$SPARK_GRAFT_CPUS, so two runs give an honest core-ratio table.

Usage: SPARK_GRAFT_CPUS=32 python tools/scaling_compute.py out32.json [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from bq_duckdb_spark import get_spark

ENTRIES = [
    "text_bpe",
    "text_bpe_apply",
    "graph_triangles",
    "q_percentiles",
    "dedup_jaccard_exact",
    "q_profile",
    "dedup_minhash",
    "dedup_simhash_blocked",
    "text_containment",
    "corpus_dsir",
    "q_entity_resolution",
]


def main() -> None:
    out_path = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, ".sf1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name=f"scaling-compute-{cpus}", cpus=cpus)
    qs = entrymod.queries()
    times: dict[str, float] = {}
    for name in ENTRIES:
        fn = qs[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 3)
        print(f"{name}: {times[name]}", flush=True)
    with open(out_path, "w") as f:
        json.dump({"cpus": cpus, "sf_dir": sf_dir, "sec": times}, f, indent=1)


if __name__ == "__main__":
    main()
