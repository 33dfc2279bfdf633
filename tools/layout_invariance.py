"""File-layout invariance sweep: a table served as ONE parquet file and
the same rows served as MANY files (in a different row order) must give
every contract entry the same result.  On a real cluster a 100 TB table
is thousands of files whose listing order is storage-dependent, so any
operator whose output depends on file count or row arrival order is
broken at scale even though it passes every single-file test.

The tool writes a multi-file copy of the sf dir once (each table
round-robined into 7 files AFTER a deterministic full shuffle of row
order), runs every entry against both layouts, and diffs the value
hashes.  Entries whose CONTRACT is layout-dependent by design are
excluded with the reason documented.

Usage: python tools/layout_invariance.py [sf_dir] [prefix]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import hashlib

import __spark_entry__ as entrymod
from bq_duckdb_spark import get_spark
from bq_duckdb_spark.testdata import load_table
from tools.check_oracle import TABLES, value_hash

# layout-dependent by DESIGN (documented, not bugs):
#   - q_percentiles_approx: the bounded-memory quantile sketch's merge
#     tree follows the physical partitioning, and its guarantee is a
#     bounded ERROR, not a deterministic value — results legitimately
#     vary with layout on any cluster (the exact twin q_percentiles is
#     swept and must not vary).  Same reason it is rows-only in the
#     oracle contract.
EXCLUDE: dict[str, str] = {
    "q_percentiles_approx": "approx sketch: error-bounded, merge-order-dependent",
}


def _src_fingerprint(src: str) -> str:
    """(size, mtime) of every table file — a stale /tmp copy from a
    previous testdata round must not be compared against fresh data."""
    h = hashlib.sha256()
    for t in TABLES:
        st = os.stat(f"{src}/{t}.parquet")
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def relayout(spark, src: str, dst: str, n_files: int = 7) -> None:
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        out = f"{dst}/{t}.parquet"
        if os.path.exists(out):
            continue
        # load_table, not a bare read: events.ts has shipped as
        # TIMESTAMP(NANOS) in some driver rounds, and load_table is the
        # one place that normalizes it (both layouts then read back
        # through the same normalization, so types agree)
        df = load_table(spark, src, t)
        # repartition alone is the deterministic scramble: round-robin
        # from a single-file single-partition source is reproducible
        # (sortBeforeRepartition) and destroys the generator's row order
        df.repartition(n_files).write.mode("overwrite").parquet(out)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""
    dst = (
        f"/tmp/layoutinv_{os.path.basename(src.rstrip('/'))}"
        f"_{_src_fingerprint(src)}"
    )
    spark = get_spark(app_name="layout-invariance", cpus=8)
    relayout(spark, src, dst)

    qs = {
        k: v
        for k, v in entrymod.queries().items()
        if k.startswith(prefix) and k not in EXCLUDE
    }
    failures = []
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            a = fn(spark, src)
            ha = value_hash(a.columns, [tuple(r) for r in a.collect()])
            b = fn(spark, dst)
            hb = value_hash(b.columns, [tuple(r) for r in b.collect()])
            ok = ha == hb
        except Exception as e:  # noqa: BLE001
            ok = False
            ha, hb = "err", f"{type(e).__name__}: {e}"
        if not ok:
            failures.append(name)
        print(
            f"{'ok  ' if ok else 'FAIL'} {name:<28} ({time.time() - t0:4.1f}s)"
            + ("" if ok else f" single={ha} multi={hb}")
        )

    print()
    if failures:
        print(f"{len(failures)} LAYOUT-DEPENDENT: {', '.join(failures)}")
        sys.exit(1)
    print(f"all {len(qs)} entries layout-invariant (1 file vs 7-file scramble)")


if __name__ == "__main__":
    main()
