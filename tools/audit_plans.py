"""Sweep every driver-contract entry and audit its physical plan for
scale anti-patterns. Run:

    python tools/audit_plans.py [sf_dir] [name_prefix]

Flags, per entry:
- SinglePartition exchanges (a global funnel — the one shape that
  cannot scale; documented exceptions are listed in _ALLOWED_GLOBAL)
- CartesianProduct (never acceptable outside the intentional BNLJ
  theta-join entries)
- exchange / broadcast / sort-merge counts and codegen span count

Exit code 1 if any UNEXPECTED anti-pattern is found, so this can run
as a gate. This sweeps the LOGICAL contract surface only (plans are
built, never executed — it finishes in seconds per entry).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# global-funnel exceptions: entries whose spec genuinely requires a
# total order or global quantile, each documented + twinned with a
# distributed variant in the contract (see COVERAGE.md)
_ALLOWED_GLOBAL = {
    "q03_shipping_priority",   # top-10 TakeOrderedAndProject output
    "q_ntile",                 # BQ-semantics global NTILE; q_ntile_scalable is the scale twin
    "q_percentiles",           # exact PERCENTILE_CONT; twins: q_percentiles_scalable (exact, parallel), _approx (sketch)
    "q_running_total",         # global running sum per contract; windowed twin exists
    "q_sample_split",          # global deterministic split boundary
    "q_seeded_shuffle",        # global shuffle order by definition
    # BOUNDED funnels — single partition receives O(#partitions) rows,
    # never the data (inspected plans, see COVERAGE.md):
    "q_cte_chain",             # WindowGroupLimit Partial prunes to top-100 per partition first
    "q_ntile_scalable",        # funnels the per-partition COUNT table (1 row/partition)
    "q_percentiles_scalable",  # repartition(1) display sort of the 3-ROW final result
                               # (one row per group); the data-sized work upstream is
                               # fully range-partitioned — see operators/percentile.py
    "pipe_seeded_shuffle",     # same per-partition count-table offsets
    "pipe_token_budget",       # same: offsets window over per-partition TOTALS (1 row/partition)
    "pipe_assign_ids",         # same: offsets window over per-partition COUNTS (1 row/partition)
    "pipe_shard_assign",       # same: offsets window over per-partition TOTALS (1 row/partition)
}

# intentional nested-loop / cartesian entries (BNLJ theta joins)
_ALLOWED_CARTESIAN = {"q_theta_join", "q_cross_join"}

# CLOSED list of source files allowed to build an unpartitioned
# DataFrame window (Window.orderBy without partitionBy), with the
# bounded-input reason and the exact occurrence count. Every listed
# window runs over a BOUNDED frame (per-partition count tables, a
# fixed quantile grid, or a top-N truncation) — never the data. A new
# `Window.orderBy` anywhere else (or an extra one here) fails the
# audit until it is either partitioned or justified on this list;
# stale entries (file refactored, count dropped) fail just as loudly.
_ALLOWED_UNPARTITIONED_WINDOWS = {
    # range_prefix's offsets window over per-slice COUNT/TOTAL tables:
    # the window input is 1 row per (partition, group), not the data
    "bq_duckdb_spark/operators/prefix.py": 1,
    # cumulative window over the fixed GRID-bucket aggregate (<= GRID
    # rows) feeding the Mann-Whitney U statistic
    "bq_duckdb_spark/ext/mleval.py": 1,
    # rank window over the top_n survivors of TakeOrderedAndProject
    "bq_duckdb_spark/ext/retrieval.py": 1,
    # q_ntile: documented BQ-global-semantics parity entry; twin
    # q_ntile_scalable is the distributed form (operators/prefix.py)
    "__spark_entry__.py": 1,
}


# CLOSED list of source files allowed to call plain F.explode /
# F.posexplode (no _outer), with the occurrence count. Plain explode is
# only safe on a bare ATTRIBUTE column: on a COMPUTED array,
# InferFiltersFromGenerate pushes a size()>0 filter below the
# projections and re-evaluates the generating expression there — for
# span_dedup that inlined slice(split(text)) PER SPAN, O(tokens x
# spans) per document, which one adversarial 160k-token doc turned
# into a 7-minute stall (round 5). Everything else uses the _outer
# forms per the repo convention.
_ALLOWED_PLAIN_EXPLODE = {
    "bq_duckdb_spark/ext/cluster.py": 1,     # posexplode(attribute vec col)
    "bq_duckdb_spark/ext/similarity.py": 2,  # posexplode(attribute vec col) x2
    "bq_duckdb_spark/ext/retrieval.py": 1,   # explode(attribute buckets col)
}


def audit_plain_explodes(repo_root: str) -> list[str]:
    """Source-level sweep: every plain ``F.explode(`` / ``F.posexplode(``
    must appear exactly where the closed list above says (bare-attribute
    arguments only); new call sites must use the _outer forms or justify
    themselves on the list."""
    import os
    import re as re_mod

    pat = re_mod.compile(r"F\.(?:pos)?explode\(")
    found: dict[str, int] = {}
    roots = ["bq_duckdb_spark", "examples", "__spark_entry__.py", "bench.py"]
    for root in roots:
        p = os.path.join(repo_root, root)
        files = (
            [p]
            if p.endswith(".py")
            else [
                os.path.join(d, f)
                for d, _, fs in os.walk(p)
                for f in fs
                if f.endswith(".py")
            ]
        )
        for f in files:
            with open(f, encoding="utf-8") as fh:
                n = len(pat.findall(fh.read()))
            if n:
                found[os.path.relpath(f, repo_root)] = n
    problems = []
    for f, n in sorted(found.items()):
        want = _ALLOWED_PLAIN_EXPLODE.get(f, 0)
        if n > want:
            problems.append(
                f"PLAIN_EXPLODE {f}: {n} F.(pos)explode( (allowed {want})"
                " — use the _outer form (computed arrays) or justify a"
                " bare-attribute site on the closed list"
            )
    for f, want in _ALLOWED_PLAIN_EXPLODE.items():
        if found.get(f, 0) < want:
            problems.append(
                f"STALE_ALLOWLIST {f}: expected {want} plain explodes, "
                f"found {found.get(f, 0)} — update the closed list"
            )
    return problems


def audit_unpartitioned_windows(repo_root: str) -> list[str]:
    """Source-level sweep: every ``Window.orderBy`` (the unpartitioned
    spec constructor) must appear exactly where the closed list above
    says, with the listed multiplicity."""
    import os

    found: dict[str, int] = {}
    roots = ["bq_duckdb_spark", "examples", "__spark_entry__.py", "bench.py"]
    for root in roots:
        p = os.path.join(repo_root, root)
        files = (
            [p]
            if p.endswith(".py")
            else [
                os.path.join(d, f)
                for d, _, fs in os.walk(p)
                for f in fs
                if f.endswith(".py")
            ]
        )
        for f in files:
            with open(f, encoding="utf-8") as fh:
                n = fh.read().count("Window.orderBy")
            if n:
                found[os.path.relpath(f, repo_root)] = n
    problems = []
    for f, n in sorted(found.items()):
        want = _ALLOWED_UNPARTITIONED_WINDOWS.get(f, 0)
        if n > want:
            problems.append(
                f"UNPARTITIONED_WINDOW {f}: {n} Window.orderBy "
                f"(allowed {want}) — partition it or justify it on the "
                "closed list"
            )
    for f, want in _ALLOWED_UNPARTITIONED_WINDOWS.items():
        if found.get(f, 0) < want:
            problems.append(
                f"STALE_ALLOWLIST {f}: expected {want} Window.orderBy, "
                f"found {found.get(f, 0)} — update the closed list"
            )
    return problems


def main() -> int:
    import __spark_entry__ as entry
    from bq_duckdb_spark import get_spark
    from bq_duckdb_spark.plans import audit_plan

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark(app_name="plan-audit", cpus=8)
    bad = 0
    for p in audit_unpartitioned_windows(ROOT):
        print(f"FLAG {p}")
        bad += 1
    for p in audit_plain_explodes(ROOT):
        print(f"FLAG {p}")
        bad += 1
    for name, fn in sorted(entry.queries().items()):
        if not name.startswith(prefix):
            continue
        try:
            a = audit_plan(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - report and continue
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            bad += 1
            continue
        single = len(re.findall(r"SinglePartition", a.formatted))
        cartesian = len(re.findall(r"CartesianProduct", a.formatted))
        # a global SCALAR aggregate legitimately funnels through a
        # SinglePartition exchange — but it carries one pre-aggregated
        # row per upstream partition, not the data (partial aggregation
        # runs map-side). Each such aggregate prints "Keys: []" twice
        # (partial + final); only funnels beyond that allowance are
        # data-sized and flagged.
        scalar_aggs = len(re.findall(r"Keys: \[\]", a.formatted)) // 2
        flags = []
        if single > scalar_aggs and name not in _ALLOWED_GLOBAL:
            flags.append(f"SINGLE_PARTITION x{single - scalar_aggs}")
        if cartesian and name not in _ALLOWED_CARTESIAN:
            flags.append(f"CARTESIAN x{cartesian}")
        status = "FLAG" if flags else "ok"
        bad += bool(flags)
        print(
            f"{status:4} {name:28} exch={a.exchanges:2} bcast={a.broadcast_joins}"
            f" smj={a.sortmerge_joins} bnlj={a.nested_loop_joins}"
            f" codegen={a.codegen_spans:2}"
            + ("  " + ", ".join(flags) if flags else "")
        )
    print(f"\n{bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
