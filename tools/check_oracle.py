"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet dir, compare row count, sorted column names, and an
order-insensitive value hash (values normalized: floats rounded to 6dp,
everything else stringified).

Entries excluded from oracle_sql() (the engine-specific sketches listed
in __spark_entry__.ORACLE_EXCLUSIONS) are evaluated against their
``oracle_bounds()`` spec instead: DuckDB computes the EXACT values and
each sketch column must sit within its declared relative tolerance —
reported as ``pass (bounded)``, so a full sweep shows 0 rows-only.

Usage: python tools/check_oracle.py [sf_dir] [only_query_prefix]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(normalize(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def compare_bounded(scols, srows, ocols, orows, spec):
    """Bounded-error comparison: rows aligned on spec['key_cols'] (or a
    whole-row sort of the exact columns when empty). Two bound kinds:

    - spec['rel_tol'][col] = t: the Spark value must sit within relative
      tolerance t of the exact oracle value (same column name on both
      sides); every unlisted shared column must match exactly.
    - spec['brackets'][col] = (lo_col, hi_col): the Spark value must lie
      inside the exact [lo, hi] interval the oracle computed (rank-bound
      sketches: quantile brackets, not value tolerances).

    Returns a list of problem strings (empty = pass)."""
    rel = spec.get("rel_tol", {})
    brackets = spec.get("brackets", {})
    keys = spec.get("key_cols", [])
    problems = []
    if len(srows) != len(orows):
        return [f"rowcount spark={len(srows)} exact={len(orows)}"]
    bracket_cols = {c for pair in brackets.values() for c in pair}
    if not brackets and sorted(scols) != sorted(ocols):
        return [f"cols spark={sorted(scols)} exact={sorted(ocols)}"]
    if brackets:
        missing = [c for c in list(keys) + sorted(bracket_cols) if c not in ocols]
        if missing:
            return [f"oracle missing bracket cols {missing}"]
    sidx = {c: i for i, c in enumerate(scols)}
    oidx = {c: i for i, c in enumerate(ocols)}
    sort_cols = keys or [c for c in sorted(scols) if c not in rel]

    def keyed(rows, idx):
        return sorted(rows, key=lambda r: tuple(normalize(r[idx[k]]) for k in sort_cols))

    for srow, orow in zip(keyed(srows, sidx), keyed(orows, oidx)):
        for c in scols:
            sv = srow[sidx[c]]
            if c in brackets:
                lo = orow[oidx[brackets[c][0]]]
                hi = orow[oidx[brackets[c][1]]]
                if sv is None or lo is None or hi is None:
                    if not (sv is None and lo is None and hi is None):
                        problems.append(
                            f"{c}: NULL mismatch {sv!r} vs [{lo!r}, {hi!r}]"
                        )
                elif not (float(lo) <= float(sv) <= float(hi)):
                    problems.append(
                        f"{c}: {sv} outside exact bracket [{lo}, {hi}]"
                    )
                continue
            if c not in oidx:
                continue  # spark-only col under a brackets spec
            ov = orow[oidx[c]]
            if c in rel:
                if sv is None or ov is None:
                    if sv is not ov:
                        problems.append(f"{c}: NULL mismatch {sv!r} vs {ov!r}")
                    continue
                denom = abs(float(ov)) or 1.0
                err = abs(float(sv) - float(ov)) / denom
                if err > rel[c]:
                    problems.append(
                        f"{c}: {sv} vs exact {ov} "
                        f"(err {err:.4f} > tol {rel[c]})"
                    )
            elif normalize(sv) != normalize(ov):
                problems.append(
                    f"{c}: {normalize(sv)} != exact {normalize(ov)}"
                )
    return problems


def _oracle_child(sql: str, sf_dir: str, mem: str, threads: str, q) -> None:
    """Child-process oracle runner (CHECK_ORACLE_ISOLATE=1): a hostile
    oracle that ignores duckdb's interrupt can wedge — observed on the
    adversarial sweep: one worker thread kept a core and the connection
    lock for 30+ minutes after con.interrupt(), deadlocking every later
    entry on the shared connection. A child process can be kill()ed for
    real, and its memory dies with it."""
    try:
        con = duckdb.connect()
        if mem:
            con.execute(f"SET memory_limit='{mem}'")
        if threads:
            con.execute(f"SET threads TO {int(threads)}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        res = con.execute(sql)
        q.put(([d[0] for d in res.description], res.fetchall()))
    except Exception as e:  # noqa: BLE001 - re-raised in the parent
        q.put(("__oracle_error__", str(e)))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""

    import __spark_entry__ as entrymod
    from bq_duckdb_spark import get_spark

    spark = get_spark(cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    con = duckdb.connect()
    # Optional resource fences for adversarial-scale sweeps: a hostile
    # oracle (e.g. the SQL minhash re-computation meeting a 62k-doc
    # corpus with 1 MB documents) can otherwise grow past half the box
    # before its time budget fires. A memory_limit makes it fail fast
    # and loud instead of destabilizing the concurrently-running Spark
    # side; both are off by default so the driver-gate path is unchanged.
    duck_mem = os.environ.get("CHECK_ORACLE_DUCKDB_MEM", "")
    if duck_mem:
        con.execute(f"SET memory_limit='{duck_mem}'")
    duck_threads = os.environ.get("CHECK_ORACLE_DUCKDB_THREADS", "")
    if duck_threads:
        con.execute(f"SET threads TO {int(duck_threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # bounded-error oracles for the sketch entries (round 9): exact SQL
    # + per-column relative tolerances instead of a value hash
    bounds = getattr(entrymod, "oracle_bounds", dict)()
    # Optional per-entry wall budget for unattended sweeps on large /
    # adversarial inputs (CHECK_ORACLE_TIMEOUT_S, off by default so the
    # driver-gate behavior is unchanged). On expiry the running side is
    # interrupted (duckdb con.interrupt() / Spark cancelAllJobs) and the
    # entry records as an explicit TIMEOUT line — a wedged oracle (e.g.
    # an O(n^2)-by-design bit-parity fold meeting a 150k-event hot key)
    # can no longer stall the whole sweep.
    budget = float(os.environ.get("CHECK_ORACLE_TIMEOUT_S", "0") or 0)

    def run_with_budget(label, name, work, interrupt):
        if not budget:
            return work(), None
        import threading

        box: dict = {}

        def _target():
            try:
                box["out"] = work()
            except Exception as e:  # noqa: BLE001 - reported by caller
                box["err"] = e

        th = threading.Thread(target=_target, daemon=True)
        th.start()
        th.join(budget)
        if th.is_alive():
            interrupt()
            th.join(30)
            return None, f"{label} side exceeded {budget:.0f}s budget"
        if "err" in box:
            raise box["err"]
        return box["out"], None

    # resume support for long sweeps: skip entries already recorded
    # (comma-separated names in CHECK_ORACLE_SKIP)
    skip = {
        s for s in os.environ.get("CHECK_ORACLE_SKIP", "").split(",") if s
    }

    isolate = os.environ.get("CHECK_ORACLE_ISOLATE", "") not in ("", "0")

    def run_oracle_isolated(sql: str):
        """(cols, rows), why — oracle in a kill()-able child process."""
        import multiprocessing as mp
        import queue as queue_mod

        ctx = mp.get_context("fork")
        qch = ctx.Queue()
        proc = ctx.Process(
            target=_oracle_child,
            args=(sql, sf_dir, duck_mem, duck_threads, qch),
            daemon=True,
        )
        proc.start()
        try:
            # Isolation exists to guarantee a wedged oracle can be killed;
            # without a budget, qch.get(timeout=None) would block forever
            # on exactly that wedge. Fall back to a large default so the
            # kill guarantee holds even when no explicit budget was set.
            out = qch.get(timeout=budget or 1800.0)
        except queue_mod.Empty:
            proc.kill()
            proc.join(10)
            return None, f"duckdb side exceeded {budget or 1800:.0f}s budget"
        proc.join(10)
        if isinstance(out, tuple) and out and out[0] == "__oracle_error__":
            raise RuntimeError(out[1])
        return out, None
    n_pass = n_fail = n_weak = n_timeout = 0
    for name, fn in qs.items():
        if prefix and not name.startswith(prefix):
            continue
        if name in skip:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = list(sdf.columns)
            srows, why = run_with_budget(
                "spark", name,
                lambda: [tuple(r) for r in sdf.collect()],
                lambda: spark.sparkContext.cancelAllJobs(),
            )
            if why:
                print(f"TIMEOUT  {name}: {why}")
                n_timeout += 1
                continue
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        bspec = None
        if name not in oracles:
            bspec = bounds.get(name)
            if bspec is None:
                print(f"weak  {name}: rows={len(srows)} (no oracle)")
                n_weak += 1
                continue
        oracle_text = oracles[name] if name in oracles else bspec["exact_sql"]
        try:
            if isolate:
                out, why = run_oracle_isolated(oracle_text)
            else:
                def _duck():
                    res = con.execute(oracle_text)
                    return [d[0] for d in res.description], res.fetchall()

                out, why = run_with_budget("duckdb", name, _duck, con.interrupt)
            if why:
                # The Spark side already completed — keep its result as
                # a rows-only record rather than discarding both sides:
                # at adversarial scale "Spark finished, the single-node
                # oracle could not" is itself the finding.
                print(
                    f"weak  {name}: rows={len(srows)} "
                    f"(oracle timeout: {why}; spark side completed)"
                )
                n_weak += 1
                n_timeout += 1
                continue
            ocols, orows = out
        except Exception as e:
            msg = str(e)
            oom = "memory limit" in msg.lower() or "out of memory" in msg.lower()
            if oom and duck_mem:
                # oracle hit the deliberately-configured
                # CHECK_ORACLE_DUCKDB_MEM fence — a single-node-oracle
                # capacity limit, not a Spark defect. Without the fence
                # set, an OOM on standard test data stays a FAIL.
                print(
                    f"weak  {name}: rows={len(srows)} "
                    f"(oracle out of memory; spark side completed)"
                )
                n_weak += 1
                continue
            print(f"FAIL  {name}: duckdb error: {msg[:300]}")
            n_fail += 1
            continue
        if bspec is not None:
            problems = compare_bounded(scols, srows, ocols, orows, bspec)
            dt = time.time() - t0
            if problems:
                print(f"FAIL  {name} ({dt:.1f}s): " + "; ".join(problems[:3]))
                n_fail += 1
            else:
                print(f"pass  {name} ({dt:.1f}s, {len(srows)} rows, bounded)")
                n_pass += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append("value-hash mismatch")
                # print first differing normalized line for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sl = sorted("|".join(normalize(r[i]) for i in so) for r in srows)
                ol = sorted("|".join(normalize(r[i]) for i in oo) for r in orows)
                for a, b in zip(sl, ol):
                    if a != b:
                        problems.append(f"  spark : {a[:200]}")
                        problems.append(f"  duckdb: {b[:200]}")
                        break
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {name} ({dt:.1f}s): " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(f"      {p}")
            n_fail += 1
        else:
            print(f"pass  {name} ({dt:.1f}s, {len(srows)} rows)")
            n_pass += 1
    summary = f"\n{n_pass} pass, {n_fail} fail, {n_weak} rows-only"
    if n_timeout:
        summary += f", {n_timeout} timeout"
    print(summary)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
