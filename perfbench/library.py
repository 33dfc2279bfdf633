"""``library_basket``: the engine as an in-process library.

One caller, closed loop, in a fresh process. Each pass runs the
``bench.BENCH_QUERIES`` and ``bench.TWIN_QUERIES`` entries of the
``queries()`` contract plus three heavy ``ext/`` entries, always in the
same order, so the cold costs land on the same entries in every run; the
seed varies the data. Each entry is built and its result collected. Whole passes run
until ``--seconds`` have passed, so a run is at least one pass, and the
first pass pays the process's one-off costs (JIT, codegen, Python
workers) as a library caller does. The first pass's results are checked
against DuckDB running ``oracle_sql()`` after the timed window.
"""

from __future__ import annotations

import json
import os
import sys

import common as cm
import spans as tr
import sqlcheck

EXTRA_ENTRIES = ["q_entity_resolution", "corpus_dsir", "dedup_lsh_eval"]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
SETUP_REPEATS = 3


def entry_lists():
    """(sql_entries, ext_entries), taken from bench.py so the basket and
    the benchmark cannot drift. ``BENCH_QUERIES`` lists the SQL and
    ``operators/`` entries first and the ``ext/`` entries from
    ``dedup_exact`` on."""
    from bench import BENCH_QUERIES, TWIN_QUERIES

    cut = BENCH_QUERIES.index("dedup_exact")
    return BENCH_QUERIES[:cut] + TWIN_QUERIES, BENCH_QUERIES[cut:] + EXTRA_ENTRIES


def sorted_cols(cols: list[str], rows) -> tuple[list[str], list]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [[r[i] for i in order] for r in rows]


def basket(run: cm.Run, args, res: dict) -> None:
    run.adopt_env()
    os.chdir(run.work)
    tracer = tr.Tracer()
    sql_entries, ext_entries = entry_lists()
    names = sql_entries + ext_entries

    t0 = tr.now()
    import __spark_entry__ as entrymod
    from bq_duckdb_spark import get_spark, testdata

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        from traced_server import STATUS_RETENTION

        conf.update(STATUS_RETENTION)
    spark = get_spark(app_name="perfbench-library", cpus=cm.NPROC, extra_conf=conf)
    spark_start = tr.now() - t0
    if args.trace:
        tr.patch(tracer, testdata, "load_table", "testdata.load_table")
        tr.patch_package(tracer, "bq_duckdb_spark.operators", "operators")
        tr.patch_package(tracer, "bq_duckdb_spark.ext", "ext")
        tr.patch_spark_actions(tracer)
        tracer.enabled = True

    loads = []
    for _ in range(SETUP_REPEATS):
        t0 = tr.now()
        for t in TABLES:
            testdata.load_table(spark, run.data, t).schema
        loads.append(tr.now() - t0)
    res["setup_s"] = spark_start + cm.median(loads)
    res["detail"]["setup.spark_start_s"] = spark_start
    cm.log(f"spark up in {spark_start:.1f}s; table loads {loads}")

    qs = entrymod.queries()
    sc = spark.sparkContext
    storage_start = len(sc._jsc.sc().getRDDStorageInfo())
    got: dict[str, list] = {}
    times: dict[str, list[float]] = {n: [] for n in names}
    passes: list[tuple[float, float]] = []
    n_ops = 0
    with cm.TreeSampler(os.getpid()) as tree:
        start = tr.now()
        while tr.now() < start + args.seconds:
            spent = {"sql": 0.0, "ext": 0.0}
            for name in names:
                tag = f"pb-{n_ops}"
                if args.trace:
                    sc.addJobTag(tag)
                t0 = tr.now()
                with tracer.span(f"contract.{name}"):
                    with tracer.span("contract.build"):
                        df = qs[name](spark, run.data)
                    with tracer.span("contract.run"):
                        rows = df.collect()
                dt = tr.now() - t0
                if args.trace:
                    sc.removeJobTag(tag)
                if name not in got:
                    got[name] = sqlcheck.canon(*sorted_cols(list(df.columns), [tuple(r) for r in rows]))
                times[name].append(dt)
                spent["sql" if name in sql_entries else "ext"] += dt
                n_ops += 1
            passes.append((spent["sql"], spent["ext"]))
        window = tr.now() - start
    res["rss_peak_mb"] = tree.peak
    res["cpu_ms_per_op"] = tree.cpu * 1e3 / n_ops
    res["attempted"] += n_ops
    cm.log(f"timed window done ({window:.1f}s, {len(passes)} passes)")

    res["heavy_ms"] = cm.median([p[1] for p in passes]) * 1e3
    d = res["detail"]
    d["entries_per_s"] = n_ops / window
    d["sql_pass_s"] = cm.median([p[0] for p in passes])
    d["corpus_pass_s"] = res["heavy_ms"] / 1e3
    d["samples"] = {"passes": len(passes), "entries": n_ops}
    d["entry_ms"] = {n: round(cm.median(times[n]) * 1e3, 1) for n in names}

    if args.trace:
        res["layers"] = _layers(tracer, sc, start, n_ops, len(passes), window, names, storage_start)
    spark.stop()
    cm.log("spark stopped")

    expected_path = os.path.join(run.work, "expected.json")
    oracle = run.spawn([sys.executable, os.path.join(cm.BENCH_DIR, "oracle.py"), run.data, expected_path, *names])
    if oracle.wait() != 0:
        raise RuntimeError("the DuckDB oracle run failed")
    with open(expected_path) as f:
        expected = json.load(f)
    for name, want in expected.items():
        if not sqlcheck.same(got[name], want):
            res["failed"] += 1
            print(f"mismatch: {name}", file=sys.stderr)
    cm.log("DuckDB check done")


def _layers(tracer, sc, t_from, n_ops, n_passes, window, names, storage_start) -> dict:
    lay = tracer.layer_stats(t_from)
    setup = tracer.layer_stats(float("-inf"), t_from)

    def per_call_ms(name, src=lay, key="self_s"):
        s = src.get(name)
        return s[key] * 1e3 / s["calls"] if s and s["calls"] else 0.0

    out = {
        "testdata.load_table_ms": per_call_ms("testdata.load_table")
        or per_call_ms("testdata.load_table", setup),
        "contract.build_ms": per_call_ms("contract.build", key="total_s"),
        "contract.run_ms": per_call_ms("contract.run", key="total_s"),
        "spark.collect_ms": per_call_ms("spark.collect"),
    }
    for pkg in ("ext", "operators"):
        out[f"{pkg}_ms"] = sum(
            s["self_s"] for k, s in lay.items() if k.startswith(pkg + ".")
        ) * 1e3 / max(n_passes, 1)
    for name in names:
        s = lay.get(f"contract.{name}")
        out[f"contract.{name}_ms"] = s["total_s"] * 1e3 / s["calls"] if s else 0.0
    totals = tr.spark_totals(sc, lambda tags: any(t.startswith("pb-") for t in tags))
    for k, v in totals.items():
        out[k] = v if k == "spark.storage_rdds_end" else v / max(n_ops, 1)
    out["spark.storage_rdds_start"] = storage_start
    n_spans = sum(s["calls"] for s in lay.values())
    out["trace.overhead_pct"] = 100 * tracer.span_cost_s() * n_spans / window
    return out
