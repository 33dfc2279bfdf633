"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the seed's input tables inside the checkout, runs one workload
(``library_basket`` or ``rpc_mixed``), checks
every distinct result against DuckDB, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it carries the workload's named figures (``detail``). Engine
and server logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import sys
import time

import common as cm

# the library basket is overhead-bound, so sf0.002 keeps a pass and its
# DuckDB oracles short; the service workload needs sf0.1 for 60k-row scans
SCALE = {"library_basket": 0.002, "rpc_mixed": 0.1}

END_TO_END = {
    "setup_s": "s",
    "rss_peak_mb": "MB",
    "cpu_ms_per_op": "ms",
    "heavy_ms": "ms",
}

_SERVER_LAYERS = [
    "server.handle_message_ms", "server.json_dumps_ms", "wsproto.read_frame_ms",
    "wsproto.encode_frame_ms", "wsproto.bytes_out", "engine.query_ms", "dialect.transpile_ms",
    "result.encode_ms", "result.rows", "engine.insert_ms", "engine.insert_coerce_ms",
    "engine.insert_rebase_ms", "engine.insert_rebase_count", "engine.insert_compact_ms",
    "engine.insert_compact_count", "engine.insert_files_end", "engine.materialize_ms",
    "engine.materialize_count_ms", "engine.load_parquet_ms", "dag.register_ms", "dag.run_ms",
    "dag.execute_table_ms", "dialect.extract_dependencies_ms", "ping.queue_wait_ms",
    "ping.generator_late_ms",
]
_SPARK_LAYERS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms", "spark.executor_cpu_ms",
    "spark.jvm_gc_ms", "spark.input_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.output_bytes", "spark.collect_ms",
    "spark.storage_rdds_start", "spark.storage_rdds_end",
]
_LIBRARY_LAYERS = [
    "testdata.load_table_ms", "contract.build_ms", "contract.run_ms", "ext_ms", "operators_ms",
]
_ENTRIES = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier", "q_filter_case",
    "q_having", "q_percentiles", "q_window_rank", "q_running_total", "q_sessionize", "q_rollup",
    "q_asof_join", "q_percentiles_scalable", "q_ntile_scalable", "dedup_exact", "dedup_minhash",
    "dedup_ngram_jaccard", "dedup_simhash", "sim_cosine_topk", "text_stats", "text_tfidf",
    "multimodal_features", "q_entity_resolution", "corpus_dsir", "dedup_lsh_eval",
]


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith(".bytes_out"):
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    return "count"


PER_LAYER = {
    n: _unit(n)
    for n in _LIBRARY_LAYERS
    + [f"contract.{e}_ms" for e in _ENTRIES]
    + _SPARK_LAYERS
    + _SERVER_LAYERS
    + ["trace.overhead_pct"]
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="input scale (the smoke run uses 0.001)")
    args = ap.parse_args()
    for need in ("bench.py", "__spark_entry__.py", "bq_duckdb_spark"):
        if not os.path.exists(os.path.join(cm.ROOT, need)):
            print(f"perfbench: {need} not found beside perfbench/; run from a full checkout", file=sys.stderr)
            return 2

    import gen
    import library
    import rpc

    workloads = {
        "library_basket": library.basket,
        "rpc_mixed": rpc.mixed,
    }
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    if args.sf is None:
        args.sf = SCALE[args.workload]

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    run = cm.Run(args.workload, args.seed)
    res = {"attempted": 0, "failed": 0, "detail": {}}
    try:
        gen.generate(run.data, args.sf, args.seed)
        cm.log(f"generated sf{args.sf} inputs for seed {args.seed}")
        t0 = time.monotonic()
        workloads[args.workload](run, args, res)
        res["detail"]["run_s"] = time.monotonic() - t0
    finally:
        run.close()
        cm.log("stopped")

    if args.trace:
        layers = res.get("layers", {})
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": float(res[n]), "unit": u} for n, u in END_TO_END.items()}
    bad = [n for n, m in metrics.items() if math.isnan(m["value"])]
    res["failed"] += len(bad)
    for n in bad:
        metrics[n]["value"] = 0.0
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": res["detail"]}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
