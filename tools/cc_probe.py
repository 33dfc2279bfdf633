"""Round-count / per-job-time probe for the connected-components loop.

Rebuilds the exact pair inputs of the components-family entries at a
given SF dir and runs the production ``dedup.connected_components``
under a Spark job group, then reads that group's jobs back from the
status tracker and store: total wall time, every job's call site and
duration, and the round count.

Each round ends in one convergence-probe action (``first()`` in
``connected_components``); under AQE that action's shuffle stages run
as separate map-stage jobs first, and one action may run as more than
one job. So jobs are cut into segments, each ending with a run of
consecutive probe-action jobs: the first segment materializes the
symmetric edges and initial labels, every later one is a round.

  python tools/cc_probe.py [sf_dir] [entry ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bq_duckdb_spark import get_spark
from bq_duckdb_spark.ext import dedup, fuzzy
from bq_duckdb_spark.ext import dedup_portable as dp
from bq_duckdb_spark.sources.readers import open_parquet


def _t(spark, sf_dir, name):
    return open_parquet(spark, os.path.join(sf_dir, name + ".parquet"))[0]


def pairs_for(spark, sf_dir: str, entry: str):
    if entry == "dedup_clusters":
        emb = _t(spark, sf_dir, "embeddings")
        return dedup.embedding_near_dup_pairs(emb, threshold=0.3, use_lsh=True, dim=64)
    if entry == "q_entity_resolution":
        cust = _t(spark, sf_dir, "customer").where(F.col("c_nationkey") == 7)
        return fuzzy.fuzzy_pairs_d1(cust, str_col="c_name", id_col="c_custkey").select(
            "id_a", "id_b"
        )
    if entry == "dedup_text_clusters":
        docs = _t(spark, sf_dir, "documents")
        from bq_duckdb_spark.ext.contract_portable import _BANDS, _K, _NUM_HASHES

        return dp.portable_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.3,
            num_hashes=_NUM_HASHES, bands=_BANDS, shingle_k=_K,
        )
    raise SystemExit(f"unknown entry {entry}")


def probe_components(spark, pairs, group: str) -> None:
    sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel=False)
    t0 = time.time()
    try:
        dedup.connected_components(pairs)
    finally:
        sc.setJobGroup("", "")
    total = time.time() - t0
    store = sc._jsc.sc().statusStore()
    segments, cur, prev_probe = [], [], False
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        start = jd.submissionTime().get().getTime()
        end = jd.completionTime().get().getTime()
        probe = "dedup.py" in jd.name()
        if prev_probe and not probe:
            segments.append(cur)
            cur = []
        cur.append((start, end))
        prev_probe = probe
        print(f"  job {jid}: {end - start} ms  {jd.name()}")
    segments.append(cur)
    for i, seg in enumerate(segments):
        label = "init" if i == 0 else f"round {i}"
        span = seg[-1][1] - seg[0][0]
        print(f"  {label}: {len(seg)} jobs, {span} ms")
    print(f"  TOTAL rounds={len(segments) - 1}  {total:.2f}s")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    entries = sys.argv[2:] or [
        "q_entity_resolution", "dedup_clusters", "dedup_text_clusters"
    ]
    spark = get_spark(app_name="cc-probe")
    for entry in entries:
        print(f"== {entry}")
        t0 = time.time()
        p = pairs_for(spark, sf_dir, entry)
        probe_components(spark, p, f"cc-probe-{entry}")
        print(f"  entry total {time.time() - t0:.2f}s")


if __name__ == "__main__":
    main()
