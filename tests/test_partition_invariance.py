"""Partition-count invariance: a distributed operator's RESULT must not
depend on spark.sql.shuffle.partitions (or any physical layout knob).
Anything that fails this has partition-dependent logic leaking into its
output — the bug class that surfaces only on the real cluster, where
partition counts differ from the laptop.

shuffle.partitions is a runtime conf, so one session can compute the
same entry under different values and diff exactly.
"""

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

# representative slice: hash dedup, deterministic sampling, iterative
# checkpointing, windowed top-k join, multi-stage composition, scoring
ENTRIES = [
    "dedup_minhash",           # production xxhash64 path, chained-long banding
    "dedup_minhash_portable",
    "corpus_balance",
    "graph_pagerank",
    "sim_ann_join",
    "pipe_corpus_assembly",
    "text_bm25",
    # tier-5: iterative quantized training, driver-literal clustering,
    # distributed prefix sum, seeded weighted draw, windowed dedup
    "text_train_classifier",
    "emb_kmeans",
    "pipe_token_budget",
    "pipe_weighted_sample",
    "dedup_keep_best",
    # tier-9: window-key rank over a shuffled corpus; MG candidates
    # vary with partitioning but the exact verify must not
    "pipe_substring_dedup",
    "sketch_heavy_hitters",
    # round-7: prefix-filter candidates depend on a frequency ranking
    # whose ties break on (df, shingle) — the PAIR SET must not move;
    # RANGE-frame cumulative weights must not depend on row order
    "dedup_jaccard_exact",
    "q_weighted_median",
    "dedup_cluster_keep_best",
    # TPC-H: tie-broken LIMIT top-k, one-row-broadcast scalar threshold,
    # count-distinct + anti blacklist, semi over groupBy-HAVING
    "q02_min_acctbal_supplier",
    "q10_returned_items",
    "q15_top_supplier",
    "q16_part_supplier_counts",
    "q18_large_volume",
    # tier-6: deletion-variant bucketing, bloom bitmap layout, CMS
    # counter layout, degree-ordered wedge expansion
    "q_fuzzy_join",
    "q_bloom_semi",
    "sketch_cms_freq",
    "graph_triangles",
    "q_range_interval",
    "q_outliers_mad",
    "q_ab_test",
    "pipe_hard_negatives",
    "q_validation_report",
    "q_profile",
    "q_snapshot_diff",
    "q_scd2",
    "q_entity_resolution",
    "eval_auc",
    "eval_confusion",
    "pipe_leakage_free_split",
    # tier-7: per-key ordered folds, state-merge algebra, rank fusion,
    # LSH-candidate containment
    "q_ewma",
    "q_incremental_agg",
    "q_rrf_fusion",
    "text_containment",
    # round-4 session 2: block-combination banding, window/two-phase
    # dominance (the nd path's mapInPandas batches change with
    # partitioning — the skyline must not)
    "dedup_simhash_blocked",
    "q_skyline",
    "q_skyline_3d",
    # tier-8: held-out LM scoring (vocab join miss path) and the
    # perplexity curation cut
    "text_lm_heldout",
    "pipe_perplexity_filter",
]


@pytest.mark.parametrize("name", ENTRIES)
def test_result_invariant_to_shuffle_partitions(spark, name):
    fn = entry.queries()[name]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(tuple(r) for r in fn(spark, SF).collect())
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(tuple(r) for r in fn(spark, SF).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert len(a) > 0
    assert a == b


def test_take_until_budget_invariant_to_partition_count(spark):
    """The distributed prefix sum must agree with itself across
    explicit range-partition counts, not just shuffle.partitions."""
    from pyspark.sql import functions as F

    from bq_duckdb_spark.operators.budget import take_until_budget

    rows = [(i, (i * 37) % 23 + 1, float((i * 13) % 7)) for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "w", "q"])
    order = [F.col("q").desc(), F.col("id")]
    a = sorted(
        tuple(r)
        for r in take_until_budget(df, order, "w", 1500, num_partitions=2).collect()
    )
    b = sorted(
        tuple(r)
        for r in take_until_budget(df, order, "w", 1500, num_partitions=19).collect()
    )
    assert a == b and len(a) > 0


def test_kmeans_invariant_to_input_layout(spark):
    from bq_duckdb_spark.ext.cluster import kmeans_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = sorted(
        (r.vec_id, r.cell) for r in kmeans_assign(emb, k=4, iters=2).collect()
    )
    b = sorted(
        (r.vec_id, r.cell)
        for r in kmeans_assign(emb.repartition(13), k=4, iters=2).collect()
    )
    assert a == b


def test_assign_stable_ids_invariant_and_contiguous(spark):
    from pyspark.sql import functions as F

    from bq_duckdb_spark.operators.ids import assign_stable_ids

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "source")
    order = [F.col("source"), F.col("doc_id")]
    a = sorted(
        (r.doc_id, r.stable_id)
        for r in assign_stable_ids(docs, order, num_partitions=3).collect()
    )
    b = sorted(
        (r.doc_id, r.stable_id)
        for r in assign_stable_ids(docs, order, num_partitions=17).collect()
    )
    assert a == b
    ids = sorted(x for _, x in a)
    assert ids == list(range(len(ids)))  # contiguous, 0-based, no gaps


@pytest.mark.parametrize("nparts", [2, 19])
def test_range_prefix_grouped_matches_naive_row_number(spark, nparts):
    """The grouped path of the prefix primitive (offsets per group,
    null-safe join on the group key) must equal the naive per-group
    row_number at any range-partition count: a NULL group and a large
    group that spans several range partitions included."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bq_duckdb_spark.operators.prefix import range_prefix

    rows = (
        [(i, "big", float((i * 7919) % 1000)) for i in range(600)]
        + [(1000 + i, None, float((i * 31) % 17)) for i in range(40)]
        + [(2000 + i, "small", float(i)) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got, _ = range_prefix(
        df, ["v", "id"], F.row_number(), F.count(F.lit(1)), "rn",
        group_cols=("g",), num_partitions=nparts,
    )
    naive = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("v", "id"))
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in naive.collect()
    )
    # the big group really is split across range partitions
    big_parts = (
        df.repartitionByRange(nparts, "g", "v", "id")
        .where(F.col("g") == "big")
        .select(F.spark_partition_id())
        .distinct()
        .count()
    )
    assert big_parts > 1
