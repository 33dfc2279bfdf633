"""The one partitioning policy (``get_spark``): a KB-sized but
compute-dense shuffle keeps one reducer per core after AQE, instead of
being coalesced onto ONE task, with no operator pinning a repartition.

Each case runs an operator on a few-KB input and reads, from the final
AQE plan, how many partitions the shuffle on its key was read as."""

import random

import pytest

from bq_duckdb_spark.ext import graph, setjoin
from bq_duckdb_spark.operators.buckets import bucket_pairs


def _shuffle_reads(df) -> list[tuple[str, int]]:
    """Collect ``df``, then list (partitioning, partitions read) for every
    shuffle stage of its final AQE plan."""
    df.collect()
    out: list[tuple[str, int]] = []

    def walk(node, read=None):
        name = node.getClass().getSimpleName()
        if name == "AQEShuffleReadExec":
            walk(node.child(), node.partitionSpecs().size())
            return
        if name.endswith("QueryStageExec"):
            ex = node.plan()
            if ex.getClass().getSimpleName() == "ReusedExchangeExec":
                ex = ex.child()
            if name == "ShuffleQueryStageExec":
                part = ex.outputPartitioning()
                n = part.numPartitions() if read is None else read
                out.append((part.toString(), n))
            walk(ex)
            return
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan().executedPlan())
    return out


def _edges(spark):
    rnd = random.Random(7)
    return spark.createDataFrame(
        [(u, v) for u in range(60) for v in range(u + 1, 60) if rnd.random() < 0.2],
        "u long, v long",
    )


def _docs(spark):
    rnd = random.Random(7)
    return spark.createDataFrame(
        [(i, " ".join(rnd.choice("abcdefgh") for _ in range(12))) for i in range(200)],
        "doc_id long, text string",
    )


def _buckets(spark):
    df = spark.createDataFrame([(i % 37, i) for i in range(400)], "k long, id long")
    return bucket_pairs(
        df, ["k"], "id", 1000, lambda a, b: f"named_struct('a', {a}.id, 'b', {b}.id)"
    )


CASES = [
    pytest.param(lambda sp: graph.triangle_count(_edges(sp)), "lo", id="triangle_wedge_join"),
    pytest.param(
        lambda sp: setjoin.exact_jaccard_join(_docs(sp), "text", "doc_id", 0.5),
        "doc", id="exact_jaccard_per_doc_window",
    ),
    pytest.param(_buckets, "k", id="bucket_pairs_window"),
]


@pytest.mark.parametrize("build, key", CASES)
def test_small_compute_dense_shuffle_keeps_one_reducer_per_core(spark, build, key):
    n = spark.sparkContext.defaultParallelism
    reads = _shuffle_reads(build(spark))
    on_key = [r for p, r in reads if p.startswith(f"hashpartitioning({key}#")]
    assert on_key, f"no shuffle on {key}: {reads}"
    assert on_key == [n] * len(on_key), (
        f"shuffle on {key} read as {on_key} partitions, want {n}: {reads}"
    )
