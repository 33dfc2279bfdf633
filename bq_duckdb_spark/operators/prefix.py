"""Distributed exact global prefix: the one primitive behind every
"global rank / running total without the single-task window" operator
(ntile_scalable, assign_stable_ids, with_running_total,
percentile_cont_scalable, pipeline.seeded_shuffle).

A global ``row_number() / sum(w) OVER (ORDER BY …)`` funnels the whole
table through ONE task (Exchange SinglePartition) — a non-starter at
100 TB; with ``PARTITION BY g`` over a few groups the hash exchange caps
parallelism at #groups. This computes the identical prefix in two
distributed passes:

1. ``repartitionByRange`` on ``(*group_cols, *order_cols)`` (sampled
   range bounds; equal keys land in one partition) and the local running
   value per ``(partition, *group_cols)`` slice — its hash exchange has
   #partitions x #groups keys, so it stays parallel however few groups.
2. Per-slice totals (one tiny row each) turned into per-group cumulative
   offsets by a window over #partitions x #groups rows — the only
   single-partition work — and broadcast-joined back, null-safe on the
   group columns (SQL ``PARTITION BY`` keeps a NULL group).

Exact when ``order_cols`` is a total order within each group (break ties
with a unique key).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def range_prefix(
    df: DataFrame,
    order_cols: list[Column | str],
    local_agg: Column,
    slice_total: Column,
    out_col: str,
    group_cols: tuple[str, ...] = (),
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Add ``out_col``: the inclusive global prefix (BIGINT) of
    ``local_agg`` (``F.row_number()`` or ``F.sum(w)``) in ``order_cols``
    order within each ``group_cols`` group. ``slice_total`` is the same
    aggregate over a whole slice (``F.count(1)`` or ``F.sum(w)``).

    Returns ``(out, slices)``; ``slices`` holds one row per
    ``(__pid, *group_cols)`` slice with its total in ``__t``, for callers
    that need group sizes."""
    npart = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    keys = ["__pid", *group_cols]
    ranged = df.repartitionByRange(
        npart, *[F.col(g) for g in group_cols], *cols
    ).withColumn("__pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy(*keys)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__lrn", local_agg.over(w_local))

    slices = ranged.groupBy(*keys).agg(slice_total.alias("__t"))
    # unpartitioned when group_cols is empty: bounded input, one row per
    # slice (listed in tools/audit_plans.py)
    w_off = (
        Window.orderBy("__pid")
        .partitionBy(*group_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = slices.select(
        *[F.col(k).alias(f"__o{k}") for k in keys],
        F.coalesce(F.sum("__t").over(w_off), F.lit(0)).cast("long").alias("__off"),
    )
    # eqNullSafe (<=>) keeps this a broadcast HASH join (EqualNullSafe is
    # an equi-join key) while a NULL group matches its own offsets row
    on = [F.col("__pid") == F.col("__o__pid")] + [
        F.col(g).eqNullSafe(F.col(f"__o{g}")) for g in group_cols
    ]
    out = (
        local.join(F.broadcast(offsets), reduce(lambda a, b: a & b, on))
        # cast the SUM, not the window output: a cast around .over()
        # renames the Window's output (plan tests look for ``__lrn``)
        .withColumn(out_col, (F.col("__off") + F.col("__lrn")).cast("long"))
        .drop("__pid", "__lrn", "__off", *[f"__o{k}" for k in keys])
    )
    return out, slices
