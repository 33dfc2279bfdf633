"""Greedy budgeted prefix selection: take rows in a global priority
order until a weight budget is exhausted — "fill a 10B-token training
budget with the highest-quality documents first", the terminal step of
most corpus-assembly pipelines.

A naive ``sum(w) OVER (ORDER BY …)`` funnels the whole table through
one task (Exchange SinglePartition); the running total here comes from
:func:`operators.prefix.range_prefix` instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bq_duckdb_spark.operators.prefix import range_prefix


def with_running_total(
    df: DataFrame,
    order_cols: list[Column],
    weight_col: str,
    out_col: str = "cum_weight",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add the exact inclusive running ``weight_col`` total in
    ``order_cols`` order (which must be total — break ties with a
    unique key). Identical row-for-row to the SinglePartition window
    formulation, computed distributed."""
    return range_prefix(
        df, order_cols, F.sum(weight_col), F.sum(weight_col), out_col,
        num_partitions=num_partitions,
    )[0]


def take_until_budget(
    df: DataFrame,
    order_cols: list[Column],
    weight_col: str,
    budget: int,
    out_col: str = "cum_weight",
    num_partitions: int | None = None,
) -> DataFrame:
    """Rows whose running ``weight_col`` total stays within ``budget``;
    ``out_col`` carries the inclusive running total. See
    :func:`with_running_total` for the distributed shape."""
    return with_running_total(
        df, order_cols, weight_col, out_col, num_partitions
    ).filter(F.col(out_col) <= budget)


def assign_shards(
    df: DataFrame,
    order_cols: list[Column],
    weight_col: str,
    shard_budget: int,
    out_col: str = "shard_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Token-balanced shard assignment: rows (in ``order_cols`` order)
    fill shard 0 until ``shard_budget`` weight, then shard 1, … — the
    delivery step that turns a curated corpus into ~equal-token output
    files. ``shard_id = floor(exclusive_running_total / shard_budget)``
    (each row lands in the shard where it STARTS), so shard boundaries
    are exact, deterministic, and layout-independent; write with
    ``.partitionBy(out_col)`` for one directory per shard."""
    cum = with_running_total(
        df, order_cols, weight_col, "__cum", num_partitions
    )
    return cum.withColumn(
        out_col,
        ((F.col("__cum") - F.col(weight_col)) / F.lit(shard_budget))
        .cast("long"),
    ).drop("__cum")
