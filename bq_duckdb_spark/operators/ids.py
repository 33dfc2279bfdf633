"""Distributed stable ID assignment: contiguous 0-based int64 ids in a
total order, without the SinglePartition row_number funnel.

Corpus assembly needs this constantly (every document gets a stable
int64 id before sharding/packing). ``monotonically_increasing_id`` is
partition-dependent and gappy; a global ``row_number() OVER (ORDER BY
…)`` funnels the table through one task. The distributed shape is
:func:`operators.prefix.range_prefix`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bq_duckdb_spark.operators.prefix import range_prefix


def assign_stable_ids(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "stable_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col``: the 0-based rank of each row under
    ``order_cols`` (which must be a total order — break ties with a
    unique key). Deterministic, contiguous, layout-independent —
    identical to the naive global row_number minus one."""
    out, _ = range_prefix(
        df, order_cols, F.row_number(), F.count(F.lit(1)), out_col,
        num_partitions=num_partitions,
    )
    return out.withColumn(out_col, F.col(out_col) - 1)
