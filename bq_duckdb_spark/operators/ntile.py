"""Scalable exact NTILE without the single-task global window: the
0-based global rank comes from :func:`operators.prefix.range_prefix`
(which explains the distributed shape), and the tile follows closed-form
from (rank, n, k): the first ``n mod k`` tiles carry ``n div k + 1``
rows, the rest ``n div k``.

Result is exactly BigQuery/DuckDB ``ntile(k)`` when the ordering is
total (ties broken by a unique key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bq_duckdb_spark.operators.prefix import range_prefix


def ntile_scalable(
    df: DataFrame,
    order_cols: list[str],
    k: int,
    out_col: str = "tile",
) -> DataFrame:
    ranked, slices = range_prefix(
        df, order_cols, F.row_number(), F.count(F.lit(1)), "__r"
    )
    total = slices.agg(F.sum("__t").cast("long").alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("__r", F.col("__r") - F.lit(1))
        .withColumn("__q", F.expr(f"__n div {k}"))
        .withColumn("__m", F.expr(f"__n % {k}"))
        .withColumn(
            out_col,
            F.expr(
                # first __m tiles take __q+1 rows each; guard __q=0 (n<k)
                "CAST(IF(__r < __m * (__q + 1), __r div (__q + 1), "
                "__m + (__r - __m * (__q + 1)) div greatest(__q, 1)) + 1 AS INT)"
            ),
        )
        .drop("__n", "__r", "__q", "__m")
    )
