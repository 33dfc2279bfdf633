"""Data-quality expectations and table profiling — the dbt-test /
Great-Expectations surface of an ETL engine, as plain DataFrame plans.

Every check emits ``(rule, n_violations)`` so a suite is one UNION of
small aggregates; ``validation_report`` runs them as ONE Spark job.
Shapes at scale: uniqueness is a groupBy on the key (one shuffle),
referential integrity is a left-anti join (broadcast when the parent
side is dim-sized, AQE decides), null/range/accepted-values checks are
map-side-combined single aggregates — nothing buffers rows.

``profile_table`` computes the per-column statistics a warehouse
profiler shows (null count, distinct count, min/max as strings, mean
for numerics) in ONE pass over the table (a single aggregate row,
exploded to per-column rows) — not one job per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _qcol(name: str) -> F.Column:
    """Resolve a column by its verbatim top-level name — backticks
    doubled, so quotes/spaces/dots in names never split or parse."""
    return F.col("`" + name.replace("`", "``") + "`")


def check_not_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per column: count of NULLs.

    Columns are resolved with ``_qcol(c)`` and the result structs built
    with F.struct/F.lit (never string-formatted expressions), so names
    containing quotes, spaces, or dots are handled verbatim; aggregate
    slots use positional aliases for the same reason."""
    aggs = [
        F.coalesce(
            F.sum(F.when(_qcol(c).isNull(), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias(f"__nn_{i}")
        for i, c in enumerate(cols)
    ]
    row = df.agg(*aggs)
    arr = F.array(*[
        F.struct(
            F.lit(f"not_null:{c}").alias("rule"),
            F.col(f"__nn_{i}").alias("n_violations"),
        )
        for i, c in enumerate(cols)
    ])
    return row.select(F.explode_outer(arr).alias("r")).select(
        "r.rule", "r.n_violations"
    )


def check_unique(df: DataFrame, cols: list[str], rule: str | None = None) -> DataFrame:
    """Rows beyond the first per key — 0 when the key is unique."""
    name = rule or ("unique:" + ",".join(cols))
    dups = (
        df.groupBy(*[_qcol(c) for c in cols])
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("v"))
    )
    return dups.select(F.lit(name).alias("rule"), F.col("v").cast("long").alias("n_violations"))


def check_fk(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    rule: str | None = None,
) -> DataFrame:
    """Child rows whose non-null key has no parent (left-anti join)."""
    name = rule or f"fk:{child_key}->{parent_key}"
    orphans = (
        child.select(_qcol(child_key).alias("k"))
        .where(F.col("k").isNotNull())
        .join(parent.select(_qcol(parent_key).alias("k")), "k", "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return orphans.select(
        F.lit(name).alias("rule"), F.col("v").cast("long").alias("n_violations")
    )


def check_range(
    df: DataFrame, col: str, lo=None, hi=None, rule: str | None = None
) -> DataFrame:
    """Non-null values outside [lo, hi]."""
    name = rule or f"range:{col}"
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (_qcol(col) < lo)
    if hi is not None:
        cond = cond | (_qcol(col) > hi)
    row = df.agg(F.sum(F.when(cond, 1).otherwise(0)).alias("v"))
    return row.select(
        F.lit(name).alias("rule"),
        F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("n_violations"),
    )


def check_accepted_values(
    df: DataFrame, col: str, values: list, rule: str | None = None
) -> DataFrame:
    """Non-null values outside the accepted set."""
    name = rule or f"accepted:{col}"
    row = df.agg(
        F.sum(
            F.when(_qcol(col).isNotNull() & ~_qcol(col).isin(values), 1).otherwise(0)
        ).alias("v")
    )
    return row.select(
        F.lit(name).alias("rule"),
        F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("n_violations"),
    )


def validation_report(checks: list[DataFrame]) -> DataFrame:
    """UNION the checks into one (rule, n_violations) report — a single
    Spark job with one small row per rule."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-column profile in ONE pass: (column, n_nulls, n_distinct,
    min_value, max_value, mean_value) — min/max stringified for a
    uniform schema, mean NULL for non-numerics. Distincts are exact
    (one expression per column inside a single aggregate; swap in
    approx_count_distinct at extreme cardinalities)."""
    cols = cols or df.columns
    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.NumericType,))
    }
    # columns resolved via _qcol(c) and structs built with F.struct/F.lit —
    # no string-formatted expressions, so arbitrary column names
    # (quotes, spaces, dots) profile correctly; slots aliased by position
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.when(_qcol(c).isNull(), 1).otherwise(0)).alias(f"__n_{i}"))
        aggs.append(F.countDistinct(_qcol(c)).alias(f"__d_{i}"))
        aggs.append(F.min(_qcol(c)).cast("string").alias(f"__lo_{i}"))
        aggs.append(F.max(_qcol(c)).cast("string").alias(f"__hi_{i}"))
        aggs.append(
            (
                F.avg(_qcol(c)) if c in numeric else F.lit(None).cast("double")
            ).alias(f"__m_{i}")
        )
    row = df.agg(*aggs)
    arr = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__n_{i}").alias("n_nulls"),
            F.col(f"__d_{i}").alias("n_distinct"),
            F.col(f"__lo_{i}").alias("min_value"),
            F.col(f"__hi_{i}").alias("max_value"),
            F.col(f"__m_{i}").alias("mean_value"),
        )
        for i, c in enumerate(cols)
    ])
    return row.select(F.explode_outer(arr).alias("p")).select(
        "p.column", "p.n_nulls", "p.n_distinct", "p.min_value", "p.max_value", "p.mean_value"
    )
