"""Shared loader for the driver's testdata tables.

Centralizes the one data quirk: ``events.parquet`` has shipped with two
different physical types for ``ts`` across driver rounds — parquet
TIMESTAMP(NANOS) (which Spark only reads with
``spark.sql.legacy.parquet.nanosAsLong``, arriving as an epoch-nanos
long) and plain TIMESTAMP(MICROS) (arriving as TIMESTAMP_NTZ).
:func:`normalize_event_ts` maps both to the same session-timezone
``timestamp`` column truncated to microseconds, matching DuckDB's
``epoch_us`` semantics for oracle parity.

:func:`load_table` opens each table through
:func:`bq_duckdb_spark.sources.readers.open_parquet`: the schema is
Spark's conversion of the file's parquet footer under the session conf
(so ``nanosAsLong`` applies), and no Spark job runs to infer it. The
row count open_parquet sums from the footers is not needed here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bq_duckdb_spark.sources.readers import open_parquet


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp to TimestampType at µs precision,
    whatever physical form the parquet delivered it in."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        # epoch nanos (TIMESTAMP(NANOS) under nanosAsLong) → truncate
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    # TIMESTAMP_NTZ (or already TimestampType): under the pinned UTC
    # session zone the cast is value-preserving and keeps every
    # downstream consumer (windows, watermarks, oracles) on one type
    return df.withColumn(col, F.col(col).cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # date/timestamp extraction parity with the DuckDB oracle requires a
    # UTC session — runtime-settable, so pin it here in case the driver's
    # SparkSession (or the host machine) defaults to another zone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = open_parquet(spark, f"{sf_dir}/{name}.parquet")[0]
    if name == "events":
        df = normalize_event_ts(df)
    return df
