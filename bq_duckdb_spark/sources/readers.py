"""Format readers with BigQuery declared-schema coercion.

Scale notes: every reader keeps Spark's native parallel scan (one task
per file split); the coercion is a column-wise cast projection that
fuses into the scan stage. For parquet, passing the declared schema also
prunes unread columns at the footer level.

Every whole parquet table opens through :func:`open_parquet`, which
starts no Spark job. Its schema is Spark's own footer conversion of the
first data file (``ParquetFileFormat.readSchemaFromFooter`` under the
session's current SQL conf, as nullable), run in the calling JVM with
no executor task: the schema ``spark.read.parquet`` infers with
``mergeSchema`` off, without the inference job. Its row count is the sum of the footers' row counts,
read with pyarrow, so loaders need no ``count()`` job either.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bq_duckdb_spark import types as bqtypes


def coerce(df: DataFrame, columns: list[dict] | None) -> DataFrame:
    """``df`` cast to the declared BigQuery ``columns`` (unchanged when
    none are declared)."""
    if not columns:
        return df
    schema = bqtypes.schema_from_columns(columns)
    return df.select(
        [df[f.name].cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _visible(name: str) -> bool:
    """Spark's listing rule: names starting with ``.``, or with ``_``
    unless they are a ``key=value`` partition directory, are hidden."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def _data_files(path: str) -> list[str]:
    """The file itself, or the visible files under a directory,
    partition subdirectories included, in path order."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if _visible(d)]
        out += [os.path.join(root, f) for f in files if _visible(f)]
    return sorted(out)


class _FooterApi:
    """JVM handles for the footer schema, resolved once per gateway:
    every ``jvm.a.b.C`` lookup is a py4j round trip."""

    def __init__(self, jvm):
        pq_ds = jvm.org.apache.spark.sql.execution.datasources.parquet
        self.jvm = jvm
        self.path = jvm.org.apache.hadoop.fs.Path
        self.input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath
        self.footer = jvm.org.apache.parquet.hadoop.Footer
        self.skip_row_groups = (
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
        )
        self.read_footer = pq_ds.ParquetFooterReader.readFooter
        self.read_schema = pq_ds.ParquetFileFormat.readSchemaFromFooter
        self.converter = pq_ds.ParquetToSparkSchemaConverter


_footer_api: _FooterApi | None = None


def _footer_schema(spark: SparkSession, file: str) -> T.StructType:
    """Spark's schema for one parquet file, from its footer."""
    global _footer_api
    api = _footer_api
    if api is None or api.jvm is not spark._jvm:
        api = _footer_api = _FooterApi(spark._jvm)
    hpath = api.path(os.path.abspath(file))
    meta = api.read_footer(
        api.input_file(hpath, spark._jsc.hadoopConfiguration()), api.skip_row_groups
    )
    # the converter reads the session conf when built (nanosAsLong,
    # binaryAsString, int96AsTimestamp, inferTimestampNTZ, ...)
    converter = api.converter(spark._jsparkSession.sessionState().conf())
    schema = api.read_schema(api.footer(hpath, meta), converter)
    return T.StructType.fromJson(json.loads(schema.asNullable().json()))


def open_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """A whole local parquet table (a file, or a directory of data files
    with any hive-layout partition subdirectories) as ``(DataFrame, rows)``,
    without a Spark job: the schema comes from the first data file's
    footer, the row count from every data file's footer. Spark's file
    discovery still adds the partition columns of hive-layout
    directories."""
    files = _data_files(path)
    if not files:
        # a missing path or a directory without data files: Spark
        # raises PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA before any job
        spark.read.parquet(path)
        raise FileNotFoundError(f"No local parquet data files at {path}")
    rows = 0
    for f in files:
        try:
            rows += pq.read_metadata(f).num_rows
        except ValueError as e:
            raise ValueError(f"Cannot read the parquet footer of {f}: {e}") from e
    return spark.read.schema(_footer_schema(spark, files[0])).parquet(path), rows


def read_parquet(
    spark: SparkSession, path: str, columns: list[dict] | None = None
) -> DataFrame:
    """Parquet → DataFrame, coerced to the declared BigQuery schema
    (the reference's bq.loadParquet semantics, yachtsql.rs:43-117,
    without the row pivot)."""
    return coerce(open_parquet(spark, path)[0], columns)


def read_csv(
    spark: SparkSession,
    path: str,
    columns: list[dict] | None = None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV → DataFrame. With a declared schema the text scan parses
    directly into the target types (no inference pass over the data —
    at 100 TB an inference pass is a full extra read)."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if columns:
        reader = reader.schema(bqtypes.schema_from_columns(columns))
        return reader.csv(path)
    return reader.option("inferSchema", "true").csv(path)


def read_json(
    spark: SparkSession, path: str, columns: list[dict] | None = None
) -> DataFrame:
    """JSON-lines → DataFrame; declared schema avoids the inference
    scan and keeps unknown keys out of the projection."""
    reader = spark.read
    if columns:
        reader = reader.schema(bqtypes.schema_from_columns(columns))
        return reader.json(path)
    return reader.json(path)


def read_orc(
    spark: SparkSession, path: str, columns: list[dict] | None = None
) -> DataFrame:
    """ORC → DataFrame with declared-schema coercion (columnar scan,
    predicate pushdown and column pruning work as with parquet)."""
    return coerce(spark.read.orc(path), columns)


def read_avro(
    spark: SparkSession, path: str, columns: list[dict] | None = None
) -> DataFrame:
    """Avro → DataFrame. Requires the external spark-avro module, which
    is not bundled in this environment — gated with a clear error."""
    try:
        df = spark.read.format("avro").load(path)
    except Exception as e:
        if "Failed to find data source: avro" in str(e):
            raise RuntimeError(
                "Avro support requires the spark-avro package "
                "(--packages org.apache.spark:spark-avro); not bundled here"
            ) from e
        raise
    return coerce(df, columns)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Materialize a table snapshot. ``partition_by`` produces the
    hive-layout directories that enable partition pruning on re-read —
    the at-rest layout choice that matters most at scale."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 << 20,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into right-sized files — the
    small-files compaction every long-lived table needs (a 100 TB table
    accumulated from streaming micro-batches or per-task writes can hold
    millions of KB-sized files; metadata handling alone then dominates
    query planning).

    File count is computed driver-side from the source's on-disk bytes
    (stat only, no Spark job), then one round-robin repartition writes
    ``ceil(bytes / target_file_bytes)`` files. ``sort_within_by``
    optionally sorts WITHIN each output file (sortWithinPartitions — no
    extra shuffle) so min/max row-group stats stay selective for the
    given columns after compaction. Returns the output file count.
    """
    import math

    total = sum(os.path.getsize(f) for f in _data_files(src_path))
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = open_parquet(spark, src_path)[0]
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(dst_path)
    return n_files
