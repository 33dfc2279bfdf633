"""Session engine: catalog, query, insert, loaders.

Re-expresses the reference's session/executor layer
(src/session/manager.rs, src/executor/yachtsql.rs) on Spark:

- Each :class:`Session` owns a private namespace of tables. BigQuery's
  3-level ``project.dataset.table`` names are kept as the user-facing
  catalog; physically each table is a Spark temp view with a mangled,
  session-scoped name so sessions never see each other's tables
  (isolation semantics of manager.rs:477-521).
- ``query(sql)`` = dialect transpile → ``spark.sql`` → DataFrame. The
  Catalyst logical→optimized→physical pipeline replaces the reference's
  opaque YachtSQL engine (SURVEY §3.1).
- Parquet loading keeps DataFrames columnar end-to-end — the reference's
  rows→INSERT-text pivot (yachtsql.rs:75-116) deliberately disappears.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import threading
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema

from bq_duckdb_spark import types as bqtypes
from bq_duckdb_spark.dialect import _find_top_level_keyword
from bq_duckdb_spark.dialect import _split_top_level_args as _split_top_level_commas
from bq_duckdb_spark.dialect import transpile
from bq_duckdb_spark.sources import readers


@dataclass
class TableEntry:
    name: str  # as registered, e.g. "proj.dataset.tbl" or "users"
    view: str  # mangled session-scoped temp-view name
    columns: list[dict] = field(default_factory=list)  # BQ ColumnDef dicts
    union_depth: int = 0  # lazy-union inserts since last rebase
    insert_dir: str | None = None  # parquet dir backing appended inserts
    insert_files: int = 0  # appended batches since last compaction
    partition_by: str | None = None  # BQ PARTITION BY column/expression
    cluster_by: list[str] = field(default_factory=list)  # BQ CLUSTER BY cols


def _sanitize(name: str) -> str:
    return re.sub(r"\W", "_", name)


def _check_cloud_path(path: str) -> None:
    """Cloud URIs need connector jars + credentials absent here (S6);
    surface the boundary as a clean loader error, not a JVM trace. On a
    real cluster Spark's readers and writers serve these schemes once
    the connector is on the classpath; parquet loads would also need
    ``readers.open_parquet`` to list and read footers through it (it
    reads local files)."""
    if path.startswith(("gs://", "s3://", "s3a://", "abfs://", "abfss://")):
        raise FileNotFoundError(
            f"Cloud storage path {path!r} requires the matching "
            "filesystem connector jar and credentials, which are not "
            "available in this environment"
        )


# quote-aware paren matcher: a ')' inside a string literal (e.g.
# EXPORT DATA OPTIONS(..., field_delimiter=')')) must not close the
# group — and rfind would shear a column list on a trailing
# PARTITION BY DATE(ts) clause. The dialect already has exactly this.
from bq_duckdb_spark.dialect import _find_matching_paren as _find_balanced


def _cluster_sort(df: DataFrame, cols: list[str]) -> DataFrame:
    """CLUSTER BY layout: contiguous, sorted key ranges per output file
    so parquet row-group min/max stats skip at read time. One column is
    a plain range sort; several interleave into a Morton key
    (operators/zorder.py) so ALL clustered dimensions get tight
    bounding boxes."""
    if len(cols) == 1:
        return df.repartitionByRange(cols[0]).sortWithinPartitions(cols[0])
    from bq_duckdb_spark.operators.zorder import with_zvalue

    return (
        with_zvalue(df, cols, out_col="__z")
        .repartitionByRange("__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


class Session:
    """One isolated catalog + query context (reference ``Session``:
    src/session/manager.rs:16-24, one executor/database per session)."""

    _bq_functions_registered: set[int] = set()

    def __init__(self, spark: SparkSession, session_id: str | None = None):
        self.spark = spark
        # BigQuery-name SQL UDFs are stateless and SparkSession-wide;
        # register once per underlying session so query() resolves e.g.
        # FARM_FINGERPRINT / SAFE_OFFSET without caller setup
        if id(spark) not in Session._bq_functions_registered:
            from bq_duckdb_spark.functions import register_bigquery_functions

            register_bigquery_functions(spark)
            Session._bq_functions_registered.add(id(spark))
        self.session_id = session_id or str(uuid.uuid4())
        self._tag = "s" + _sanitize(self.session_id)[:12]
        self.tables: dict[str, TableEntry] = {}  # key: lower-cased name
        self.default_project: str | None = None
        self._lock = threading.RLock()
        self._warehouse = tempfile.mkdtemp(prefix=f"bqspark_{self._tag}_")
        self._ins_counter = 0
        # local import to avoid a module cycle (dag only needs the session)
        from bq_duckdb_spark.dag import Pipeline

        self.pipeline = Pipeline(self)

    # -- naming ------------------------------------------------------------

    def _view_name(self, name: str) -> str:
        return f"{self._tag}__{_sanitize(name.lower())}"

    def _resolve_key(self, name: str) -> str | None:
        """Find the registered key for ``name``; case-insensitive, honors
        the default project for 2-level names (executor/mod.rs:105-124)."""
        low = name.lower().strip("`")
        if low in self.tables:
            return low
        if self.default_project and low.count(".") == 1:
            qualified = f"{self.default_project.lower()}.{low}"
            if qualified in self.tables:
                return qualified
        return None

    def _table_mapping(self) -> dict[str, str]:
        # each registered name, and under a default project its 2-level
        # short form, → its bare view; transpile() writes the alias
        mapping = {e.name: e.view for e in self.tables.values()}
        if self.default_project:
            dp = self.default_project.lower() + "."
            for key, e in self.tables.items():
                if key.startswith(dp):
                    mapping[key[len(dp) :]] = e.view
        return mapping

    # -- DDL / DML ---------------------------------------------------------

    def _local_frame(self, rows: list, schema: T.StructType) -> DataFrame:
        """``rows`` (tuples of Python values) as a DataFrame over a JVM
        ``LocalRelation``. A Python list handed to ``createDataFrame``
        becomes a pickled RDD, and every later scan of it runs one
        Python-worker task per partition; an Arrow table is shipped to
        the JVM once and scans there (past
        ``spark.sql.execution.arrow.localRelationThreshold`` as a
        JVM-only Arrow RDD). Rows get the same type check
        ``createDataFrame(verifySchema=True)`` runs on a list."""
        verify = T._make_type_verifier(schema)
        for row in rows:
            verify(row)
        if rows:
            table = LocalDataToArrowConversion.convert(rows, schema, False)
        else:
            table = to_arrow_schema(schema).empty_table()
        return self.spark.createDataFrame(table, schema)

    def register_dataframe(self, name: str, df: DataFrame) -> TableEntry:
        with self._lock:
            view = self._view_name(name)
            df.createOrReplaceTempView(view)
            entry = TableEntry(name=name, view=view, columns=bqtypes.columns_from_schema(df.schema))
            self.tables[name.lower()] = entry
            return entry

    def _register_replacing(self, name: str, df: DataFrame) -> TableEntry:
        """Register ``df`` — a rewritten snapshot or a fresh load that
        no longer reads the old entry's files — as ``name``, and delete
        the insert directory the old entry's appended rows lived in.
        (``register_dataframe`` keeps it: its argument may read it.)"""
        with self._lock:
            old = self.tables.get(name.lower())
            entry = self.register_dataframe(name, df)
            if old is not None and old.insert_dir:
                shutil.rmtree(old.insert_dir, ignore_errors=True)
            return entry

    def create_table(
        self,
        name: str,
        columns: list[dict],
        if_not_exists: bool = False,
        partition_by: str | None = None,
        cluster_by: list[str] | None = None,
    ) -> None:
        """``bq.createTable`` (reference src/rpc/methods.rs:99-111).

        ``partition_by`` / ``cluster_by`` record the BigQuery DDL
        storage spec; the layout applies whenever the table is next
        materialized as a physical snapshot (CTAS, MERGE/UPDATE/DELETE
        rewrite) — see :meth:`materialize`. Appended inserts buffer
        unpartitioned until then.
        """
        with self._lock:
            if self._resolve_key(name):
                if if_not_exists:
                    return
                raise ValueError(f"Table already exists: {name}")
            schema = bqtypes.schema_from_columns(columns)
            self.register_dataframe(name, self._local_frame([], schema))
            entry = self.tables[name.lower()]
            entry.columns = list(columns)
            entry.partition_by = partition_by
            entry.cluster_by = list(cluster_by or [])

    def drop_table(self, name: str, if_exists: bool = True) -> None:
        with self._lock:
            key = self._resolve_key(name)
            if key is None:
                if if_exists:
                    return
                raise ValueError(f"Table not found: {name}")
            entry = self.tables.pop(key)
            self.spark.catalog.dropTempView(entry.view)
            path = os.path.join(self._warehouse, _sanitize(key))
            if os.path.exists(path):
                shutil.rmtree(path, ignore_errors=True)
            if entry.insert_dir:
                shutil.rmtree(entry.insert_dir, ignore_errors=True)

    # Lazy unions are cheapest for the first few inserts; past this depth
    # the view is rebased onto a parquet dir so plan depth stays O(1) —
    # an N-deep union lineage makes analysis time quadratic in N.
    _INSERT_UNION_MAX = 8
    # Appended batches before small files are compacted into one rewrite.
    _INSERT_COMPACT_EVERY = 64

    def insert(self, name: str, rows: list) -> int:
        """Multi-row insert from JSON arrays/objects; returns inserted count
        (``bq.insert``, reference src/rpc/methods.rs:114-148).

        Each batch becomes an in-memory ``LocalRelation``
        (:meth:`_local_frame`). Plan-depth discipline: the first
        ``_INSERT_UNION_MAX`` inserts extend a lazy union of those
        relations (no I/O, and no Python worker when the table is
        scanned); beyond that the table is rebased
        onto a session-warehouse parquet dir and each insert appends one
        small file — analysis stays O(1) no matter how many batches a
        long-lived RPC session accumulates (the reference's append
        semantics, dag_test.clj:240-258, with bounded lineage). Files
        are compacted every ``_INSERT_COMPACT_EVERY`` batches.
        """
        with self._lock:
            key = self._resolve_key(name)
            if key is None:
                raise ValueError(f"Table not found: {name}")
            entry = self.tables[key]
            schema = bqtypes.schema_from_columns(entry.columns)
            prepared = [self._coerce_row(r, entry.columns, schema) for r in rows]
            self._append_df(entry, self._local_frame(prepared, schema), schema)
            return len(prepared)

    def _append_df(self, entry: TableEntry, new_df: DataFrame, schema: T.StructType) -> None:
        """Append ``new_df`` to ``entry``'s view with bounded plan depth."""
        if entry.insert_dir is None and entry.union_depth < self._INSERT_UNION_MAX:
            existing = self.spark.table(entry.view)
            existing.unionByName(new_df).createOrReplaceTempView(entry.view)
            entry.union_depth += 1
            return
        if entry.insert_dir is None:
            self._rebase_inserts(entry, schema)
        new_df.write.mode("append").parquet(entry.insert_dir)
        entry.insert_files += 1
        if entry.insert_files >= self._INSERT_COMPACT_EVERY:
            self._compact_inserts(entry, schema)
        self._register_insert_dir(entry, schema)

    def _insert_dir_path(self, entry: TableEntry) -> str:
        self._ins_counter += 1
        return os.path.join(
            self._warehouse, f"{_sanitize(entry.name.lower())}__ins{self._ins_counter}"
        )

    def _rebase_inserts(self, entry: TableEntry, schema: T.StructType) -> None:
        """Snapshot the current view into a fresh parquet dir so further
        inserts append files instead of growing the logical plan."""
        from pyspark.sql import functions as _F

        d = self._insert_dir_path(entry)
        snap = self.spark.table(entry.view).select(
            [_F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        snap.write.mode("overwrite").parquet(d)
        entry.insert_dir = d
        entry.insert_files = 0
        entry.union_depth = 0

    def _compact_inserts(self, entry: TableEntry, schema: T.StructType) -> None:
        """Rewrite many small insert files into one compact dir (new dir +
        swap: never overwrites a path while reading it)."""
        old = entry.insert_dir
        d = self._insert_dir_path(entry)
        n_part = max(self.spark.sparkContext.defaultParallelism // 4, 1)
        self.spark.read.schema(schema).parquet(old).coalesce(n_part).write.mode(
            "overwrite"
        ).parquet(d)
        entry.insert_dir = d
        entry.insert_files = 0
        shutil.rmtree(old, ignore_errors=True)

    def _register_insert_dir(self, entry: TableEntry, schema: T.StructType) -> None:
        # explicit schema: a dir whose only content is an empty batch has
        # no footer to infer from; re-registering re-lists the dir so the
        # view sees newly appended files
        self.spark.read.schema(schema).parquet(entry.insert_dir).createOrReplaceTempView(
            entry.view
        )

    @staticmethod
    def _coerce_row(row, columns: list[dict], schema: T.StructType):
        if isinstance(row, dict):
            vals = [row.get(c["name"]) for c in columns]
        else:
            vals = list(row)
            # zip() below would silently DROP surplus positional values
            # (the dangerous direction: schema drift on the client loses
            # data invisibly); too-few values already error downstream,
            # so keep both directions loud
            if len(vals) > len(schema.fields):
                raise ValueError(
                    f"row has {len(vals)} values for "
                    f"{len(schema.fields)} columns"
                )
        # wire values are JSON (dates/decimals/intervals as strings,
        # BYTES base64, STRUCT objects) — coerce each to what the row
        # verifier accepts for the declared type, naming the column of
        # a value that cannot be coerced
        out = []
        for v, f in zip(vals, schema.fields):
            try:
                out.append(bqtypes.json_to_spark_value(v, f.dataType))
            except ValueError as e:
                raise ValueError(f"field {f.name}: {e}") from e
        return tuple(out)

    # -- query -------------------------------------------------------------

    def query(self, sql: str) -> DataFrame:
        """Execute one BigQuery-SQL statement.

        DDL/DML statements (SURVEY §2.9 D1-D6: CREATE [OR REPLACE] TABLE
        [IF NOT EXISTS], CTAS, DROP TABLE, INSERT INTO … VALUES/SELECT)
        are routed to the session catalog so they stay session-scoped;
        everything else transpiles and goes to Catalyst.
        """
        handled = self._try_execute_statement(sql)
        if handled is not None:
            return handled
        mapping = self._table_mapping()
        if "information_schema" in sql.lower():
            mapping.update(self._register_information_schema())
        spark_sql = transpile(sql, mapping)
        try:
            return self.spark.sql(spark_sql)
        except Exception as e:  # append failed SQL like yachtsql.rs:28
            raise RuntimeError(f"{e}\nSQL: {sql}") from e

    def _execute_merge(self, m: "re.Match") -> None:
        """MERGE INTO target USING source ON cond
        [WHEN MATCHED THEN UPDATE SET …|DELETE]
        [WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)]

        Rewritten as DataFrame set algebra — the same shape Delta/Iceberg
        engines compile MERGE to: unmatched-target ∪ transformed-matched
        ∪ inserted-source, one full snapshot replace. Matches BigQuery's
        cardinality rule: a target row matching more than one source row
        in an UPDATE/DELETE merge is an error, checked up front.
        """
        from pyspark.sql import functions as _F

        tgt_name = m.group(1).strip("`")
        t_alias = m.group(2) or tgt_name.split(".")[-1]
        src_name = m.group(3).strip("`")
        s_alias = m.group(4) or src_name.split(".")[-1]
        rest = m.group(5)

        # clauses start at WHEN [NOT] MATCHED at paren depth 0 outside
        # string literals — a CASE WHEN in the condition or a value is
        # not a clause boundary
        clause_kw = r"WHEN\s+(?:NOT\s+)?MATCHED"
        starts = []
        i = _find_top_level_keyword(rest, clause_kw)
        while i >= 0:
            starts.append(i)
            i = _find_top_level_keyword(rest, clause_kw, i + len("WHEN"))
        if not starts:
            raise ValueError("MERGE requires at least one WHEN clause")
        cond_text = rest[: starts[0]].strip()
        clauses = [
            rest[a + len("WHEN") : b] for a, b in zip(starts, starts[1:] + [len(rest)])
        ]

        update_set = delete_matched = insert_clause = None
        for cl in clauses:
            cl = cl.strip().rstrip(";").strip()
            if re.match(r"NOT\s+MATCHED\s+THEN\s+INSERT", cl, re.IGNORECASE):
                insert_clause = re.sub(
                    r"^NOT\s+MATCHED\s+THEN\s+INSERT\s*", "", cl, flags=re.IGNORECASE
                )
            elif re.match(r"MATCHED\s+THEN\s+DELETE", cl, re.IGNORECASE):
                delete_matched = True
            elif re.match(r"MATCHED\s+THEN\s+UPDATE\s+SET", cl, re.IGNORECASE):
                update_set = re.sub(
                    r"^MATCHED\s+THEN\s+UPDATE\s+SET\s*", "", cl, flags=re.IGNORECASE
                )
            else:
                raise ValueError(f"Unsupported MERGE WHEN clause: WHEN {cl[:60]}")

        target = self.table(tgt_name).alias(t_alias)
        source = self.table(src_name).alias(s_alias)
        mapping = self._table_mapping()
        cond = _F.expr(transpile(cond_text, mapping))
        tgt_cols = self.table(tgt_name).columns

        unmatched_t = target.join(source, cond, "left_anti")
        parts = [unmatched_t]

        matched = target.join(source, cond, "inner")
        if update_set or delete_matched:
            # BigQuery: "UPDATE/DELETE must match at most one source row
            # for each target row" — detect via a row-id tag + group count
            tagged = (
                self.table(tgt_name)
                .withColumn("__rid", _F.monotonically_increasing_id())
                .alias(t_alias)
            )
            dup = (
                tagged.join(source, cond, "inner")
                .groupBy("__rid")
                .count()
                .filter(_F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "MERGE failed: a target row matched more than one "
                    "source row (UPDATE/DELETE requires at most one match "
                    "per target row)"
                )
        if update_set:
            assignments = {}
            for part in _split_top_level_commas(update_set):
                col, _, expr_text = part.partition("=")
                assignments[col.strip().strip("`").split(".")[-1]] = _F.expr(
                    transpile(expr_text.strip(), mapping)
                )
            unknown = [c for c in assignments if c not in tgt_cols]
            if unknown:
                raise ValueError(f"MERGE UPDATE references unknown column(s): {unknown}")
            parts.append(
                matched.select(
                    [
                        (
                            assignments[c].cast(self.table(tgt_name).schema[c].dataType)
                            if c in assignments
                            else _F.col(f"{t_alias}.{c}")
                        ).alias(c)
                        for c in tgt_cols
                    ]
                )
            )
        elif not delete_matched:
            # no matched-clause: matched target rows pass through
            # unchanged — semi join, ONCE per target row (an inner join
            # would duplicate them per matching source row)
            parts.append(
                target.join(source, cond, "left_semi").select(
                    [_F.col(f"{t_alias}.{c}").alias(c) for c in tgt_cols]
                )
            )

        if insert_clause:
            im = re.match(
                r"^\(([^)]*)\)\s*VALUES\s*\((.*)\)\s*$", insert_clause, re.IGNORECASE | re.DOTALL
            )
            if not im:
                raise ValueError(f"Unsupported MERGE INSERT form: {insert_clause[:80]}")
            ins_cols = [c.strip().strip("`") for c in im.group(1).split(",")]
            ins_exprs = [
                _F.expr(transpile(e.strip(), mapping))
                for e in _split_top_level_commas(im.group(2))
            ]
            unmatched_s = source.join(target, cond, "left_anti")
            schema = self.table(tgt_name).schema
            row = {c: e for c, e in zip(ins_cols, ins_exprs)}
            parts.append(
                unmatched_s.select(
                    [
                        (row[c] if c in row else _F.lit(None))
                        .cast(schema[c].dataType)
                        .alias(c)
                        for c in tgt_cols
                    ]
                )
            )

        result = parts[0]
        for p in parts[1:]:
            result = result.unionByName(p)
        self.materialize(tgt_name, result)

    def _empty_result(self) -> DataFrame:
        return self._local_frame([], T.StructType([]))

    _CREATE_RE = re.compile(
        r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([\w.`]+)\s*(.*)$",
        re.IGNORECASE | re.DOTALL,
    )
    _DROP_RE = re.compile(
        r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.`]+)\s*;?\s*$", re.IGNORECASE
    )
    # BQ storage clauses: PARTITION BY <col | fn(args)>, CLUSTER BY c1, c2
    _PARTITION_BY_KW_RE = re.compile(r"^PARTITION\s+BY\s+", re.IGNORECASE)
    _PARTITION_BY_FN_RE = re.compile(r"^(\w+)\s*\(")
    _PARTITION_BY_COL_RE = re.compile(r"^[\w`.]+")
    _CLUSTER_BY_RE = re.compile(
        r"^CLUSTER\s+BY\s+([\w`.]+(?:\s*,\s*[\w`.]+)*)\s*", re.IGNORECASE
    )
    # EXPORT DATA OPTIONS(uri='…/*.ext', format='…', …) AS SELECT …
    _EXPORT_RE = re.compile(r"^\s*EXPORT\s+DATA\s+OPTIONS\s*\(", re.IGNORECASE)
    _INSERT_RE = re.compile(
        r"^\s*INSERT\s+INTO\s+([\w.`]+)\s+(.*)$", re.IGNORECASE | re.DOTALL
    )
    _MERGE_RE = re.compile(
        r"^\s*MERGE\s+INTO\s+([\w.`]+)(?:\s+AS)?(?:\s+(\w+))?\s+USING\s+"
        r"([\w.`]+)(?:\s+AS)?(?:\s+(\w+))?\s+ON\s+(.*)$",
        re.IGNORECASE | re.DOTALL,
    )
    _DELETE_RE = re.compile(
        r"^\s*DELETE\s+FROM\s+([\w.`]+)(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _UPDATE_RE = re.compile(
        r"^\s*UPDATE\s+([\w.`]+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _try_execute_statement(self, sql: str) -> DataFrame | None:
        """Handle session-scoped DDL/DML; return None for plain queries."""
        m = self._DROP_RE.match(sql)
        if m:
            self.drop_table(m.group(2).strip("`"), if_exists=bool(m.group(1)))
            return self._empty_result()

        m = self._CREATE_RE.match(sql)
        if m:
            replace, if_not_exists = bool(m.group(1)), bool(m.group(2))
            name, rest = m.group(3).strip("`"), m.group(4).strip().rstrip(";").strip()
            # canonicalize BEFORE any drop/materialize so a 2-level
            # default-project alias addresses (and re-creates) the SAME
            # catalog entry the data lives under — otherwise OR REPLACE
            # via the alias would drop the canonical entry and register a
            # fresh one under the alias spelling (ADVICE round 6)
            ckey = self._resolve_key(name)
            if ckey is not None:
                name = self.tables[ckey].name
            elif self.default_project and name.count(".") == 1:
                name = f"{self.default_project}.{name}"
            if replace:
                self.drop_table(name, if_exists=True)
            columns: list[dict] | None = None
            if rest.startswith("("):
                close = _find_balanced(rest, 0)
                columns = []
                # angle-bracket-aware split: 'b STRUCT<x INT64, y STRING>'
                # is ONE column (the expression splitter tracks ()/[]
                # only, and would shear the STRUCT type in half)
                for part in bqtypes._split_top_level(rest[1:close]):
                    cname, _, ctype = part.strip().partition(" ")
                    columns.append({"name": cname.strip("`"), "type": ctype.strip()})
                rest = rest[close + 1 :].strip()
            partition_by: str | None = None
            cluster_by: list[str] = []
            pm = self._PARTITION_BY_KW_RE.match(rest)
            if pm:
                tail = rest[pm.end() :]
                fm = self._PARTITION_BY_FN_RE.match(tail)
                if fm:
                    # balanced-paren extraction so nested expressions —
                    # PARTITION BY DATE(TIMESTAMP_MILLIS(x)) — take the
                    # whole call, not just up to the first ')'
                    close = _find_balanced(tail, fm.end() - 1)
                    partition_by = tail[: close + 1].strip()
                    rest = tail[close + 1 :].strip()
                else:
                    cm0 = self._PARTITION_BY_COL_RE.match(tail)
                    if not cm0:
                        raise ValueError(
                            f"Malformed PARTITION BY clause: {tail[:60]!r}"
                        )
                    partition_by = cm0.group(0).strip()
                    rest = tail[cm0.end() :].strip()
            cm = self._CLUSTER_BY_RE.match(rest)
            if cm:
                cluster_by = [c.strip().strip("`") for c in cm.group(1).split(",")]
                rest = rest[cm.end() :].strip()
            if rest.upper().startswith("AS"):
                # CTAS: materialized snapshot of the query result (D3/G8);
                # a declared column list (if any) casts the result
                if if_not_exists and self._resolve_key(name):
                    # BigQuery semantics: the whole statement is a no-op
                    # when the table exists — the SELECT never runs
                    return self._empty_result()
                if not replace and not if_not_exists and self._resolve_key(name):
                    # BigQuery errors here too; silently replacing would
                    # also diverge from plain CREATE TABLE on this engine
                    raise ValueError(f"Table already exists: {name}")
                df = self.query(rest[2:].strip())
                if columns:
                    schema = bqtypes.schema_from_columns(columns)
                    if len(df.columns) != len(schema.fields):
                        raise ValueError(
                            f"CTAS column-count mismatch for {name}: "
                            f"{len(schema.fields)} declared vs "
                            f"{len(df.columns)} in the query result"
                        )
                    df = df.select(
                        [
                            df[c].cast(f.dataType).alias(f.name)
                            for c, f in zip(df.columns, schema.fields)
                        ]
                    )
                self.materialize(
                    name, df, partition_by=partition_by, cluster_by=cluster_by
                )
                if columns:
                    # materialize() registers under the CANONICAL name of a
                    # pre-existing entry (default-project aliasing), which
                    # may differ from the statement's spelling — resolve
                    # through the catalog, not name.lower()
                    key = self._resolve_key(name)
                    assert key is not None
                    self.tables[key].columns = list(columns)
                return self._empty_result()
            if columns is not None and not rest:
                self.create_table(
                    name,
                    columns,
                    if_not_exists=if_not_exists,
                    partition_by=partition_by,
                    cluster_by=cluster_by,
                )
                return self._empty_result()
            raise ValueError(f"Unsupported CREATE TABLE form: {sql[:120]}")

        m = self._EXPORT_RE.match(sql)
        if m:
            close = _find_balanced(sql, m.end() - 1)
            options_src = sql[m.end() : close]
            tail = sql[close + 1 :].strip()
            if not tail.upper().startswith("AS"):
                raise ValueError("EXPORT DATA OPTIONS(...) must be followed by AS <query>")
            self._execute_export(options_src, tail[2:].strip().rstrip(";"))
            return self._empty_result()

        m = self._INSERT_RE.match(sql)
        if m:
            name, rest = m.group(1).strip("`"), m.group(2).strip().rstrip(";")
            key = self._resolve_key(name)
            if key is None:
                raise ValueError(f"Table not found: {name}")
            entry = self.tables[key]
            target_schema = self.spark.table(entry.view).schema
            if rest.upper().startswith("VALUES"):
                src = self.spark.sql(transpile(rest, None))
            else:
                src = self.query(rest)
            # positional insert semantics: cast columns to the target
            aligned = src.select(
                [
                    src[c].cast(f.dataType).alias(f.name)
                    for c, f in zip(src.columns, target_schema.fields)
                ]
            )
            with self._lock:
                self._append_df(entry, aligned, target_schema)
            return self._empty_result()

        m = self._MERGE_RE.match(sql)
        if m:
            self._execute_merge(m)
            return self._empty_result()

        m = self._DELETE_RE.match(sql)
        if m:
            # DELETE FROM t [WHERE pred] → snapshot without matching rows
            # (UPDATE/DELETE are recognized by the reference's statement
            # scanner, pipeline.rs:676-679, though never golden-tested)
            name, pred = m.group(1).strip("`"), m.group(2)
            df = self.table(name)
            from pyspark.sql import functions as _F

            # a row whose condition is NULL stays: DELETE removes only
            # rows where it is TRUE (BigQuery, DuckDB)
            kept = (
                df.filter(
                    ~_F.coalesce(
                        _F.expr(transpile(pred, self._table_mapping())), _F.lit(False)
                    )
                )
                if pred
                else df.limit(0)
            )
            self.materialize(name, kept)
            return self._empty_result()

        m = self._UPDATE_RE.match(sql)
        if m:
            name, set_clause, pred = m.group(1).strip("`"), m.group(2), m.group(3)
            df = self.table(name)
            from pyspark.sql import functions as _F

            mapping = self._table_mapping()
            assignments = {}
            for part in _split_top_level_commas(set_clause):
                col, _, expr_text = part.partition("=")
                assignments[col.strip().strip("`")] = _F.expr(
                    transpile(expr_text.strip(), mapping)
                )
            unknown = [c for c in assignments if c not in df.columns]
            if unknown:
                raise ValueError(f"UPDATE SET references unknown column(s): {unknown}")
            cond = _F.expr(transpile(pred, mapping)) if pred else _F.lit(True)
            updated = df.select(
                [
                    _F.when(cond, assignments[c])
                    .otherwise(df[c])
                    .cast(df.schema[c].dataType)
                    .alias(c)
                    if c in assignments
                    else df[c]
                    for c in df.columns
                ]
            )
            self.materialize(name, updated)
            return self._empty_result()

        return None

    def _execute_export(self, options_src: str, query_sql: str) -> None:
        """``EXPORT DATA OPTIONS(...) AS <query>`` — the BigQuery bulk
        export statement, mapped onto Spark's native writers.

        BigQuery semantics kept: ``uri`` must contain a ``*`` wildcard
        (BigQuery shards on it; Spark's part-files ARE the shards — the
        directory of the wildcard is the write target), ``format`` is
        required, ``overwrite=false`` refuses an existing target. Cloud
        URIs surface the same clean connector boundary as the loader
        (S6): on a real cluster the identical writer call serves
        ``gs://`` once the connector jar is present.
        """
        opts: dict[str, str] = {}
        for part in _split_top_level_commas(options_src):
            k, eq, v = part.partition("=")
            if not eq:
                raise ValueError(f"Malformed EXPORT DATA option: {part!r}")
            v = v.strip()
            if v[:1] in ("'", '"') and v[-1:] == v[:1]:
                q = v[0]
                # Decode in ONE left-to-right pass: backslash escapes
                # (BigQuery string-literal escape set; unknown escapes
                # keep the char verbatim) and doubled closing quotes
                # must be resolved together — a sequential
                # replace(q*2, q) could consume a quote that belongs to
                # a preceding backslash escape (e.g. '\''' = escaped
                # quote + doubled quote = two apostrophes).
                body = v[1:-1]
                esc = {"n": "\n", "t": "\t", "r": "\r", "\\": "\\",
                       "'": "'", '"': '"', "0": "\0", "b": "\b",
                       "f": "\f", "v": "\v"}
                out, i = [], 0
                while i < len(body):
                    c = body[i]
                    if c == "\\" and i + 1 < len(body):
                        out.append(esc.get(body[i + 1], body[i + 1]))
                        i += 2
                    elif c == q and i + 1 < len(body) and body[i + 1] == q:
                        out.append(q)
                        i += 2
                    else:
                        out.append(c)
                        i += 1
                v = "".join(out)
            opts[k.strip().lower()] = v
        uri = opts.get("uri")
        if not uri:
            raise ValueError("EXPORT DATA requires the uri option")
        fmt = opts.get("format", "").upper()
        if not fmt:
            raise ValueError("EXPORT DATA requires the format option")
        _check_cloud_path(uri)
        if "*" not in os.path.basename(uri):
            raise ValueError(
                "EXPORT DATA uri must contain a '*' wildcard in the file "
                "component (BigQuery sharded export); the wildcard "
                "directory is the write target"
            )
        out_dir = os.path.dirname(uri)
        overwrite = opts.get("overwrite", "false").lower() == "true"
        if os.path.exists(out_dir):
            if not overwrite:
                raise ValueError(
                    f"EXPORT DATA target {out_dir!r} already exists and "
                    "overwrite=false"
                )
            # BigQuery's overwrite replaces only files matching the uri
            # pattern; Spark's mode("overwrite") clears the whole
            # directory. Refuse when the target holds anything that is
            # not a previous Spark write (part files / markers), so an
            # overwrite export can never destroy unrelated user files.
            stray = [
                f
                for f in os.listdir(out_dir)
                if not (f.startswith("part-") or f.startswith("_") or f.startswith("."))
            ]
            if stray:
                raise ValueError(
                    f"EXPORT DATA overwrite=true would clear {out_dir!r}, "
                    f"which contains files not from a previous export "
                    f"(e.g. {stray[0]!r}); refusing — point the uri at a "
                    "dedicated export directory"
                )
        df = self.query(query_sql)
        writer = df.write.mode("overwrite" if overwrite else "errorifexists")
        if "compression" in opts:
            writer = writer.option("compression", opts["compression"].lower())
        if fmt == "PARQUET":
            writer.parquet(out_dir)
        elif fmt == "CSV":
            writer.option("header", opts.get("header", "false").lower()).option(
                "sep", opts.get("field_delimiter", ",")
            ).csv(out_dir)
        elif fmt in ("JSON", "NEWLINE_DELIMITED_JSON"):
            writer.json(out_dir)
        elif fmt == "AVRO":
            raise ValueError(
                "AVRO export requires the spark-avro module on the "
                "cluster classpath, which is not available in this "
                "environment"
            )
        else:
            raise ValueError(f"Unsupported EXPORT DATA format: {fmt}")

    def table(self, name: str) -> DataFrame:
        key = self._resolve_key(name)
        if key is None:
            raise ValueError(f"Table not found: {name}")
        return self.spark.table(self.tables[key].view)

    # -- materialization (snapshot semantics, SURVEY §2.10 G8) -------------

    def materialize(
        self,
        name: str,
        df: DataFrame,
        partition_by: str | None = None,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Replace ``name`` with a physical snapshot of ``df``: write
        parquet under the session warehouse and re-read — a true snapshot
        that scales (the cluster equivalent is
        ``saveAsTable(mode="overwrite")``). Returns the snapshot row count.

        When the table carries a BigQuery storage spec (``PARTITION
        BY`` / ``CLUSTER BY`` DDL, or explicit arguments here), the
        snapshot is written accordingly — and a REWRITE of an existing
        table (UPDATE/DELETE/MERGE) inherits the spec recorded on its
        entry. Appended inserts live in a separate unpartitioned buffer
        until the next snapshot rewrite (the BigQuery streaming-buffer
        analogy: its buffer is also unpartitioned until flushed):

        - a plain-COLUMN partition writes hive-style directories on
          that column; filters on it then prune at the directory level
          (``PartitionFilters`` in the scan — the Spark analogue of
          BigQuery partition pruning, asserted in tests);
        - an EXPRESSION partition (e.g. ``DATE(ts)``) writes
          directories on a derived hidden key. That organizes storage
          (time-sized files, partition-wise lifecycle) but Spark does
          not map base-column filters onto the derived key, so scans
          don't auto-prune — the documented gap vs BigQuery's
          metadata-backed expression pruning;
        - ``CLUSTER BY`` range-partitions + sorts (one column: plain
          range sort; several: Morton z-order via operators/zorder.py)
          so row groups carry tight min/max stats on every clustered
          dimension — parquet stats skipping at read time.
        """
        with self._lock:
            # resolve through the catalog so a rewrite addressed by a
            # default-project 2-level name finds (and replaces) the
            # SAME entry the data lives under — a .get(name.lower())
            # here would lose the recorded storage spec AND register a
            # second, diverging entry beside the canonical one
            prev_key = self._resolve_key(name)
            prev = self.tables[prev_key] if prev_key else None
            if prev is not None:
                name = prev.name
            if partition_by is None and cluster_by is None and prev is not None:
                partition_by, cluster_by = prev.partition_by, prev.cluster_by
            cluster_by = list(cluster_by or [])
            path = os.path.join(self._warehouse, _sanitize(name.lower()))
            tmp = path + "__tmp"
            out = df
            part_col = None
            if partition_by:
                part_col, out = self._partition_column(out, partition_by)
            if cluster_by:
                out = _cluster_sort(out, cluster_by)
            writer = out.write.mode("overwrite")
            if part_col:
                writer = writer.partitionBy(part_col)
            writer.parquet(tmp)
            if os.path.exists(path):
                shutil.rmtree(path, ignore_errors=True)
            os.replace(tmp, path)
            snap, rows = readers.open_parquet(self.spark, path)
            if part_col:
                # partitionBy moves the partition column last and
                # re-infers its type from directory names; restore the
                # declared order/types (a hidden expression key drops
                # out here — filters on the visible columns still push
                # into the scan through this projection)
                from pyspark.sql import functions as _F

                snap = snap.select(
                    [
                        _F.col(f.name).cast(f.dataType).alias(f.name)
                        for f in df.schema.fields
                    ]
                )
            entry = self._register_replacing(name, snap)
            entry.partition_by = partition_by
            entry.cluster_by = cluster_by
            return rows

    def _partition_column(
        self, df: DataFrame, spec: str
    ) -> tuple[str, DataFrame]:
        """Resolve a BQ PARTITION BY spec: a plain column partitions on
        itself (prunable); an expression derives a hidden key."""
        plain = spec.strip().strip("`")
        if re.fullmatch(r"[\w`.]+", plain) and plain in df.columns:
            return plain, df
        from pyspark.sql import functions as _F

        return "__bq_part", df.withColumn(
            "__bq_part", _F.expr(transpile(spec, None))
        )

    # -- information_schema emulation (D7, yachtsql.rs:119-141) ------------

    def _register_information_schema(self) -> dict[str, str]:
        """Synthesize ``information_schema.tables`` / ``.columns`` views
        from the session catalog (the reference's list/describe queries
        use table_schema='public' and ordinal_position)."""
        tables_rows, cols_rows = [], []
        for key in sorted(self.tables):
            entry = self.tables[key]
            tables_rows.append((entry.name, "public"))
            schema = self.spark.table(entry.view).schema
            for pos, f in enumerate(schema.fields, start=1):
                cols_rows.append(
                    (entry.name, "public", f.name, bqtypes.spark_to_bq(f.dataType), pos)
                )
        tv, cv = f"{self._tag}__infoschema_tables", f"{self._tag}__infoschema_columns"
        self._local_frame(
            tables_rows, T.StructType.fromDDL("table_name string, table_schema string")
        ).createOrReplaceTempView(tv)
        self._local_frame(
            cols_rows,
            T.StructType.fromDDL(
                "table_name string, table_schema string, column_name string, "
                "data_type string, ordinal_position int"
            ),
        ).createOrReplaceTempView(cv)
        return {"information_schema.tables": tv, "information_schema.columns": cv}

    # -- catalog introspection (reference yachtsql.rs:119-187) -------------

    def list_tables(self) -> list[dict]:
        out = []
        for key in sorted(self.tables):
            entry = self.tables[key]
            out.append({"name": entry.name, "rowCount": self.spark.table(entry.view).count()})
        return out

    def describe_table(self, name: str) -> dict:
        key = self._resolve_key(name)
        if key is None:
            raise ValueError(f"Table not found: {name}")
        entry = self.tables[key]
        df = self.spark.table(entry.view)
        out = {
            "name": entry.name,
            "columns": bqtypes.columns_from_schema(df.schema),
            "rowCount": df.count(),
        }
        # storage spec, when declared (BigQuery INFORMATION_SCHEMA
        # exposes partitioning/clustering in TABLE_OPTIONS; keep the
        # reference's flat shape and only add keys when present)
        if entry.partition_by:
            out["partitionBy"] = entry.partition_by
        if entry.cluster_by:
            out["clusterBy"] = list(entry.cluster_by)
        return out

    def get_projects(self) -> list[str]:
        # project names are reported upper-cased (manager.rs:1115-1119)
        projs = {e.name.split(".")[0].upper() for e in self.tables.values() if e.name.count(".") == 2}
        return sorted(projs)

    def get_datasets(self, project: str) -> list[str]:
        p = project.lower()
        out = {
            e.name.split(".")[1]
            for e in self.tables.values()
            if e.name.count(".") == 2 and e.name.split(".")[0].lower() == p
        }
        return sorted(out)

    def get_tables_in_dataset(self, project: str, dataset: str) -> list[str]:
        p, d = project.lower(), dataset.lower()
        out = {
            e.name.split(".")[2]
            for e in self.tables.values()
            if e.name.count(".") == 2
            and e.name.split(".")[0].lower() == p
            and e.name.split(".")[1].lower() == d
        }
        return sorted(out)

    # -- loaders (reference src/session/loader.rs) -------------------------

    def load_parquet(self, name: str, path: str, columns: list[dict] | None = None) -> int:
        """Read parquet, coerce to the declared BigQuery schema, register
        as ``name`` (replace) — ``bq.loadParquet``
        (reference src/executor/yachtsql.rs:43-117, minus the row pivot).

        GCS paths (reference bigquery.rs:52-148, S6) need the
        gcs-connector jar + credentials, absent here — surface the
        boundary as a clean loader error instead of a JVM stack trace.
        The table opens from its parquet footers
        (:func:`readers.open_parquet`): neither its schema nor its row
        count starts a Spark job.
        """
        _check_cloud_path(path)
        df, rows = readers.open_parquet(self.spark, path)
        return self._load_via(name, readers.coerce(df, columns), columns, rows)

    def _load_via(
        self, name: str, df: DataFrame, columns: list[dict] | None, rows: int | None = None
    ) -> int:
        """Register a loaded table; returns ``rows``, or counts the
        table when the format does not record its row count."""
        entry = self._register_replacing(name, df)
        if columns:
            entry.columns = list(columns)
        return self.spark.table(entry.view).count() if rows is None else rows

    def load_csv(
        self,
        name: str,
        path: str,
        columns: list[dict] | None = None,
        header: bool = True,
        delimiter: str = ",",
    ) -> int:
        """``bq.loadCsv`` — BigQuery load jobs accept CSV alongside
        parquet (the reference implements parquet only; this widens the
        loader surface with the same declared-schema coercion). With a
        declared schema the text scan parses straight into the target
        types — no inference pass, which at 100 TB is a full extra read.
        """
        _check_cloud_path(path)
        return self._load_via(
            name, readers.read_csv(self.spark, path, columns, header, delimiter), columns
        )

    def load_json(
        self, name: str, path: str, columns: list[dict] | None = None
    ) -> int:
        """``bq.loadJson`` — newline-delimited JSON (the BigQuery load
        format), declared schema skips the inference scan."""
        _check_cloud_path(path)
        return self._load_via(
            name, readers.read_json(self.spark, path, columns), columns
        )

    def load_orc(
        self, name: str, path: str, columns: list[dict] | None = None
    ) -> int:
        """``bq.loadOrc`` — ORC load with declared-schema coercion
        (columnar scan; pushdown and pruning as with parquet)."""
        _check_cloud_path(path)
        return self._load_via(
            name, readers.read_orc(self.spark, path, columns), columns
        )

    def discover_files(self, root: str) -> tuple[list[dict], list[dict]]:
        """Walk exactly ``<root>/<project>/<dataset>/<file>``
        (reference src/session/loader.rs:30-94). Returns
        (parquet_files, sql_files); each dict has project/dataset/table
        plus path (parquet, with required sibling ``<table>.schema.json``)
        or sql text."""
        parquet_files, sql_files = [], []
        if not os.path.isdir(root):
            raise FileNotFoundError(f"Directory not found: {root}")
        for project in sorted(os.listdir(root)):
            pdir = os.path.join(root, project)
            if not os.path.isdir(pdir):
                continue
            for dataset in sorted(os.listdir(pdir)):
                ddir = os.path.join(pdir, dataset)
                if not os.path.isdir(ddir):
                    continue
                for fname in sorted(os.listdir(ddir)):
                    fpath = os.path.join(ddir, fname)
                    table, ext = os.path.splitext(fname)
                    if ext == ".parquet":
                        schema_path = os.path.join(ddir, f"{table}.schema.json")
                        if not os.path.exists(schema_path):
                            # schema sidecar is REQUIRED (loader.rs:118-130)
                            raise FileNotFoundError(
                                f"Missing schema file for parquet table: {schema_path}"
                            )
                        with open(schema_path) as f:
                            columns = json.load(f)
                        parquet_files.append(
                            {
                                "project": project,
                                "dataset": dataset,
                                "table": table,
                                "path": fpath,
                                "columns": columns,
                            }
                        )
                    elif ext == ".sql":
                        with open(fpath) as f:
                            sql = f.read()
                        sql_files.append(
                            {
                                "project": project,
                                "dataset": dataset,
                                "table": table,
                                "path": fpath,
                                "sql": sql,
                            }
                        )
        return parquet_files, sql_files

    def load_parquet_directory(self, root: str) -> dict:
        """Result entries use the reference's ParquetTableInfo shape
        (src/rpc/types.rs:464-472)."""
        parquet_files, _ = self.discover_files(root)
        loaded = []
        for pf in parquet_files:
            name = f"{pf['project']}.{pf['dataset']}.{pf['table']}"
            count = self.load_parquet(name, pf["path"], pf["columns"])
            loaded.append(
                {
                    "project": pf["project"],
                    "dataset": pf["dataset"],
                    "table": pf["table"],
                    "path": pf["path"],
                    "rowCount": count,
                }
            )
        return {"tables": loaded}

    def load_sql_directory(self, root: str) -> dict:
        """Result entries use the reference's SqlTableInfo shape
        (src/rpc/types.rs:440-446)."""
        _, sql_files = self.discover_files(root)
        defs, infos = [], []
        for sf in sql_files:
            defs.append(
                {"name": f"{sf['project']}.{sf['dataset']}.{sf['table']}", "sql": sf["sql"]}
            )
            infos.append(
                {
                    "project": sf["project"],
                    "dataset": sf["dataset"],
                    "table": sf["table"],
                    "path": sf["path"],
                }
            )
        self.pipeline.register(defs)
        return {"tables": infos}

    def load_dag_from_directory(self, root: str) -> dict:
        """S3 + S4 in one call (reference src/session/manager.rs:368-412)."""
        parquet_result = self.load_parquet_directory(root)
        sql_result = self.load_sql_directory(root)
        return {
            "sourceTables": parquet_result["tables"],
            "computedTables": sql_result["tables"],
            "dagInfo": self.pipeline.get_dag(),
        }

    # -- teardown ----------------------------------------------------------

    def destroy(self) -> None:
        """Drop every temp view carrying the session's tag (the table
        entries' views and the information_schema views alike) and the
        session's warehouse directory."""
        prefix = f"{self._tag}__"
        with self._lock:
            for t in self.spark.catalog.listTables():
                if t.isTemporary and t.name.startswith(prefix):
                    self.spark.catalog.dropTempView(t.name)
            self.tables.clear()
            shutil.rmtree(self._warehouse, ignore_errors=True)


class SessionManager:
    """uuid → Session map (reference src/session/manager.rs:16-24)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._sessions: dict[str, Session] = {}
        self._lock = threading.RLock()

    def create_session(self) -> str:
        with self._lock:
            s = Session(self.spark)
            self._sessions[s.session_id] = s
            return s.session_id

    def get_session(self, session_id: str) -> Session:
        with self._lock:
            if session_id not in self._sessions:
                raise KeyError(f"Session not found: {session_id}")
            return self._sessions[session_id]

    def destroy_session(self, session_id: str) -> None:
        with self._lock:
            s = self._sessions.pop(session_id, None)
        if s is None:
            raise KeyError(f"Session not found: {session_id}")
        s.destroy()

    def session_count(self) -> int:
        with self._lock:
            return len(self._sessions)
