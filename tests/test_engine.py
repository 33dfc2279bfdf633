"""Session engine: isolation, catalog, loaders, result marshalling —
ports manager.rs + client_test.clj observable semantics."""

import datetime
import json
import os

import pytest

from bq_duckdb_spark.engine import Session
from bq_duckdb_spark.result import to_bq_response
from tests.conftest import rows


def test_session_isolation(manager):
    """Same table name in two sessions never collides
    (manager.rs:477-521)."""
    id1, id2 = manager.create_session(), manager.create_session()
    s1, s2 = manager.get_session(id1), manager.get_session(id2)
    try:
        s1.create_table("users", [{"name": "id", "type": "INT64"}])
        s1.insert("users", [[1]])
        s2.create_table("users", [{"name": "id", "type": "INT64"}])
        s2.insert("users", [[1], [2]])
        assert rows(s1.query("SELECT count(*) AS c FROM users")) == [(1,)]
        assert rows(s2.query("SELECT count(*) AS c FROM users")) == [(2,)]
    finally:
        manager.destroy_session(id1)
        manager.destroy_session(id2)


def test_destroy_session_drops_everything(manager):
    sid = manager.create_session()
    s = manager.get_session(sid)
    s.create_table("t", [{"name": "id", "type": "INT64"}])
    manager.destroy_session(sid)
    with pytest.raises(KeyError):
        manager.get_session(sid)


def test_destroy_drops_every_session_view(spark, manager):
    """destroy leaves no temp view carrying the session's tag, including
    the information_schema views a query registers."""
    sid = manager.create_session()
    s = manager.get_session(sid)
    s.create_table("t", [{"name": "id", "type": "INT64"}])
    s.query("SELECT table_name FROM information_schema.tables").collect()
    prefix = f"{s._tag}__"

    def tagged():
        return [
            t.name for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith(prefix)
        ]

    assert len(tagged()) == 3
    manager.destroy_session(sid)
    assert tagged() == []


def test_insert_dict_and_list_rows(session):
    session.create_table(
        "t", [{"name": "id", "type": "INT64"}, {"name": "name", "type": "STRING"}]
    )
    n = session.insert("t", [[1, "a"], {"name": "b", "id": 2}, {"id": 3}])
    assert n == 3
    got = rows(session.query("SELECT id, name FROM t ORDER BY id"))
    assert got == [(1, "a"), (2, "b"), (3, None)]


def test_qualified_names_and_default_project(session):
    """3-level names + default project resolution
    (manager.rs:1069-1138, executor/mod.rs:105-124)."""
    session.create_table("proj1.ds1.tbl", [{"name": "id", "type": "INT64"}])
    session.insert("proj1.ds1.tbl", [[1]])
    assert rows(session.query("SELECT id FROM proj1.ds1.tbl")) == [(1,)]
    session.default_project = "proj1"
    assert rows(session.query("SELECT id FROM ds1.tbl")) == [(1,)]


def test_catalog_listing(session):
    """get_projects upper-cases project names (manager.rs:1115-1119)."""
    for p in ["proj1", "proj2"]:
        for d in ["ds1", "ds2"]:
            session.create_table(f"{p}.{d}.t0", [{"name": "id", "type": "INT64"}])
    assert session.get_projects() == ["PROJ1", "PROJ2"]
    assert session.get_datasets("proj1") == ["ds1", "ds2"]
    assert session.get_tables_in_dataset("proj1", "ds2") == ["t0"]


def test_list_and_describe(session):
    session.create_table("t", [{"name": "id", "type": "INT64"}])
    session.insert("t", [[1], [2]])
    lst = session.list_tables()
    assert {"name": "t", "rowCount": 2} in lst
    desc = session.describe_table("t")
    assert desc["columns"] == [{"name": "id", "type": "INT64"}]
    assert desc["rowCount"] == 2


def test_parquet_load_roundtrip(session, tmp_path):
    """6-type schema incl. NULL, Date32, TimestampMicros — the
    manager.rs:524-655 fixture."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "id": pa.array([1, 2, 3], pa.int64()),
            "name": pa.array(["Alice", "Bob", None], pa.string()),
            "score": pa.array([95.5, 87.3, 92.1], pa.float64()),
            "active": pa.array([True, False, True], pa.bool_()),
            "created_date": pa.array([19000, 19001, 19002], pa.date32()),
            "updated_at": pa.array(
                [1640000000000000, 1640000001000000, 1640000002000000],
                pa.timestamp("us"),
            ),
        }
    )
    path = str(tmp_path / "users.parquet")
    pq.write_table(table, path)
    columns = [
        {"name": "id", "type": "INT64"},
        {"name": "name", "type": "STRING"},
        {"name": "score", "type": "FLOAT64"},
        {"name": "active", "type": "BOOL"},
        {"name": "created_date", "type": "DATE"},
        {"name": "updated_at", "type": "TIMESTAMP"},
    ]
    count = session.load_parquet("users", path, columns)
    assert count == 3
    got = rows(session.query("SELECT id, name, created_date FROM users ORDER BY id"))
    assert got[0][1] == "Alice" and got[2][1] is None
    assert got[0][2] == datetime.date(1970, 1, 1) + datetime.timedelta(days=19000)


def _write_tree(tmp_path, with_schema=True):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "proj" / "raw"
    d.mkdir(parents=True)
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64())}), str(d / "users.parquet")
    )
    if with_schema:
        (d / "users.schema.json").write_text(json.dumps([{"name": "id", "type": "INT64"}]))
    (d / "doubled.sql").write_text("SELECT id * 2 AS id FROM proj.raw.users")
    return tmp_path


def test_load_dag_from_directory(session, tmp_path):
    """parquet → source tables, .sql → derived DAG tables, deps inferred
    (manager.rs:368-412)."""
    root = str(_write_tree(tmp_path))
    out = session.load_dag_from_directory(root)
    (src,) = out["sourceTables"]
    assert (src["project"], src["dataset"], src["table"], src["rowCount"]) == (
        "proj", "raw", "users", 2)
    (comp,) = out["computedTables"]
    assert (comp["project"], comp["dataset"], comp["table"]) == ("proj", "raw", "doubled")
    deps = {t["name"]: t["dependencies"] for t in out["dagInfo"]["tables"]}
    # parquet tables are engine tables, not DAG nodes — deps only track
    # registered DAG tables (reference manager.rs:368-412 registers only
    # the .sql files in the DAG)
    assert deps["proj.raw.doubled"] == []
    res = session.pipeline.run()
    assert res.success
    got = rows(session.query("SELECT id FROM proj.raw.doubled ORDER BY id"))
    assert got == [(2,), (4,)]


def test_missing_schema_sidecar_errors(session, tmp_path):
    """schema.json sidecar is REQUIRED (loader.rs:118-130)."""
    root = str(_write_tree(tmp_path, with_schema=False))
    with pytest.raises(FileNotFoundError, match="schema"):
        session.load_parquet_directory(root)


def test_bq_response_shape(session):
    """BigQuery queryResponse golden shape (client_test.clj:56-64:
    kind, totalRows as string, rows[].f[].v)."""
    df = session.query("SELECT 1 AS x, 'hello' AS greeting")
    resp = to_bq_response(df)
    assert resp["kind"] == "bigquery#queryResponse"
    assert resp["jobComplete"] is True
    assert resp["totalRows"] == "1"
    # exactly {name, type} per field — the reference adds no mode
    # (yachtsql.rs:209-213)
    assert resp["schema"]["fields"] == [
        {"name": "x", "type": "INT64"},
        {"name": "greeting", "type": "STRING"},
    ]
    assert resp["rows"] == [{"f": [{"v": 1}, {"v": "hello"}]}]


def test_bq_response_value_encodings(session):
    df = session.query(
        "SELECT CAST(NULL AS STRING) AS s, true AS b, CAST(1.5 AS FLOAT64) AS f, "
        "1.5 AS dec, DATE '2024-01-02' AS d, [1, 2] AS arr, STRUCT(1 AS x) AS st"
    )
    resp = to_bq_response(df)
    vals = [cell["v"] for cell in resp["rows"][0]["f"]]
    assert vals[0] is None
    assert vals[1] is True
    assert vals[2] == 1.5
    assert vals[3] == "1.5"  # bare 1.5 parses as DECIMAL → string encoding
    assert vals[4] == "2024-01-02"
    assert vals[5] == [1, 2]
    assert vals[6] == {"x": 1}


def test_create_table_via_sql(session):
    """CREATE-style DDL through the engine API (the reference generates
    DDL from bq.createTable; we accept the API form)."""
    session.create_table("t2", [{"name": "a", "type": "STRING"}], if_not_exists=True)
    session.create_table("t2", [{"name": "a", "type": "STRING"}], if_not_exists=True)
    assert rows(session.query("SELECT count(*) AS c FROM t2")) == [(0,)]


def test_concurrent_inserts_one_session(session):
    """Concurrent DDL/DML within one session must be safe
    (manager.rs:1015-1067)."""
    from concurrent.futures import ThreadPoolExecutor

    def make_table(i):
        name = f"par_{i}"
        session.create_table(name, [{"name": "v", "type": "INT64"}])
        session.insert(name, [[i]])
        return rows(session.query(f"SELECT v FROM {name}"))[0][0]

    with ThreadPoolExecutor(max_workers=8) as pool:
        got = sorted(pool.map(make_table, range(12)))
    assert got == list(range(12))


def test_parallel_dag_runs_across_sessions(manager):
    """Independent sessions can run DAGs concurrently
    (manager.rs:659-777)."""
    from concurrent.futures import ThreadPoolExecutor

    ids = [manager.create_session() for _ in range(3)]
    try:
        def build_and_run(sid):
            s = manager.get_session(sid)
            s.pipeline.register([
                {"name": "base", "schema": [{"name": "v", "type": "INT64"}],
                 "rows": [[i] for i in range(100)]},
                {"name": "agg", "sql": "SELECT sum(v) AS s, count(*) AS c FROM base"},
            ])
            res = s.pipeline.run()
            assert res.success
            return rows(s.query("SELECT s, c FROM agg"))[0]

        with ThreadPoolExecutor(max_workers=3) as pool:
            results = list(pool.map(build_and_run, ids))
        # SUM(0..99)=4950, COUNT=100 in every isolated session
        assert results == [(4950, 100)] * 3
    finally:
        for sid in ids:
            manager.destroy_session(sid)


def test_load_parquet_nanos_timestamp(session, tmp_path):
    """User parquet with TIMESTAMP(NANOS) loads (as epoch-nanos long)
    instead of erroring."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))})
    p = str(tmp_path / "ns.parquet")
    pq.write_table(t, p)
    n = session.load_parquet("ns_tbl", p)
    assert n == 1
    assert rows(session.query("SELECT ts FROM ns_tbl")) == [(1_700_000_000_000_000_000,)]


def test_bytes_base64_wire_encoding(session):
    """BYTES values encode as base64 on the wire (yachtsql.rs:311-335)."""
    session.create_table("blobs", [{"name": "b", "type": "BYTES"}])
    session.insert("blobs", [[b"hi"]])
    resp = to_bq_response(session.query("SELECT b FROM blobs"))
    assert resp["rows"][0]["f"][0]["v"] == "aGk="  # base64("hi")
    assert resp["schema"]["fields"][0]["type"] == "BYTES"


def test_numeric_decimal_roundtrip(session):
    """NUMERIC is DECIMAL(38,9): exact decimal arithmetic, string wire
    encoding (yachtsql.rs:261,285)."""
    import decimal

    session.create_table("money", [{"name": "amt", "type": "NUMERIC"}])
    session.insert("money", [[decimal.Decimal("0.1")], [decimal.Decimal("0.2")]])
    got = session.query("SELECT sum(amt) AS s FROM money").collect()[0].s
    assert got == decimal.Decimal("0.3")  # exact, no float drift
    resp = to_bq_response(session.query("SELECT sum(amt) AS s FROM money"))
    assert resp["rows"][0]["f"][0]["v"] == "0.300000000"


def test_insert_plan_depth_is_bounded(session):
    """Many inserts must not grow the view's union lineage: past a small
    depth the table rebases onto an appendable parquet dir, so analysis
    cost is flat no matter how many batches a long-lived session takes
    (mirrors the reference's append semantics, dag_test.clj:240-258, at
    a batch count that would expose a quadratic plan blowup)."""
    import time

    session.create_table("bulk", [{"name": "id", "type": "INT64"}])
    t0 = time.time()
    n_batches = 60
    for i in range(n_batches):
        session.insert("bulk", [[i * 2], [i * 2 + 1]])
    elapsed = time.time() - t0
    df = session.table("bulk")
    assert df.count() == n_batches * 2
    # after rebase the view is a parquet scan, not an N-deep union
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "Union" not in plan
    entry = session.tables["bulk"]
    assert entry.insert_dir is not None
    # sum matches so no batch was lost across rebase/appends
    got = rows(session.query("SELECT sum(id) AS s, count(*) AS c FROM bulk"))
    assert got == [(sum(range(n_batches * 2)), n_batches * 2)]
    # generous wall-clock bound: the old union path went quadratic here
    assert elapsed < 90, f"60 insert batches took {elapsed:.1f}s"


def test_insert_compaction_keeps_rows(session):
    """File compaction rewrites the insert dir without losing rows."""
    session.create_table("cmp", [{"name": "id", "type": "INT64"}])
    session.tables["cmp"].union_depth = Session._INSERT_UNION_MAX  # force rebase now
    old_every = Session._INSERT_COMPACT_EVERY
    Session._INSERT_COMPACT_EVERY = 5
    try:
        for i in range(12):
            session.insert("cmp", [[i]])
    finally:
        Session._INSERT_COMPACT_EVERY = old_every
    assert rows(session.query("SELECT count(*) AS c, sum(id) AS s FROM cmp")) == [
        (12, sum(range(12)))
    ]
    assert session.tables["cmp"].insert_files < 5


def test_rewrite_and_reload_delete_insert_dir(session, tmp_path):
    """Once inserts live in an insert directory, an UPDATE (snapshot
    rewrite) or a loader replacing the table leaves no orphan of it."""
    cols = [{"name": "id", "type": "INT64"}, {"name": "v", "type": "INT64"}]
    session.create_table("t", cols)

    def insert_past_union_max(base: int) -> None:
        for i in range(base, base + Session._INSERT_UNION_MAX + 2):
            session.insert("t", [[i, i * 10]])
        assert session.tables["t"].insert_dir is not None

    def insert_dirs() -> list[str]:
        return [d for d in os.listdir(session._warehouse) if "__ins" in d]

    insert_past_union_max(0)
    session.query("UPDATE t SET v = v + 1 WHERE id < 5")
    assert insert_dirs() == []
    assert rows(session.query("SELECT id, v FROM t ORDER BY id")) == [
        (i, i * 10 + (i < 5)) for i in range(10)
    ]
    insert_past_union_max(10)
    path = str(tmp_path / "t.parquet")
    session.spark.createDataFrame([(7, 70)], "id long, v long").write.parquet(path)
    assert session.load_parquet("t", path, cols) == 1
    assert insert_dirs() == []
    assert rows(session.query("SELECT id, v FROM t")) == [(7, 70)]


def test_bq_response_wire_type_names(session):
    """Wire schema uses the reference's type vocabulary
    (yachtsql.rs:256-276): BOOLEAN not BOOL, NUMERIC for any decimal,
    bare STRUCT, ARRAY<> recursing on the element name."""
    df = session.query(
        "SELECT true AS b, 1.5 AS n, STRUCT(1 AS x) AS st, "
        "[STRUCT(1 AS y)] AS arr_st, [1, 2] AS arr_i"
    )
    fields = {f["name"]: f["type"] for f in to_bq_response(df)["schema"]["fields"]}
    assert fields == {
        "b": "BOOLEAN",
        "n": "NUMERIC",
        "st": "STRUCT",
        "arr_st": "ARRAY<STRUCT>",
        "arr_i": "ARRAY<INT64>",
    }


def test_create_table_sql_nested_types(session):
    """SQL CREATE TABLE must split columns angle-bracket-aware:
    'b STRUCT<x INT64, y STRING>' is one column, not two bogus ones."""
    session.query(
        "CREATE TABLE nested (a INT64, b STRUCT<x INT64, y STRING>, "
        "c ARRAY<STRUCT<p INT64, q STRING>>)"
    )
    cols = {c["name"]: c["type"] for c in session.tables["nested"].columns}
    assert set(cols) == {"a", "b", "c"}
    assert cols["b"].upper().replace(" ", "") == "STRUCT<XINT64,YSTRING>"
    session.query(
        "INSERT INTO nested VALUES (1, STRUCT(2, 'z'), [STRUCT(3, 'w')])"
    )
    got = rows(session.query("SELECT a, b.y AS by, c[OFFSET(0)].p AS cp FROM nested"))
    assert got == [(1, "z", 3)]


def test_insert_rejects_surplus_positional_values(session):
    """Round-7 review fix: a positional row with MORE values than the
    table has columns must error loudly — zip-truncation silently lost
    the surplus (too-few already errors; both directions stay loud)."""
    session.create_table(
        "narrow_t", [{"name": "id", "type": "INT64"}, {"name": "v", "type": "STRING"}]
    )
    with pytest.raises(ValueError, match="3 values for 2 columns"):
        session.insert("narrow_t", [[1, "a", "surplus"]])
    # nothing was written
    assert rows(session.query("SELECT count(*) AS c FROM narrow_t")) == [(0,)]


def test_inserted_and_created_tables_are_local_relations(session):
    """bq.createTable, bq.insert batches, statement results and
    information_schema are in-memory LocalRelations, not pickled Python
    RDDs: scanning them runs no Python-worker task."""

    def leaves(df):
        seq = df._jdf.queryExecution().analyzed().collectLeaves()
        return [seq.apply(i).getClass().getSimpleName() for i in range(seq.size())]

    session.create_table(
        "lr_t", [{"name": "id", "type": "INT64"}, {"name": "s", "type": "STRING"}]
    )
    for i in range(3):
        session.insert("lr_t", [[i, "a"], [i + 10, None]])
    created = session.query("CREATE TABLE lr_tmp (x INT64)")
    dropped = session.query("DROP TABLE lr_tmp")
    assert leaves(session.table("lr_t")) == ["LocalRelation"] * 4
    for df in (created, dropped, session._empty_result()):
        assert df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    info = session.query("SELECT table_name FROM information_schema.tables")
    assert "LogicalRDD" not in leaves(info)
    assert rows(info) == [("lr_t",)]
    assert rows(session.query("SELECT count(*), sum(id) FROM lr_t")) == [(6, 36)]
