"""DDL/DML as SQL text through Session.query (SURVEY §2.9 D1-D7) —
the statement forms the reference itself generates (methods.rs:99-148,
pipeline.rs:498-593, yachtsql.rs:64-141)."""

import pytest

from tests.conftest import rows


def test_create_insert_select(session):
    """D1 + D5: CREATE TABLE (col TYPE), multi-row INSERT VALUES."""
    session.query("CREATE TABLE users (id INT64, name STRING)")
    session.query("INSERT INTO users VALUES (1, 'Alice'), (2, 'Bob')")
    got = rows(session.query("SELECT id, name FROM users ORDER BY id"))
    assert got == [(1, "Alice"), (2, "Bob")]


def test_create_if_not_exists(session):
    """D2 (pipeline.rs:565-570)."""
    session.query("CREATE TABLE t (v INT64)")
    session.query("INSERT INTO t VALUES (1)")
    session.query("CREATE TABLE IF NOT EXISTS t (v INT64)")  # no-op, keeps rows
    assert rows(session.query("SELECT count(*) AS c FROM t")) == [(1,)]


def test_create_or_replace(session):
    """D3 (yachtsql.rs:64-68): replace drops prior contents."""
    session.query("CREATE TABLE t (v INT64)")
    session.query("INSERT INTO t VALUES (1)")
    session.query("CREATE OR REPLACE TABLE t (v INT64, extra STRING)")
    assert rows(session.query("SELECT count(*) AS c FROM t")) == [(0,)]
    assert session.describe_table("t")["columns"] == [
        {"name": "v", "type": "INT64"},
        {"name": "extra", "type": "STRING"},
    ]


def test_drop_table(session):
    """D4 (pipeline.rs:498,517)."""
    session.query("CREATE TABLE t (v INT64)")
    session.query("DROP TABLE IF EXISTS t")
    session.query("DROP TABLE IF EXISTS t")  # idempotent
    with pytest.raises(Exception):
        session.query("SELECT * FROM t").collect()


def test_ctas_snapshot(session):
    """CREATE TABLE AS SELECT materializes a snapshot."""
    session.query("CREATE TABLE src (v INT64)")
    session.query("INSERT INTO src VALUES (1), (2), (3)")
    session.query("CREATE OR REPLACE TABLE doubled AS SELECT v * 2 AS v FROM src")
    assert rows(session.query("SELECT v FROM doubled ORDER BY v")) == [(2,), (4,), (6,)]
    # snapshot: later source inserts don't leak in
    session.query("INSERT INTO src VALUES (10)")
    assert rows(session.query("SELECT count(*) AS c FROM doubled")) == [(3,)]


def test_insert_select(session):
    session.query("CREATE TABLE a (v INT64)")
    session.query("INSERT INTO a VALUES (1), (2)")
    session.query("CREATE TABLE b (v INT64)")
    session.query("INSERT INTO b SELECT v * 10 AS v FROM a")
    assert rows(session.query("SELECT v FROM b ORDER BY v")) == [(10,), (20,)]


def test_qualified_ddl(session):
    """D6 (manager.rs:1087-1093)."""
    session.query("CREATE TABLE proj.ds.tbl (id INT64, data STRING)")
    session.query("INSERT INTO proj.ds.tbl VALUES (1, 'x')")
    assert rows(session.query("SELECT id FROM proj.ds.tbl")) == [(1,)]
    assert session.get_projects() == ["PROJ"]


def test_insert_values_cast_to_schema(session):
    """Positional insert coerces literal types to the declared schema."""
    session.query("CREATE TABLE t (v FLOAT64, d DATE)")
    session.query("INSERT INTO t VALUES (1, '2024-01-02')")
    r = session.query("SELECT v, CAST(d AS STRING) AS d FROM t").collect()[0]
    assert r.v == 1.0 and r.d == "2024-01-02"


def test_information_schema_tables(session):
    """D7 (yachtsql.rs:119-141): list via information_schema.tables."""
    session.query("CREATE TABLE aaa (v INT64)")
    session.query("CREATE TABLE bbb (v INT64, w STRING)")
    got = rows(session.query(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = 'public' ORDER BY table_name"))
    assert got == [("aaa",), ("bbb",)]


def test_information_schema_columns(session):
    session.query("CREATE TABLE t (id INT64, name STRING)")
    got = rows(session.query(
        "SELECT column_name, data_type, ordinal_position "
        "FROM information_schema.columns WHERE table_name = 't' "
        "ORDER BY ordinal_position"))
    assert got == [("id", "INT64", 1), ("name", "STRING", 2)]


def test_dag_with_sql_ddl_interop(session):
    """Tables created via SQL DDL are visible to DAG-registered SQL."""
    session.query("CREATE TABLE base (v INT64)")
    session.query("INSERT INTO base VALUES (5)")
    session.pipeline.register([{"name": "derived", "sql": "SELECT v + 1 AS v FROM base"}])
    res = session.pipeline.run()
    assert res.success
    assert rows(session.query("SELECT v FROM derived")) == [(6,)]


def test_delete_where(session):
    """DELETE FROM … WHERE (statement recognized by the reference's
    scanner, pipeline.rs:676-679)."""
    session.query("CREATE TABLE t (v INT64)")
    session.query("INSERT INTO t VALUES (1), (2), (3), (4)")
    session.query("DELETE FROM t WHERE v % 2 = 0")
    assert rows(session.query("SELECT v FROM t ORDER BY v")) == [(1,), (3,)]


def test_delete_keeps_rows_whose_condition_is_null(session):
    """DELETE removes only rows whose condition is TRUE: a NULL
    comparison keeps the row, as in BigQuery and DuckDB."""
    session.query("CREATE TABLE t (k INT64, v INT64)")
    session.query("INSERT INTO t VALUES (1, 1), (2, 5), (3, NULL)")
    session.query("DELETE FROM t WHERE v > 2")
    assert rows(session.query("SELECT k, v FROM t ORDER BY k")) == [(1, 1), (3, None)]


def test_delete_all(session):
    session.query("CREATE TABLE t (v INT64)")
    session.query("INSERT INTO t VALUES (1)")
    session.query("DELETE FROM t")
    assert rows(session.query("SELECT count(*) AS c FROM t")) == [(0,)]


def test_update_set_where(session):
    session.query("CREATE TABLE t (v INT64, tag STRING)")
    session.query("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    session.query("UPDATE t SET tag = 'big', v = v * 10 WHERE v >= 2")
    got = rows(session.query("SELECT v, tag FROM t ORDER BY v"))
    assert got == [(1, "a"), (20, "big"), (30, "big")]


def test_update_without_where_hits_all(session):
    session.query("CREATE TABLE t (v INT64)")
    session.query("INSERT INTO t VALUES (1), (2)")
    session.query("UPDATE t SET v = v + 100")
    assert rows(session.query("SELECT v FROM t ORDER BY v")) == [(101,), (102,)]


@pytest.mark.parametrize(
    "stmt, want",
    [
        (
            "DELETE FROM t WHERE id IN (SELECT o.id FROM other o WHERE o.v > 200)",
            [(1, 10)],
        ),
        (
            "UPDATE t SET v = (SELECT MAX(o.v) FROM other o) WHERE id = 1",
            [(1, 300), (2, 20), (3, 30)],
        ),
        (
            "MERGE INTO t USING other ON t.id = other.id "
            "WHEN MATCHED THEN UPDATE SET v = (SELECT MIN(x.v) FROM other x)",
            [(1, 100), (2, 100), (3, 100)],
        ),
    ],
    ids=["delete_where", "update_set", "merge_set"],
)
def test_dml_subquery_table_alias(session, stmt, want):
    """An aliased table inside a DML expression's subquery is spelled
    ``<view> AS <alias>``, as in a plain query."""
    session.query("CREATE TABLE t (id INT64, v INT64)")
    session.query("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)")
    session.query("CREATE TABLE other (id INT64, v INT64)")
    session.query("INSERT INTO other VALUES (1, 100), (2, 300), (3, 250)")
    session.query(stmt)
    assert rows(session.query("SELECT id, v FROM t ORDER BY id")) == want


def test_merge_update_and_insert(session):
    """MERGE: upsert — matched rows update, unmatched source rows insert."""
    session.query("CREATE TABLE tgt (k INT64, v STRING)")
    session.query("INSERT INTO tgt VALUES (1, 'old1'), (2, 'old2')")
    session.query("CREATE TABLE src (k INT64, v STRING)")
    session.query("INSERT INTO src VALUES (2, 'new2'), (3, 'new3')")
    session.query(
        "MERGE INTO tgt USING src ON tgt.k = src.k "
        "WHEN MATCHED THEN UPDATE SET v = src.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)")
    got = rows(session.query("SELECT k, v FROM tgt ORDER BY k"))
    assert got == [(1, "old1"), (2, "new2"), (3, "new3")]


def test_merge_delete_matched(session):
    session.query("CREATE TABLE tgt (k INT64)")
    session.query("INSERT INTO tgt VALUES (1), (2), (3)")
    session.query("CREATE TABLE dels (k INT64)")
    session.query("INSERT INTO dels VALUES (2)")
    session.query("MERGE INTO tgt USING dels ON tgt.k = dels.k "
                  "WHEN MATCHED THEN DELETE")
    assert rows(session.query("SELECT k FROM tgt ORDER BY k")) == [(1,), (3,)]


def test_merge_insert_only(session):
    session.query("CREATE TABLE tgt (k INT64, v STRING)")
    session.query("INSERT INTO tgt VALUES (1, 'a')")
    session.query("CREATE TABLE src (k INT64, v STRING)")
    session.query("INSERT INTO src VALUES (1, 'dup'), (9, 'nine')")
    session.query("MERGE INTO tgt USING src ON tgt.k = src.k "
                  "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)")
    got = rows(session.query("SELECT k, v FROM tgt ORDER BY k"))
    assert got == [(1, "a"), (9, "nine")]  # matched row untouched


def test_merge_with_aliases(session):
    session.query("CREATE TABLE tgt (k INT64, v INT64)")
    session.query("INSERT INTO tgt VALUES (1, 10)")
    session.query("CREATE TABLE src (k INT64, delta INT64)")
    session.query("INSERT INTO src VALUES (1, 5)")
    session.query("MERGE INTO tgt AS t USING src AS s ON t.k = s.k "
                  "WHEN MATCHED THEN UPDATE SET v = t.v + s.delta")
    assert rows(session.query("SELECT v FROM tgt")) == [(15,)]


@pytest.mark.parametrize(
    "merge, want",
    [
        (
            "MERGE INTO t USING src ON t.id = src.id "
            "WHEN MATCHED THEN UPDATE SET v = CASE WHEN src.v > 0 THEN src.v ELSE 0 END",
            [(1, 0), (2, 5)],
        ),
        (
            "MERGE INTO t USING src ON t.id = src.id "
            "WHEN NOT MATCHED THEN INSERT (id, v) "
            "VALUES (src.id, CASE WHEN src.v > 0 THEN src.v ELSE 0 END)",
            [(1, 10), (2, 20), (3, 0), (4, 8)],
        ),
        (
            "MERGE INTO t USING src "
            "ON t.id = src.id AND (CASE WHEN src.v > 0 THEN TRUE ELSE FALSE END) "
            "WHEN MATCHED THEN UPDATE SET v = src.v "
            "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)",
            [(1, -1), (1, 10), (2, 5), (3, -7), (4, 8)],
        ),
    ],
    ids=["update_set", "insert_values", "on_condition"],
)
def test_merge_with_case_when(session, merge, want):
    """CASE WHEN inside a MERGE is not a WHEN [NOT] MATCHED clause."""
    session.query("CREATE TABLE t (id INT64, v INT64)")
    session.query("INSERT INTO t VALUES (1, 10), (2, 20)")
    session.query("CREATE TABLE src (id INT64, v INT64)")
    session.query("INSERT INTO src VALUES (1, -1), (2, 5), (3, -7), (4, 8)")
    session.query(merge)
    assert rows(session.query("SELECT id, v FROM t ORDER BY id, v")) == want


def test_merge_unknown_update_column_errors(session):
    session.query("CREATE TABLE tgt (k INT64)")
    session.query("CREATE TABLE src2 (k INT64)")
    with pytest.raises(ValueError, match="unknown column"):
        session.query("MERGE INTO tgt USING src2 ON tgt.k = src2.k "
                      "WHEN MATCHED THEN UPDATE SET nope = 1")


def test_merge_multiple_source_matches_errors(session):
    """BigQuery cardinality rule: one target row matched by two source
    rows in an UPDATE merge must error, not duplicate."""
    session.query("CREATE TABLE mt (k INT64, v STRING)")
    session.query("INSERT INTO mt VALUES (1, 'old')")
    session.query("CREATE TABLE ms (k INT64, v STRING)")
    session.query("INSERT INTO ms VALUES (1, 'a'), (1, 'b')")
    with pytest.raises(Exception, match="more than one"):
        session.query(
            "MERGE INTO mt USING ms ON mt.k = ms.k "
            "WHEN MATCHED THEN UPDATE SET v = ms.v"
        )
    # target must be untouched after the failed merge
    assert rows(session.query("SELECT k, v FROM mt")) == [(1, "old")]


def test_merge_insert_only_allows_duplicate_sources(session):
    """INSERT-only merges have no per-target cardinality constraint."""
    session.query("CREATE TABLE it (k INT64)")
    session.query("INSERT INTO it VALUES (1)")
    session.query("CREATE TABLE isrc (k INT64)")
    session.query("INSERT INTO isrc VALUES (1), (1), (5)")
    session.query(
        "MERGE INTO it USING isrc ON it.k = isrc.k "
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (isrc.k)"
    )
    assert rows(session.query("SELECT k FROM it ORDER BY k")) == [(1,), (5,)]
