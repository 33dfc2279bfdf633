"""The columnar query-result encoder (``result.to_bq_json``) against a
row-at-a-time reference: ``df.collect()``, ``_encode_value`` per cell and
``json.dumps`` of the whole response, the encoding the wire format was
first pinned with. Every probe must match byte for byte, across the type
matrix: NULLs, non-finite and extreme floats, decimals, timestamps,
nested values, maps, VARIANT, duplicate names and empty results."""

import json
import time

import pytest

from bq_duckdb_spark import types as bqtypes
from bq_duckdb_spark.engine import Session, SessionManager
from bq_duckdb_spark.result import _encode_value, _wire_type, to_bq_json, to_bq_response
from bq_duckdb_spark.server import RpcServer


def _reference(df) -> str:
    rows = [[_encode_value(v) for v in row] for row in df.collect()]
    return json.dumps(
        {
            "kind": "bigquery#queryResponse",
            "schema": {
                "fields": [
                    {"name": c["name"], "type": _wire_type(c["type"])}
                    for c in bqtypes.columns_from_schema(df.schema)
                ]
            },
            "rows": [{"f": [{"v": v} for v in row]} for row in rows],
            "totalRows": str(len(rows)),
            "jobComplete": True,
        }
    )


@pytest.fixture(autouse=True)
def _utc_host(monkeypatch):
    """``collect`` renders TIMESTAMP in the host zone; the reference is
    only right on a UTC host."""
    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.fixture(scope="module")
def bq(spark):
    s = Session(spark)
    yield s
    s.destroy()


PROBES = {
    "null_row_every_scalar": (
        "SELECT * FROM UNNEST([1, 2]) AS k CROSS JOIN (SELECT "
        "CAST(NULL AS BIGINT) i, CAST(NULL AS BOOLEAN) b, CAST(NULL AS DOUBLE) f, "
        "CAST(NULL AS FLOAT) f4, CAST(NULL AS STRING) s, CAST(NULL AS TIMESTAMP) t, "
        "CAST(NULL AS TIMESTAMP_NTZ) dt, CAST(NULL AS DATE) d, "
        "CAST(NULL AS DECIMAL(38,9)) n, CAST(NULL AS BINARY) y, "
        "CAST(NULL AS INTERVAL DAY TO SECOND) iv, NULL AS nul)"
    ),
    "scalars_next_to_nulls": (
        "SELECT IF(x = 2, NULL, x) i, IF(x = 2, NULL, x > 1) b, IF(x = 2, NULL, x / 4) f, "
        "IF(x = 2, NULL, CONCAT('s', x)) s, "
        "IF(x = 2, NULL, TIMESTAMP '2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, x)) t "
        "FROM UNNEST([1, 2, 3]) AS x"
    ),
    "floats": (
        "SELECT * FROM UNNEST([CAST('NaN' AS DOUBLE), CAST('inf' AS DOUBLE), "
        "CAST('-inf' AS DOUBLE), -0.0, 5e-324, 1e300, 0.1, 1.0, 1e16, "
        "123456789012345678.0, CAST(NULL AS DOUBLE)]) AS f"
    ),
    "float32": "SELECT CAST(1.5 AS FLOAT) a, CAST('NaN' AS FLOAT) b, CAST(0.1 AS FLOAT) c",
    "ints_and_bools": (
        "SELECT CAST(1 AS TINYINT) a, CAST(-2 AS SMALLINT) b, CAST(3 AS INT) c, "
        "9223372036854775807 d, -9223372036854775808 e, true t, false f"
    ),
    "decimals": (
        "SELECT CAST(0 AS DECIMAL(38,9)) zero, CAST(1E-9 AS DECIMAL(38,9)) tiny, "
        "CAST(-12345678901234567890123456789.123456789 AS DECIMAL(38,9)) big_neg, "
        "CAST(1.5 AS DECIMAL(10,2)) small"
    ),
    "timestamps": (
        "SELECT TIMESTAMP '2024-01-02 03:04:05' whole, "
        "TIMESTAMP '2024-01-02 03:04:05.123456' micros, "
        "TIMESTAMP '2024-01-02 03:04:05.5' half, "
        "TIMESTAMP '0099-03-04 05:06:07.000001' y0099, "
        "TIMESTAMP '1969-12-31 23:59:59.999999' pre_epoch, "
        "TIMESTAMP '9999-12-31 23:59:59.999999' last"
    ),
    "datetime_and_date": (
        "SELECT CAST('2024-01-02 03:04:05' AS TIMESTAMP_NTZ) a, "
        "CAST('0099-03-04 05:06:07.25' AS TIMESTAMP_NTZ) b, "
        "DATE '0001-01-01' c, DATE '2024-02-29' d"
    ),
    "bytes_and_intervals": (
        "SELECT CAST('hi' AS BINARY) a, X'00ff10' b, CAST('' AS BINARY) e, "
        "INTERVAL '-1 02:03:04.5' DAY TO SECOND neg, "
        "INTERVAL '0 00:00:07' DAY TO SECOND pos"
    ),
    "array_timestamp_with_null": (
        "SELECT ARRAY(TIMESTAMP '2024-01-02 03:04:05', NULL, "
        "TIMESTAMP '2024-01-02 03:04:05.000001') a"
    ),
    "arrays": (
        "SELECT ARRAY(1.5, CAST('NaN' AS DOUBLE)) a, ARRAY('a', NULL, ' ') b, "
        "ARRAY(ARRAY(1), NULL) c, ARRAY(X'01') d, ARRAY(CAST(1 AS DECIMAL(38,9))) e, "
        "ARRAY(DATE '2024-01-01') f, CAST(ARRAY() AS ARRAY<INT>) g"
    ),
    # trap: toArrow()'s final cast rejects these NULL rows
    "nullable_struct_non_nullable_fields": (
        "SELECT IF(x = 2, NULL, STRUCT(x AS a, 'q' AS b)) AS s FROM UNNEST([1, 2, 3]) AS x"
    ),
    "nullable_variant": (
        "SELECT IF(x = 2, NULL, parse_json('{\"a\": [1, 2.5, null], \"s\": \"x\"}')) AS v "
        "FROM UNNEST([1, 2]) AS x"
    ),
    # trap: the JVM's Arrow writer rejects duplicate STRUCT field names
    "duplicate_struct_fields": "SELECT named_struct('a', 1, 'a', 2) AS s",
    "duplicate_nested_struct_fields": (
        "SELECT ARRAY(named_struct('a', 1, 'b', 2, 'a', TIMESTAMP '2024-01-01 00:00:00')) s, "
        "named_struct('x', named_struct('y', 1, 'y', 2)) t, 'plain' AS u"
    ),
    "structs": (
        "SELECT STRUCT(1 AS x, STRUCT(TIMESTAMP '2024-01-01 00:00:00.5' AS t, "
        "ARRAY(X'02') AS b) AS inner) AS s"
    ),
    "maps": (
        "SELECT map(1, 'a', 2, 'b') int_keys, map(1, ARRAY(1, 2), 2, NULL) nested, "
        "map(CAST(1.5 AS DOUBLE), STRUCT(TIMESTAMP '2024-01-01 00:00:00' AS t)) float_keys"
    ),
    "duplicate_columns": "SELECT 1 AS a, 2 AS a, 'x' AS a",
    "zero_rows": (
        "SELECT x AS i, CAST(x AS DOUBLE) f, CAST(x AS STRING) s, "
        "TIMESTAMP '2024-01-01 00:00:00' t, ARRAY(x) a "
        "FROM UNNEST([1]) AS x WHERE x > 5"
    ),
    "text": (
        "SELECT 'héllo ✓ \U0001F600' u, 'line\u2028sep\u2029' ls, "
        "'q\"b\\\\n\\t' esc, '' empty, CAST(X'00' AS STRING) nul_char"
    ),
}


@pytest.mark.parametrize("name", sorted(PROBES))
def test_columnar_encoder_matches_row_reference(bq, name):
    df = bq.query(PROBES[name])
    want = _reference(df)
    got = to_bq_json(df)
    assert got == want
    assert to_bq_response(df) == json.loads(want)


def test_duplicate_struct_fields_last_wins(bq):
    got = to_bq_response(bq.query("SELECT named_struct('a', 1, 'a', 2) AS s"))
    assert got["rows"] == [{"f": [{"v": {"a": 2}}]}]


def test_map_entries_keep_spark_order(bq):
    """A MAP's entries are written in Spark's entry order (``map_keys``),
    where ``collect`` returned them in Java ``HashMap`` bucket order. The
    value is the same; only the member order of the JSON object differs,
    and MAP is not a BigQuery type."""
    df = bq.query("SELECT map('k', 1, 'j', 2, 'a', 3) AS m")
    got = to_bq_json(df)
    assert '{"v": {"k": 1, "j": 2, "a": 3}}' in got
    assert json.loads(got) == json.loads(_reference(df))


def test_timestamp_year_one(bq):
    """The reference cannot render 0001-01-01 00:00:00 (the host-local
    conversion underflows); the columnar encoder can."""
    got = to_bq_response(bq.query("SELECT TIMESTAMP '0001-01-01 00:00:00' AS t"))
    assert got["rows"] == [{"f": [{"v": "0001-01-01 00:00:00"}]}]


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT INTERVAL '1-2' YEAR TO MONTH AS ym",
        "SELECT ARRAY(INTERVAL '1-2' YEAR TO MONTH) AS ym",
        "SELECT make_interval(1, 2, 0, 3, 4, 5, 6.5) AS ci",
    ],
)
def test_intervals_without_wire_value_are_executor_errors(spark, sql):
    server = RpcServer(SessionManager(spark))

    def call(rid, method, params=None):
        return server.handle_message(
            json.dumps({"jsonrpc": "2.0", "id": rid, "method": method, "params": params or {}})
        )

    sid = call(1, "bq.createSession")["result"]["sessionId"]
    try:
        resp = call(2, "bq.query", {"sessionId": sid, "sql": sql})
        assert resp["error"]["code"] == -32000, resp
        assert f"[method=bq.query, session={sid}]" in resp["error"]["message"]
    finally:
        call(3, "bq.destroySession", {"sessionId": sid})
