"""Exotic-type RPC round-trip goldens: insert → query → JSON through the
full server path for every SURVEY §1.3 type row beyond the common eight.

The reference round-trips TIME / GEOGRAPHY / JSON / RANGE / INTERVAL /
BIGNUMERIC values through its executor (src/executor/yachtsql.rs:256-309
maps each to a wire type + JSON value); types.py maps them all, and
these tests pin the full bq.createTable → bq.insert → bq.query JSON for
each, including the documented degradations (TIME reports STRING,
RANGE<T> keeps typed endpoints as a STRUCT where the reference degrades
to a debug string, BIGNUMERIC caps at DECIMAL(38,18))."""

import json

import pytest

from bq_duckdb_spark.server import RpcServer


@pytest.fixture(scope="module")
def server(spark):
    from bq_duckdb_spark.engine import SessionManager

    return RpcServer(SessionManager(spark))


@pytest.fixture()
def sid(server):
    s = _call(server, "bq.createSession")["result"]["sessionId"]
    yield s
    _call(server, "bq.destroySession", {"sessionId": s})


_id = [1000]


def _call(server, method, params=None):
    _id[0] += 1
    return server.handle_message(
        json.dumps(
            {"jsonrpc": "2.0", "id": _id[0], "method": method, "params": params or {}}
        )
    )


def _roundtrip(server, sid, table, bq_type, wire_value, col="v"):
    """createTable(col bq_type) → insert one wire row → SELECT *; returns
    the full queryResponse result dict."""
    r = _call(
        server,
        "bq.createTable",
        {"sessionId": sid, "tableName": table, "schema": [{"name": col, "type": bq_type}]},
    )
    assert r["result"] == {"success": True}, r
    r = _call(
        server,
        "bq.insert",
        {"sessionId": sid, "tableName": table, "rows": [[wire_value]]},
    )
    assert r["result"] == {"insertedRows": 1}, r
    r = _call(server, "bq.query", {"sessionId": sid, "sql": f"SELECT * FROM {table}"})
    assert "error" not in r, r
    return r["result"]


def _golden(col, wire_type, value):
    return {
        "kind": "bigquery#queryResponse",
        "schema": {"fields": [{"name": col, "type": wire_type}]},
        "rows": [{"f": [{"v": value}]}],
        "totalRows": "1",
        "jobComplete": True,
    }


def test_time_roundtrip_golden(server, sid):
    """TIME → STRING on the wire (no Spark native TIME; documented)."""
    got = _roundtrip(server, sid, "g_time", "TIME", "12:34:56")
    assert got == _golden("v", "STRING", "12:34:56")


def test_geography_wkt_roundtrip_golden(server, sid):
    """GEOGRAPHY round-trips as WKT text (yachtsql.rs:303)."""
    got = _roundtrip(server, sid, "g_geo", "GEOGRAPHY", "POINT(-122.35 47.62)")
    assert got == _golden("v", "STRING", "POINT(-122.35 47.62)")


def test_json_roundtrip_golden(server, sid):
    """JSON kept verbatim as its source text (queryable via JSON
    accessors at the SQL level)."""
    doc = '{"a": [1, 2], "b": {"c": null}}'
    got = _roundtrip(server, sid, "g_json", "JSON", doc)
    assert got == _golden("v", "STRING", doc)


def test_range_date_roundtrip_golden(server, sid):
    """RANGE<DATE> keeps typed endpoints as STRUCT<start,end> (the
    reference degrades RANGE to a debug STRING, yachtsql.rs:273 — ours
    is the stronger shape, documented in types.py)."""
    got = _roundtrip(
        server,
        sid,
        "g_range",
        "RANGE<DATE>",
        {"start": "2024-01-01", "end": "2024-02-01"},
    )
    assert got == _golden(
        "v", "STRUCT", {"start": "2024-01-01", "end": "2024-02-01"}
    )


def test_interval_roundtrip_golden(server, sid):
    """INTERVAL accepts '[D ]H:MM:SS[.ffffff]' text and serializes back
    in the SAME format (symmetric wire round-trip)."""
    got = _roundtrip(server, sid, "g_iv", "INTERVAL", "1 02:03:04.500000")
    assert got == _golden("v", "INTERVAL", "1 2:03:04.500000")
    got2 = _roundtrip(server, sid, "g_iv2", "INTERVAL", "0:00:07")
    assert got2 == _golden("v", "INTERVAL", "0:00:07")


def test_interval_negative_roundtrip(server, sid):
    got = _roundtrip(server, sid, "g_ivn", "INTERVAL", "-0:30:00")
    assert got == _golden("v", "INTERVAL", "-0:30:00")


def test_bignumeric_roundtrip_golden(server, sid):
    """BIGNUMERIC capped at DECIMAL(38,18) (documented gap): an
    18-fractional-digit value round-trips exactly, as a STRING on the
    wire (NUMERIC wire type, yachtsql.rs:260)."""
    got = _roundtrip(
        server, sid, "g_bn", "BIGNUMERIC", "12345.678901234567891234"
    )
    assert got == _golden("v", "NUMERIC", "12345.678901234567891234")


def test_bytes_base64_roundtrip_golden(server, sid):
    """BYTES arrive AND leave base64 (BigQuery wire convention)."""
    got = _roundtrip(server, sid, "g_by", "BYTES", "aGVsbG8=")
    assert got == _golden("v", "BYTES", "aGVsbG8=")


def test_timestamp_and_datetime_string_inserts(server, sid):
    """TIMESTAMP accepts ISO-8601 with 'T'/Z; DATETIME (zoneless) the
    space form — both land as real temporal types, not strings."""
    got = _roundtrip(server, sid, "g_ts", "TIMESTAMP", "2024-06-01T12:00:00Z")
    assert got == _golden("v", "TIMESTAMP", "2024-06-01 12:00:00")
    got2 = _roundtrip(server, sid, "g_dt", "DATETIME", "2024-06-01 12:00:00")
    assert got2 == _golden("v", "DATETIME", "2024-06-01 12:00:00")


def test_interval_arithmetic_via_sql(server, sid):
    """The inserted INTERVAL is a REAL DayTimeIntervalType: adding it to
    a timestamp works in SQL (a string column would fail here)."""
    _roundtrip(server, sid, "g_iv_sql", "INTERVAL", "1 00:00:00")
    r = _call(
        server,
        "bq.query",
        {
            "sessionId": sid,
            "sql": "SELECT TIMESTAMP '2024-01-01 00:00:00' + v AS t FROM g_iv_sql",
        },
    )
    assert "error" not in r, r
    assert r["result"]["rows"][0]["f"][0]["v"] == "2024-01-02 00:00:00"


def test_malformed_interval_is_loud(server, sid):
    _call(
        server,
        "bq.createTable",
        {"sessionId": sid, "tableName": "g_bad", "schema": [{"name": "v", "type": "INTERVAL"}]},
    )
    r = _call(
        server,
        "bq.insert",
        {"sessionId": sid, "tableName": "g_bad", "rows": [["tomorrow-ish"]]},
    )
    assert r["error"]["code"] == -32000
    assert "Malformed INTERVAL" in r["error"]["message"]


# every insertable type in one row, then an all-NULL row
_ALL_TYPES_SCHEMA = [
    ("i", "INT64"), ("f", "FLOAT64"), ("b", "BOOL"), ("s", "STRING"),
    ("by", "BYTES"), ("n", "NUMERIC"), ("bn", "BIGNUMERIC"), ("d", "DATE"),
    ("dt", "DATETIME"), ("t", "TIME"), ("iv", "INTERVAL"), ("ts", "TIMESTAMP"),
    ("ts2", "TIMESTAMP"), ("j", "JSON"), ("g", "GEOGRAPHY"), ("a", "ARRAY<INT64>"),
    ("st", "STRUCT<x INT64, y STRING>"), ("r", "RANGE<DATE>"),
]
_ALL_TYPES_ROW = [
    42, 1.5, True, 'h\u00e9llo "q"', "aGVsbG8=",
    "1.0000000005",  # 10 decimals: rounds half-up to 1.000000001
    "12345.678901234567891234", "2024-02-29", "2024-06-01T12:34:56.789",
    "12:34:56", "1 02:03:04.5", "2024-06-01T12:00:00Z", "2024-06-01 12:00:00+05:30",
    '{"k": [1, 2]}', "POINT(1 2)", [1, None, 3], {"x": 7, "y": "z"},
    {"start": "2024-01-01", "end": "2024-12-31"},
]
_ALL_TYPES_GOLDEN = (
    '{"jsonrpc": "2.0", "id": 7'
    ', "result": {"kind": "bigquery#queryResponse"'
    ', "schema": {"fields": [{"name": "i", "type": "INT64"}'
    ', {"name": "f", "type": "FLOAT64"}, {"name": "b"'
    ', "type": "BOOLEAN"}, {"name": "s", "type": "STRING"}'
    ', {"name": "by", "type": "BYTES"}, {"name": "n"'
    ', "type": "NUMERIC"}, {"name": "bn", "type": "NUMERIC"}'
    ', {"name": "d", "type": "DATE"}, {"name": "dt"'
    ', "type": "DATETIME"}, {"name": "t", "type": "STRING"}'
    ', {"name": "iv", "type": "INTERVAL"}, {"name": "ts"'
    ', "type": "TIMESTAMP"}, {"name": "ts2", "type": "TIMESTAMP"}'
    ', {"name": "j", "type": "STRING"}, {"name": "g"'
    ', "type": "STRING"}, {"name": "a", "type": "ARRAY<INT64>"}'
    ', {"name": "st", "type": "STRUCT"}, {"name": "r"'
    ', "type": "STRUCT"}]}, "rows": [{"f": [{"v": 42}, {"v": 1.5}'
    ', {"v": true}, {"v": "h\\u00e9llo \\"q\\""}, {"v": "aGVsbG8="}'
    ', {"v": "1.000000001"}, {"v": "12345.678901234567891234"}'
    ', {"v": "2024-02-29"}, {"v": "2024-06-01 12:34:56.789000"}'
    ', {"v": "12:34:56"}, {"v": "1 2:03:04.500000"}'
    ', {"v": "2024-06-01 12:00:00"}, {"v": "2024-06-01 06:30:00"}'
    ', {"v": "{\\"k\\": [1, 2]}"}, {"v": "POINT(1 2)"}, {"v": [1, null'
    ', 3]}, {"v": {"x": 7, "y": "z"}}, {"v": {"start": "2024-01-01"'
    ', "end": "2024-12-31"}}]}, {"f": [{"v": null}, {"v": null}'
    ', {"v": null}, {"v": null}, {"v": null}, {"v": null}'
    ', {"v": null}, {"v": null}, {"v": null}, {"v": null}'
    ', {"v": null}, {"v": null}, {"v": null}, {"v": null}'
    ', {"v": null}, {"v": null}, {"v": null}, {"v": null}]}]'
    ', "totalRows": "2", "jobComplete": true}}'
)


def test_all_insertable_types_wire_golden(server, sid):
    """bq.insert of every insertable type (plus an all-NULL row), then
    the exact bq.query response text: the batch's conversion to an
    in-memory Arrow relation must not change a byte on the wire."""
    r = _call(
        server,
        "bq.createTable",
        {
            "sessionId": sid,
            "tableName": "g_all",
            "schema": [{"name": n, "type": t} for n, t in _ALL_TYPES_SCHEMA],
        },
    )
    assert r["result"] == {"success": True}, r
    r = _call(
        server,
        "bq.insert",
        {
            "sessionId": sid,
            "tableName": "g_all",
            "rows": [_ALL_TYPES_ROW, [None] * len(_ALL_TYPES_ROW)],
        },
    )
    assert r["result"] == {"insertedRows": 2}, r
    text = server.handle_text(
        json.dumps(
            {
                "jsonrpc": "2.0",
                "id": 7,
                "method": "bq.query",
                "params": {
                    "sessionId": sid,
                    "sql": "SELECT * FROM g_all ORDER BY i NULLS LAST",
                },
            }
        )
    )
    assert text == _ALL_TYPES_GOLDEN


@pytest.mark.parametrize(
    "bq_type,value",
    [
        ("INT64", "abc"),
        ("INT64", True),
        ("INT64", 1.5),
        ("INT64", 1.0),
        ("INT64", 2**63),
        ("FLOAT64", "1.5"),
        ("FLOAT64", True),
        ("BOOL", 1),
        ("ARRAY<INT64>", 5),
        ("ARRAY<INT64>", ["a"]),
        ("STRUCT<x INT64>", {"x": "a"}),
        ("STRUCT<x INT64, y STRING>", [1]),
        ("NUMERIC", "1e30"),
        ("BYTES", "!!"),
    ],
    ids=lambda p: json.dumps(p),
)
def test_insert_rejects_wrong_value(server, sid, bq_type, value):
    """A value the column cannot hold fails the insert as an Executor
    error naming the column, and the table stays readable and empty.
    (A NUMERIC overflow used to be stored and then fail every read.)"""
    _call(
        server,
        "bq.createTable",
        {
            "sessionId": sid,
            "tableName": "g_rej",
            "schema": [{"name": "bad_col", "type": bq_type}],
        },
    )
    r = _call(server, "bq.insert", {"sessionId": sid, "tableName": "g_rej", "rows": [[value]]})
    assert r["error"]["code"] == -32000, r
    assert "bad_col" in r["error"]["message"], r
    q = _call(server, "bq.query", {"sessionId": sid, "sql": "SELECT * FROM g_rej"})
    assert "error" not in q, q
    assert q["result"]["totalRows"] == "0"


def test_int_into_string_reads_back_as_text(server, sid):
    got = _roundtrip(server, sid, "g_s5", "STRING", 5)
    assert got == _golden("v", "STRING", "5")


def test_numeric_uses_all_38_digits(server, sid):
    """The largest NUMERIC fits (38 digits, past the default decimal
    context's 28); half-up rounding applies at the 9th decimal."""
    top = "9" * 29 + "." + "9" * 9
    got = _roundtrip(server, sid, "g_ntop", "NUMERIC", top)
    assert got == _golden("v", "NUMERIC", top)
    got = _roundtrip(server, sid, "g_nhalf", "NUMERIC", "-2.0000000005")
    assert got == _golden("v", "NUMERIC", "-2.000000001")


def test_datetime_insert_drops_a_given_zone(server, sid):
    """DATETIME is zone-less: an offset on the inserted text is dropped
    and the wall-clock time kept."""
    got = _roundtrip(server, sid, "g_dtz", "DATETIME", "2024-06-01T12:00:00+05:30")
    assert got == _golden("v", "DATETIME", "2024-06-01 12:00:00")
