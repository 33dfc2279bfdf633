"""Byte-level golden wire tests over the REAL stdio transport.

Scripted replays of the reference's E2E client exchanges
(adaptors/clojure/test/bq_runner/client_test.clj:51-64 raw
``bigquery#queryResponse`` shape incl. field order, :110-116 error
propagation, :118-130 UNNEST/STRUCT, and dag_test.clj:240-258
re-register append) against a ``python -m bq_duckdb_spark.server
--transport stdio`` subprocess, asserting the EXACT response line
bytes — test_server.py covers the behaviors in-process; this pins the
wire serialization (key order, totalRows-as-string, jobComplete,
rows[].f[].v nesting) end-to-end through the outermost surface.
"""

import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_UUID_RE = re.compile(
    r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
)


class StdioClient:
    def __init__(self, **env_overrides):
        env = dict(os.environ, SPARK_GRAFT_CPUS="8", **env_overrides)
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "bq_duckdb_spark.server", "--transport", "stdio"],
            cwd=REPO,
            env=env,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        self._id = 0

    def call_raw(self, method, params=None) -> str:
        """Send one request, return the raw response LINE (the bytes the
        reference's Clojure client would read)."""
        self._id += 1
        req = {"jsonrpc": "2.0", "id": self._id, "method": method}
        if params is not None:
            req["params"] = params
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        assert line, "server closed stdout"
        return line.rstrip("\n")

    def close(self):
        self.proc.stdin.close()
        self.proc.wait(timeout=60)


@pytest.fixture(scope="module")
def client():
    c = StdioClient()
    # first exchange pays Spark startup; generous implicit wait via
    # blocking readline inside call_raw
    yield c
    c.close()


@pytest.fixture(scope="module")
def sid(client):
    line = client.call_raw("bq.createSession")
    resp = json.loads(line)
    s = resp["result"]["sessionId"]
    assert _UUID_RE.match(s), s
    # the envelope around the sessionId is itself golden
    assert line == (
        '{"jsonrpc": "2.0", "id": %d, "result": {"sessionId": "%s"}}'
        % (resp["id"], s)
    )
    return s


def test_ping_golden(client):
    line = client.call_raw("bq.ping")
    rid = json.loads(line)["id"]
    assert line == '{"jsonrpc": "2.0", "id": %d, "result": {"message": "pong"}}' % rid


def test_query_raw_shape_golden(client, sid):
    """client_test.clj:57-64 — kind, schema, rows, totalRows-as-STRING,
    jobComplete, in the reference's field order."""
    line = client.call_raw("bq.query", {"sessionId": sid, "sql": "SELECT 42 AS answer"})
    rid = json.loads(line)["id"]
    assert line == (
        '{"jsonrpc": "2.0", "id": %d, "result": {"kind": "bigquery#queryResponse", '
        '"schema": {"fields": [{"name": "answer", "type": "INT64"}]}, '
        '"rows": [{"f": [{"v": 42}]}], "totalRows": "1", "jobComplete": true}}' % rid
    )


def test_simple_query_two_columns_golden(client, sid):
    """client_test.clj:47-55 — SELECT 1 AS num, 'hello' AS greeting."""
    line = client.call_raw(
        "bq.query", {"sessionId": sid, "sql": "SELECT 1 AS num, 'hello' AS greeting"}
    )
    rid = json.loads(line)["id"]
    assert line == (
        '{"jsonrpc": "2.0", "id": %d, "result": {"kind": "bigquery#queryResponse", '
        '"schema": {"fields": [{"name": "num", "type": "INT64"}, '
        '{"name": "greeting", "type": "STRING"}]}, '
        '"rows": [{"f": [{"v": 1}, {"v": "hello"}]}], '
        '"totalRows": "1", "jobComplete": true}}' % rid
    )


def test_unnest_golden(client, sid):
    """client_test.clj:118-122 — BigQuery UNNEST syntax, 3 rows."""
    line = client.call_raw(
        "bq.query", {"sessionId": sid, "sql": "SELECT * FROM UNNEST([1, 2, 3]) AS num"}
    )
    rid = json.loads(line)["id"]
    assert line == (
        '{"jsonrpc": "2.0", "id": %d, "result": {"kind": "bigquery#queryResponse", '
        '"schema": {"fields": [{"name": "num", "type": "INT64"}]}, '
        '"rows": [{"f": [{"v": 1}]}, {"f": [{"v": 2}]}, {"f": [{"v": 3}]}], '
        '"totalRows": "3", "jobComplete": true}}' % rid
    )


def test_struct_golden(client, sid):
    """client_test.clj:124-130 — STRUCT value as a JSON object."""
    line = client.call_raw(
        "bq.query", {"sessionId": sid, "sql": "SELECT STRUCT(1 AS x, 2 AS y) AS point"}
    )
    rid = json.loads(line)["id"]
    assert line == (
        '{"jsonrpc": "2.0", "id": %d, "result": {"kind": "bigquery#queryResponse", '
        '"schema": {"fields": [{"name": "point", "type": "STRUCT"}]}, '
        '"rows": [{"f": [{"v": {"x": 1, "y": 2}}]}], '
        '"totalRows": "1", "jobComplete": true}}' % rid
    )


def test_mixed_types_golden(client, sid):
    """Three rows through the columnar encoder and the envelope splice: a
    NULL, NaN, a decimal, timestamps with and without microseconds, bytes,
    an array and a struct, every value text and separator pinned."""
    line = client.call_raw(
        "bq.query",
        {
            "sessionId": sid,
            "sql": "SELECT x AS id, IF(x = 2, NULL, CONCAT('row', CAST(x AS STRING))) AS label, "
            "IF(x = 3, CAST('NaN' AS FLOAT64), x / 4) AS ratio, "
            "CAST(x * 1.25 AS NUMERIC) AS amount, "
            "IF(x = 1, TIMESTAMP '2024-01-02 03:04:05.123456', TIMESTAMP '2024-01-02 03:04:05') AS ts, "
            "CAST(CONCAT('b', CAST(x AS STRING)) AS BYTES) AS raw, [x, x * 10] AS pair, "
            "STRUCT(x AS k, x > 1 AS big) AS info FROM UNNEST([1, 2, 3]) AS x ORDER BY x",
        },
    )
    rid = json.loads(line)["id"]
    assert line == (
        '{"jsonrpc": "2.0", "id": %d, "result": {"kind": "bigquery#queryResponse", '
        '"schema": {"fields": [{"name": "id", "type": "INT64"}, '
        '{"name": "label", "type": "STRING"}, {"name": "ratio", "type": "FLOAT64"}, '
        '{"name": "amount", "type": "NUMERIC"}, {"name": "ts", "type": "TIMESTAMP"}, '
        '{"name": "raw", "type": "BYTES"}, {"name": "pair", "type": "ARRAY<INT64>"}, '
        '{"name": "info", "type": "STRUCT"}]}, '
        '"rows": [{"f": [{"v": 1}, {"v": "row1"}, {"v": 0.25}, {"v": "1.250000000"}, '
        '{"v": "2024-01-02 03:04:05.123456"}, {"v": "YjE="}, {"v": [1, 10]}, '
        '{"v": {"k": 1, "big": false}}]}, '
        '{"f": [{"v": 2}, {"v": null}, {"v": 0.5}, {"v": "2.500000000"}, '
        '{"v": "2024-01-02 03:04:05"}, {"v": "YjI="}, {"v": [2, 20]}, '
        '{"v": {"k": 2, "big": true}}]}, '
        '{"f": [{"v": 3}, {"v": "row3"}, {"v": "nan"}, {"v": "3.750000000"}, '
        '{"v": "2024-01-02 03:04:05"}, {"v": "YjM="}, {"v": [3, 30]}, '
        '{"v": {"k": 3, "big": true}}]}], '
        '"totalRows": "3", "jobComplete": true}}' % rid
    )


def test_error_propagation_golden_envelope(client, sid):
    """client_test.clj:110-116 — a failing query surfaces as a JSON-RPC
    error with the Executor code and [method=…, session=…] context. The
    engine's message prose is version-dependent, so the envelope fields
    and context are pinned, not the prose."""
    line = client.call_raw(
        "bq.query", {"sessionId": sid, "sql": "SELECT * FROM nonexistent_table"}
    )
    resp = json.loads(line)
    assert set(resp) == {"jsonrpc", "id", "error"}
    assert resp["jsonrpc"] == "2.0"
    assert set(resp["error"]) == {"code", "message"}
    assert resp["error"]["code"] == -32000
    assert f"[method=bq.query, session={sid}]" in resp["error"]["message"]
    assert "nonexistent_table" in resp["error"]["message"]
    # the error envelope's key order is golden even when the message isn't
    assert line.startswith('{"jsonrpc": "2.0", "id: '.replace("id: ", "id\": "))
    assert '"error": {"code": -32000, "message": "' in line


def test_dag_reregister_append_golden(client, sid):
    """dag_test.clj:240-258 — re-registering a source DAG table APPENDS
    its rows; clearDag then replaces. Every control response is pinned
    byte-level; the data readbacks are pinned as full queryResponse
    lines."""

    def q(sql):
        return client.call_raw("bq.query", {"sessionId": sid, "sql": sql})

    def rows_line(rid, vals):
        rows = ", ".join('{"f": [{"v": %d}]}' % v for v in vals)
        return (
            '{"jsonrpc": "2.0", "id": %d, "result": {"kind": "bigquery#queryResponse", '
            '"schema": {"fields": [{"name": "x", "type": "INT64"}]}, '
            '"rows": [%s], "totalRows": "%d", "jobComplete": true}}'
            % (rid, rows, len(vals))
        )

    reg = {
        "sessionId": sid,
        "tables": [
            {"name": "data", "schema": [{"name": "x", "type": "INT64"}], "rows": [[1]]}
        ],
    }
    line = client.call_raw("bq.registerDag", reg)
    rid = json.loads(line)["id"]
    assert line == (
        '{"jsonrpc": "2.0", "id": %d, "result": {"success": true, '
        '"tables": [{"name": "data", "dependencies": []}]}}' % rid
    )
    def run_golden(rid):
        return (
            '{"jsonrpc": "2.0", "id": %d, "result": {"success": true, '
            '"succeededTables": ["data"], "failedTables": [], '
            '"skippedTables": []}}' % rid
        )

    line = client.call_raw("bq.runDag", {"sessionId": sid})
    assert line == run_golden(json.loads(line)["id"])

    line = q("SELECT * FROM data ORDER BY x")
    assert line == rows_line(json.loads(line)["id"], [1])

    # re-register the same source name: rows ACCUMULATE (append)
    reg["tables"][0]["rows"] = [[999]]
    client.call_raw("bq.registerDag", reg)
    line = client.call_raw("bq.runDag", {"sessionId": sid})
    assert line == run_golden(json.loads(line)["id"])
    line = q("SELECT * FROM data ORDER BY x")
    assert line == rows_line(json.loads(line)["id"], [1, 999])

    # clearDag then register: replaced, not appended
    line = client.call_raw("bq.clearDag", {"sessionId": sid})
    rid = json.loads(line)["id"]
    assert line == '{"jsonrpc": "2.0", "id": %d, "result": {"success": true}}' % rid
    reg["tables"][0]["rows"] = [[42]]
    client.call_raw("bq.registerDag", reg)
    line = client.call_raw("bq.runDag", {"sessionId": sid})
    assert line == run_golden(json.loads(line)["id"])
    line = q("SELECT * FROM data ORDER BY x")
    assert line == rows_line(json.loads(line)["id"], [42])


def test_destroy_session_golden(client, sid):
    line = client.call_raw("bq.destroySession", {"sessionId": sid})
    rid = json.loads(line)["id"]
    assert line == '{"jsonrpc": "2.0", "id": %d, "result": {"success": true}}' % rid


def test_timestamp_on_non_utc_host():
    """TIMESTAMP values are rendered in the session zone (UTC), not the
    host's: on a New York host the value and its EXTRACT(HOUR) agree."""
    c = StdioClient(TZ="America/New_York")
    try:
        sid = json.loads(c.call_raw("bq.createSession"))["result"]["sessionId"]
        line = c.call_raw(
            "bq.query",
            {
                "sessionId": sid,
                "sql": "SELECT TIMESTAMP '2024-01-02 03:04:05' AS t, "
                "EXTRACT(HOUR FROM TIMESTAMP '2024-01-02 03:04:05') AS h",
            },
        )
        assert json.loads(line)["result"]["rows"] == [
            {"f": [{"v": "2024-01-02 03:04:05"}, {"v": 3}]}
        ]
    finally:
        c.close()


def test_zoneless_timestamp_insert_on_non_utc_host():
    """bq.insert reads zone-less TIMESTAMP text as UTC, as BigQuery does
    and as a TIMESTAMP literal in INSERT … VALUES is read — not in the
    host's zone."""
    c = StdioClient(TZ="America/New_York")
    try:
        sid = json.loads(c.call_raw("bq.createSession"))["result"]["sessionId"]
        c.call_raw(
            "bq.createTable",
            {
                "sessionId": sid,
                "tableName": "tz_t",
                "schema": [{"name": "ts", "type": "TIMESTAMP"}],
            },
        )
        ins = c.call_raw(
            "bq.insert",
            {"sessionId": sid, "tableName": "tz_t", "rows": [["2024-01-01 10:00:00"]]},
        )
        assert json.loads(ins)["result"] == {"insertedRows": 1}
        c.call_raw(
            "bq.query",
            {
                "sessionId": sid,
                "sql": "INSERT INTO tz_t VALUES (TIMESTAMP '2024-01-01 10:00:00')",
            },
        )
        line = c.call_raw("bq.query", {"sessionId": sid, "sql": "SELECT ts FROM tz_t"})
        assert json.loads(line)["result"]["rows"] == [
            {"f": [{"v": "2024-01-01 10:00:00"}]}
        ] * 2
    finally:
        c.close()
