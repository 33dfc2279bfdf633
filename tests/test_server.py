"""JSON-RPC server: ports client_test.clj observable behavior — envelope
validation, session lifecycle, raw BigQuery response shape, CRUD, DAG
methods, error propagation with codes and context."""

import json

import pytest

from bq_duckdb_spark.server import (
    EXECUTOR_ERROR,
    INVALID_REQUEST,
    METHOD_NOT_FOUND,
    PARSE_ERROR,
    SESSION_NOT_FOUND,
    RpcServer,
)


@pytest.fixture(scope="module")
def server(spark):
    from bq_duckdb_spark.engine import SessionManager

    return RpcServer(SessionManager(spark))


@pytest.fixture()
def sid(server):
    s = call(server, "bq.createSession")
    yield s["sessionId"]
    call(server, "bq.destroySession", {"sessionId": s["sessionId"]})


_id_counter = [0]


def call(server, method, params=None, expect_error=None):
    _id_counter[0] += 1
    resp = server.handle_message(
        json.dumps(
            {"jsonrpc": "2.0", "id": _id_counter[0], "method": method,
             "params": params or {}}
        )
    )
    assert resp["jsonrpc"] == "2.0"
    assert resp["id"] == _id_counter[0]
    if expect_error is not None:
        assert "error" in resp, f"expected error, got {resp}"
        assert resp["error"]["code"] == expect_error
        return resp["error"]
    assert "error" not in resp, f"unexpected error: {resp.get('error')}"
    return resp["result"]


def test_ping(server):
    assert call(server, "bq.ping") == {"message": "pong"}


def test_parse_error(server):
    resp = server.handle_message("this is not json")
    assert resp["error"]["code"] == PARSE_ERROR


def test_invalid_jsonrpc_version(server):
    resp = server.handle_message(json.dumps({"jsonrpc": "1.0", "method": "bq.ping"}))
    assert resp["error"]["code"] == INVALID_REQUEST


def test_method_not_found(server):
    call(server, "bq.nope", expect_error=METHOD_NOT_FOUND)


def test_invalid_session_id(server):
    err = call(server, "bq.query", {"sessionId": "not-a-uuid", "sql": "SELECT 1"},
               expect_error=INVALID_REQUEST)
    assert "Invalid session ID" in err["message"]


def test_session_not_found(server):
    import uuid

    call(server, "bq.query",
         {"sessionId": str(uuid.uuid4()), "sql": "SELECT 1"},
         expect_error=SESSION_NOT_FOUND)


def test_query_bq_response_shape(server, sid):
    """client_test.clj:56-64: kind bigquery#queryResponse, totalRows as
    string, rows[].f[].v cells."""
    res = call(server, "bq.query", {"sessionId": sid, "sql": "SELECT 1 AS x, 'hello' AS greeting"})
    assert res["kind"] == "bigquery#queryResponse"
    assert res["jobComplete"] is True
    assert res["totalRows"] == "1"
    assert res["schema"]["fields"][0] == {"name": "x", "type": "INT64"}
    assert res["rows"] == [{"f": [{"v": 1}, {"v": "hello"}]}]


def test_query_with_escaped_quote_then_ping(server, sid):
    """An escaped quote before a SAFE_OFFSET subscript transpiles in
    bounded time: the query answers and the server still serves a ping."""
    res = call(server, "bq.query", {
        "sessionId": sid, "sql": r"SELECT split('it\'s', 'x')[SAFE_OFFSET(0)] AS x",
    })
    assert res["rows"] == [{"f": [{"v": "it's"}]}]
    assert call(server, "bq.ping") == {"message": "pong"}


def test_create_insert_query_roundtrip(server, sid):
    call(server, "bq.createTable",
         {"sessionId": sid, "tableName": "users",
          "schema": [{"name": "id", "type": "INT64"}, {"name": "name", "type": "STRING"}]})
    res = call(server, "bq.insert",
               {"sessionId": sid, "tableName": "users",
                "rows": [[1, "Alice"], [2, "Bob"]]})
    assert res == {"insertedRows": 2}
    q = call(server, "bq.query",
             {"sessionId": sid, "sql": "SELECT name FROM users ORDER BY id"})
    assert [r["f"][0]["v"] for r in q["rows"]] == ["Alice", "Bob"]


def test_insert_empty_rows(server, sid):
    call(server, "bq.createTable",
         {"sessionId": sid, "tableName": "t", "schema": [{"name": "id", "type": "INT64"}]})
    assert call(server, "bq.insert",
                {"sessionId": sid, "tableName": "t", "rows": []}) == {"insertedRows": 0}


def test_error_propagation_with_context(server, sid):
    """Errors carry [method=…, session=…] context and the failed SQL
    (error.rs:36-48, yachtsql.rs:28; client_test.clj:110-116)."""
    err = call(server, "bq.query", {"sessionId": sid, "sql": "SELECT * FROM missing_tbl"},
               expect_error=EXECUTOR_ERROR)
    assert f"[method=bq.query, session={sid}]" in err["message"]
    assert "missing_tbl" in err["message"]


def test_dag_lifecycle_over_rpc(server, sid):
    reg = call(server, "bq.registerDag", {
        "sessionId": sid,
        "tables": [
            {"name": "src", "schema": [{"name": "v", "type": "INT64"}],
             "rows": [[1], [2], [3]]},
            {"name": "doubled", "sql": "SELECT v * 2 AS v FROM src"},
        ]})
    assert reg["success"] is True
    deps = {t["name"]: t["dependencies"] for t in reg["tables"]}
    assert deps == {"src": [], "doubled": ["src"]}

    run = call(server, "bq.runDag", {"sessionId": sid})
    assert run["success"] is True
    assert run["succeededTables"] == ["src", "doubled"]
    assert run["failedTables"] == [] and run["skippedTables"] == []

    dag = call(server, "bq.getDag", {"sessionId": sid})
    by_name = {t["name"]: t for t in dag["tables"]}
    assert by_name["src"]["isSource"] is True and "sql" not in by_name["src"]
    assert by_name["doubled"]["sql"] == "SELECT v * 2 AS v FROM src"

    q = call(server, "bq.query", {"sessionId": sid, "sql": "SELECT sum(v) AS s FROM doubled"})
    assert q["rows"][0]["f"][0]["v"] == 12

    assert call(server, "bq.clearDag", {"sessionId": sid}) == {"success": True}
    assert call(server, "bq.getDag", {"sessionId": sid}) == {"tables": []}


def test_run_dag_failure_and_retry_rpc(server, sid):
    call(server, "bq.registerDag", {
        "sessionId": sid,
        "tables": [
            {"name": "src", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]},
            {"name": "bad", "sql": "SELECT nope FROM src"},
            {"name": "down", "sql": "SELECT * FROM bad"},
        ]})
    run = call(server, "bq.runDag", {"sessionId": sid})
    assert run["success"] is False
    assert [f["table"] for f in run["failedTables"]] == ["bad"]
    assert run["skippedTables"] == ["down"]

    call(server, "bq.registerDag", {
        "sessionId": sid, "tables": [{"name": "bad", "sql": "SELECT v FROM src"}]})
    retry = call(server, "bq.retryDag", {
        "sessionId": sid, "failedTables": ["bad"], "skippedTables": ["down"]})
    assert retry["success"] is True
    assert set(retry["succeededTables"]) >= {"bad", "down"}


def test_catalog_methods(server, sid):
    call(server, "bq.createTable",
         {"sessionId": sid, "tableName": "proj1.ds1.t1",
          "schema": [{"name": "id", "type": "INT64"}]})
    assert call(server, "bq.getProjects", {"sessionId": sid}) == {"projects": ["PROJ1"]}
    assert call(server, "bq.getDatasets", {"sessionId": sid, "project": "proj1"}) == {
        "datasets": ["ds1"]}
    assert call(server, "bq.getTablesInDataset",
                {"sessionId": sid, "project": "proj1", "dataset": "ds1"}) == {
        "tables": ["t1"]}
    lst = call(server, "bq.listTables", {"sessionId": sid})
    assert {"name": "proj1.ds1.t1", "rowCount": 0} in lst["tables"]
    desc = call(server, "bq.describeTable", {"sessionId": sid, "tableName": "proj1.ds1.t1"})
    assert desc == {"name": "proj1.ds1.t1",
                    "schema": [{"name": "id", "type": "INT64"}], "rowCount": 0}


def test_default_project_rpc(server, sid):
    call(server, "bq.createTable",
         {"sessionId": sid, "tableName": "p.d.t",
          "schema": [{"name": "id", "type": "INT64"}]})
    assert call(server, "bq.getDefaultProject", {"sessionId": sid}) == {"project": None}
    call(server, "bq.setDefaultProject", {"sessionId": sid, "project": "p"})
    assert call(server, "bq.getDefaultProject", {"sessionId": sid}) == {"project": "p"}
    q = call(server, "bq.query", {"sessionId": sid, "sql": "SELECT count(*) AS c FROM d.t"})
    assert q["rows"][0]["f"][0]["v"] == 0


def test_session_isolation_rpc(server):
    s1 = call(server, "bq.createSession")["sessionId"]
    s2 = call(server, "bq.createSession")["sessionId"]
    try:
        for sid_, n in [(s1, 1), (s2, 2)]:
            call(server, "bq.createTable",
                 {"sessionId": sid_, "tableName": "users",
                  "schema": [{"name": "id", "type": "INT64"}]})
            call(server, "bq.insert",
                 {"sessionId": sid_, "tableName": "users",
                  "rows": [[i] for i in range(n)]})
        q1 = call(server, "bq.query", {"sessionId": s1, "sql": "SELECT count(*) AS c FROM users"})
        q2 = call(server, "bq.query", {"sessionId": s2, "sql": "SELECT count(*) AS c FROM users"})
        assert q1["rows"][0]["f"][0]["v"] == 1
        assert q2["rows"][0]["f"][0]["v"] == 2
    finally:
        call(server, "bq.destroySession", {"sessionId": s1})
        call(server, "bq.destroySession", {"sessionId": s2})


def test_destroyed_session_unusable(server):
    s = call(server, "bq.createSession")["sessionId"]
    call(server, "bq.destroySession", {"sessionId": s})
    call(server, "bq.query", {"sessionId": s, "sql": "SELECT 1"},
         expect_error=SESSION_NOT_FOUND)


# ---------------------------------------------------------------------------
# WebSocket transport (stdlib RFC 6455 loopback)
# ---------------------------------------------------------------------------


def test_websocket_full_rpc_round_trip(spark):
    """Full JSON-RPC session over the stdlib WebSocket transport
    (reference src/main.rs:181-184, handler.rs:11-43): handshake,
    masked client frames, ping/pong control, a >64KiB response frame
    (64-bit extended length), session lifecycle and a query."""
    import asyncio

    from bq_duckdb_spark import wsproto
    from bq_duckdb_spark.engine import SessionManager
    from bq_duckdb_spark.server import start_websocket

    manager = SessionManager(spark)

    async def scenario():
        ws = await start_websocket(manager, host="127.0.0.1", port=0)
        port = ws.sockets[0].getsockname()[1]
        try:
            reader, writer = await wsproto.client_connect("127.0.0.1", port)

            async def rpc(method, params=None, rid=1):
                await wsproto.client_send_text(
                    writer,
                    json.dumps(
                        {"jsonrpc": "2.0", "id": rid, "method": method,
                         "params": params or {}},
                    ),
                )
                return json.loads(await wsproto.client_recv_text(reader))

            pong = await rpc("bq.ping")
            assert pong["result"] == {"message": "pong"}

            # protocol-level ping must be answered with a pong frame
            writer.write(wsproto.encode_frame(wsproto.OP_PING, b"hi", mask=b"abcd"))
            await writer.drain()
            fin, op, data = await wsproto.read_frame(reader)
            assert (fin, op, data) == (True, wsproto.OP_PONG, b"hi")

            sid = (await rpc("bq.createSession"))["result"]["sessionId"]
            res = await rpc(
                "bq.query",
                {"sessionId": sid,
                 "sql": "SELECT x, repeat('a', 300) AS pad "
                        "FROM UNNEST(GENERATE_ARRAY(1, 400)) AS x"},
                rid=2,
            )
            body = res["result"]
            assert body["totalRows"] == "400"
            assert len(json.dumps(body)) > (1 << 16)  # exercised 64-bit length

            bad = await rpc("bq.nope", rid=3)
            assert bad["error"]["code"] == METHOD_NOT_FOUND

            await rpc("bq.destroySession", {"sessionId": sid}, rid=4)

            # clean close handshake
            writer.write(wsproto.encode_frame(wsproto.OP_CLOSE, b"", mask=b"abcd"))
            await writer.drain()
            fin, op, _ = await wsproto.read_frame(reader)
            assert op == wsproto.OP_CLOSE
            writer.close()
        finally:
            ws.close()
            await ws.wait_closed()

    asyncio.run(scenario())


def test_websocket_rejects_oversized_frame(spark):
    """A frame header declaring a payload over MAX_MESSAGE_BYTES must be
    answered with close 1009 (Message Too Big) BEFORE buffering it —
    the declared length is client-controlled."""
    import asyncio
    import struct

    from bq_duckdb_spark import wsproto
    from bq_duckdb_spark.engine import SessionManager
    from bq_duckdb_spark.server import start_websocket

    async def scenario():
        ws = await start_websocket(SessionManager(spark), host="127.0.0.1", port=0)
        port = ws.sockets[0].getsockname()[1]
        try:
            reader, writer = await wsproto.client_connect("127.0.0.1", port)
            # masked text frame header claiming a 2^40-byte payload
            writer.write(
                bytes([0x80 | wsproto.OP_TEXT, 0x80 | 127])
                + struct.pack(">Q", 1 << 40)
                + b"abcd"
            )
            await writer.drain()
            fin, op, data = await wsproto.read_frame(reader)
            assert op == wsproto.OP_CLOSE
            assert struct.unpack(">H", data[:2])[0] == wsproto.CLOSE_TOO_BIG
            writer.close()
        finally:
            ws.close()
            await ws.wait_closed()

    asyncio.run(scenario())


def test_websocket_rejects_non_upgrade_request(spark):
    """A plain HTTP request gets 400, not a hang."""
    import asyncio

    from bq_duckdb_spark.engine import SessionManager
    from bq_duckdb_spark.server import start_websocket

    async def scenario():
        ws = await start_websocket(SessionManager(spark), host="127.0.0.1", port=0)
        port = ws.sockets[0].getsockname()[1]
        try:
            reader, writer = await asyncio.open_connection("127.0.0.1", port)
            writer.write(b"GET / HTTP/1.1\r\nHost: x\r\n\r\n")
            await writer.drain()
            line = await reader.readline()
            assert b"400" in line
            writer.close()
        finally:
            ws.close()
            await ws.wait_closed()

    asyncio.run(scenario())


def test_load_parquet_cloud_path_is_clean_loader_error(server, sid):
    """GCS/S3 loads (reference bigquery.rs:52-148) need connector jars
    absent here: the boundary must be a LOADER_ERROR with a clear
    message, not a JVM stack trace."""
    from bq_duckdb_spark.server import LOADER_ERROR

    err = call(
        server,
        "bq.loadParquet",
        {"sessionId": sid, "tableName": "t", "path": "gs://bucket/x.parquet"},
        expect_error=LOADER_ERROR,
    )
    assert "connector" in err["message"]


def test_run_dag_incremental_method(server, sid):
    call(server, "bq.registerDag", {"sessionId": sid, "tables": [
        {"name": "src_inc", "schema": [{"name": "v", "type": "INT64"}],
         "rows": [[1], [2]]},
        {"name": "dbl_inc", "sql": "SELECT v * 2 AS v FROM src_inc"},
    ]})
    first = call(server, "bq.runDagIncremental", {"sessionId": sid})
    assert first["success"] and "dbl_inc" in first["succeededTables"]
    # drain pending source rows, re-register identical SQL: pure reuse
    call(server, "bq.registerDag", {"sessionId": sid, "tables": [
        {"name": "src_inc", "schema": [{"name": "v", "type": "INT64"}]},
    ]})
    second = call(server, "bq.runDagIncremental", {"sessionId": sid})
    assert second["success"] and second.get("reusedTables") == ["dbl_inc"]
    assert second["succeededTables"] == []


def test_explain_method_returns_plan_without_running(server, sid):
    call(server, "bq.createTable", {"sessionId": sid, "tableName": "ex_t",
         "schema": [{"name": "v", "type": "INT64"}]})
    # over an empty in-memory table Catalyst folds the aggregate away
    call(server, "bq.insert", {"sessionId": sid, "tableName": "ex_t", "rows": [[1]]})
    res = call(server, "bq.explain", {
        "sessionId": sid,
        "sql": "SELECT v, COUNT(*) AS n FROM ex_t GROUP BY v",
    })
    assert res["mode"] == "formatted"
    assert "HashAggregate" in res["plan"] and "Physical Plan" in res["plan"]
