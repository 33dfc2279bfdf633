"""JSON-RPC 2.0 server over stdio and WebSocket (stdlib RFC 6455
implementation, bq_duckdb_spark.wsproto) exposing the reference's 22
``bq.*`` methods with identical request/response field names and error
codes.

Wire contract mirrored from the reference:
- methods + dispatch: src/rpc/methods.rs:33-56
- param/result JSON shapes (camelCase): src/rpc/types.rs:94-489
- error codes: src/error.rs:24-34 (Executor −32000, Loader −32001,
  SessionNotFound −32002, InvalidRequest −32600, MethodNotFound −32601,
  Internal −32603, Parse −32700)
- error context ``[method=…, session=…]``: src/error.rs:36-48
- envelope validation (jsonrpc=="2.0"): src/rpc/handler.rs:45-76

``RpcServer.handle_text`` maps one request text to one response text and
is what both transports call; a ``bq.query`` result arrives as JSON text
from the columnar encoder (``result.to_bq_json``) and is spliced into the
envelope unparsed. ``handle_message`` is its dict view for tests and
in-process callers.
"""

from __future__ import annotations

import json
import re
import sys
import uuid as uuid_mod

from bq_duckdb_spark.engine import SessionManager
# to_bq_response (the dict view) stays importable from here:
# perfbench/traced_server.py wraps it
from bq_duckdb_spark.result import to_bq_json, to_bq_response  # noqa: F401

# error codes (reference src/error.rs:24-34)
EXECUTOR_ERROR = -32000
LOADER_ERROR = -32001
SESSION_NOT_FOUND = -32002
INVALID_REQUEST = -32600
METHOD_NOT_FOUND = -32601
INTERNAL_ERROR = -32603
PARSE_ERROR = -32700


class RpcError(Exception):
    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code
        self.message = message


class RpcServer:
    def __init__(self, manager: SessionManager):
        self.manager = manager
        self.methods = {
            "bq.ping": self.ping,
            "bq.createSession": self.create_session,
            "bq.destroySession": self.destroy_session,
            "bq.query": self.query,
            # extension beyond the reference's 22 methods: physical-plan
            # introspection for a submitted query (no execution)
            "bq.explain": self.explain,
            "bq.createTable": self.create_table,
            "bq.insert": self.insert,
            "bq.registerDag": self.register_dag,
            "bq.runDag": self.run_dag,
            # extension beyond the reference's 22 methods: incremental
            # DAG execution (see dag.py run_incremental)
            "bq.runDagIncremental": self.run_dag_incremental,
            "bq.retryDag": self.retry_dag,
            "bq.getDag": self.get_dag,
            "bq.clearDag": self.clear_dag,
            "bq.loadParquet": self.load_parquet,
            "bq.loadCsv": self.load_csv,
            "bq.loadJson": self.load_json,
            "bq.loadOrc": self.load_orc,
            "bq.listTables": self.list_tables,
            "bq.describeTable": self.describe_table,
            "bq.setDefaultProject": self.set_default_project,
            "bq.getDefaultProject": self.get_default_project,
            "bq.getProjects": self.get_projects,
            "bq.getDatasets": self.get_datasets,
            "bq.getTablesInDataset": self.get_tables_in_dataset,
            "bq.loadSqlDirectory": self.load_sql_directory,
            "bq.loadParquetDirectory": self.load_parquet_directory,
            "bq.loadDagFromDirectory": self.load_dag_from_directory,
        }

    # -- envelope ----------------------------------------------------------

    def handle_text(self, raw: str) -> str:
        """One request text → one response text, what both transports
        send. A method returns a dict, or its result already encoded as
        JSON text (``bq.query``: ``to_bq_json``), which is spliced into the
        envelope without being parsed again."""
        try:
            req = json.loads(raw)
        except (json.JSONDecodeError, TypeError):
            return self._error_text(None, PARSE_ERROR, "Parse error")
        if not isinstance(req, dict) or req.get("jsonrpc") != "2.0":
            return self._error_text(None, INVALID_REQUEST, "Invalid request")
        rid = req.get("id")
        method = req.get("method", "")
        params = req.get("params") or {}
        fn = self.methods.get(method)
        if fn is None:
            return self._error_text(rid, METHOD_NOT_FOUND, f"Method not found: {method}")
        try:
            result = fn(params)
            if not isinstance(result, str):
                result = json.dumps(result)
        except RpcError as e:
            msg = self._with_context(e.message, method, params.get("sessionId"))
            return self._error_text(rid, e.code, msg)
        except Exception as e:  # any engine error surfaces as Executor
            msg = self._with_context(str(e), method, params.get("sessionId"))
            return self._error_text(rid, EXECUTOR_ERROR, msg)
        # byte-equal to json.dumps({"jsonrpc": "2.0", "id": rid, "result": ...})
        return f'{{"jsonrpc": "2.0", "id": {json.dumps(rid)}, "result": {result}}}'

    def handle_message(self, raw: str) -> dict:
        """Dict view of ``handle_text`` for tests and in-process callers."""
        return json.loads(self.handle_text(raw))

    @staticmethod
    def _with_context(msg: str, method: str, session_id: str | None) -> str:
        ctx = (
            f"[method={method}, session={session_id}]"
            if session_id
            else f"[method={method}]"
        )
        return f"{ctx} {msg}"

    @staticmethod
    def _error_text(rid, code: int, message: str) -> str:
        return json.dumps(
            {"jsonrpc": "2.0", "id": rid, "error": {"code": code, "message": message}}
        )

    def _session(self, params: dict):
        sid = params.get("sessionId", "")
        try:
            uuid_mod.UUID(sid)
        except (ValueError, AttributeError, TypeError):
            raise RpcError(INVALID_REQUEST, f"Invalid session ID: {sid}")
        try:
            return self.manager.get_session(sid)
        except KeyError:
            raise RpcError(SESSION_NOT_FOUND, f"Session not found: {sid}")

    # -- methods -----------------------------------------------------------

    def ping(self, params: dict) -> dict:
        return {"message": "pong"}

    def create_session(self, params: dict) -> dict:
        return {"sessionId": self.manager.create_session()}

    def destroy_session(self, params: dict) -> dict:
        s = self._session(params)
        self.manager.destroy_session(s.session_id)
        return {"success": True}

    def query(self, params: dict) -> str:
        s = self._session(params)
        return to_bq_json(s.query(params["sql"]))

    def explain(self, params: dict) -> dict:
        """Plan a BigQuery-SQL statement without executing it and return
        Spark's formatted physical plan — what lets a service client
        check pushdown/broadcast/exchange shape before paying for the
        run (the same facts tools/audit_plans.py asserts in tests)."""
        s = self._session(params)
        df = s.query(params["sql"])
        mode = params.get("mode", "formatted")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )
        return {"plan": plan, "mode": mode}

    def create_table(self, params: dict) -> dict:
        s = self._session(params)
        s.create_table(params["tableName"], params["schema"])
        return {"success": True}

    def insert(self, params: dict) -> dict:
        s = self._session(params)
        rows = params.get("rows", [])
        if not rows:
            return {"insertedRows": 0}
        n = s.insert(params["tableName"], rows)
        return {"insertedRows": n}

    def register_dag(self, params: dict) -> dict:
        s = self._session(params)
        dag = s.pipeline.register(params.get("tables", []))
        return {
            "success": True,
            "tables": [
                {"name": t["name"], "dependencies": t["dependencies"]}
                for t in dag["tables"]
            ],
        }

    def run_dag(self, params: dict) -> dict:
        s = self._session(params)
        res = s.pipeline.run(
            targets=params.get("tableNames"),
            retry_count=params.get("retryCount", 0),
        )
        return res.to_dict()

    def run_dag_incremental(self, params: dict) -> dict:
        s = self._session(params)
        res = s.pipeline.run_incremental(targets=params.get("tableNames"))
        return res.to_dict()

    def retry_dag(self, params: dict) -> dict:
        from bq_duckdb_spark.dag import PipelineResult

        s = self._session(params)
        prev = PipelineResult(
            success=False,
            failed=[{"table": t, "error": ""} for t in params.get("failedTables", [])],
            skipped=list(params.get("skippedTables", [])),
        )
        return s.pipeline.retry_failed(prev).to_dict()

    def get_dag(self, params: dict) -> dict:
        s = self._session(params)
        out = []
        for t in s.pipeline.tables.values():
            item = {
                "name": t.name,
                "isSource": t.is_source,
                "dependencies": list(t.dependencies),
            }
            if t.sql is not None:
                item["sql"] = t.sql
            out.append(item)
        return {"tables": out}

    def clear_dag(self, params: dict) -> dict:
        s = self._session(params)
        s.pipeline.clear()
        return {"success": True}

    def load_parquet(self, params: dict) -> dict:
        s = self._session(params)
        try:
            count = s.load_parquet(
                params["tableName"], params["path"], params.get("schema")
            )
        except FileNotFoundError as e:
            raise RpcError(LOADER_ERROR, str(e))
        return {"success": True, "rowCount": count}

    def load_csv(self, params: dict) -> dict:
        s = self._session(params)
        try:
            count = s.load_csv(
                params["tableName"],
                params["path"],
                params.get("schema"),
                header=bool(params.get("header", True)),
                delimiter=params.get("fieldDelimiter", ","),
            )
        except FileNotFoundError as e:
            raise RpcError(LOADER_ERROR, str(e))
        return {"success": True, "rowCount": count}

    def load_json(self, params: dict) -> dict:
        s = self._session(params)
        try:
            count = s.load_json(
                params["tableName"], params["path"], params.get("schema")
            )
        except FileNotFoundError as e:
            raise RpcError(LOADER_ERROR, str(e))
        return {"success": True, "rowCount": count}

    def load_orc(self, params: dict) -> dict:
        s = self._session(params)
        try:
            count = s.load_orc(
                params["tableName"], params["path"], params.get("schema")
            )
        except FileNotFoundError as e:
            raise RpcError(LOADER_ERROR, str(e))
        return {"success": True, "rowCount": count}

    def list_tables(self, params: dict) -> dict:
        s = self._session(params)
        return {"tables": s.list_tables()}

    def describe_table(self, params: dict) -> dict:
        s = self._session(params)
        d = s.describe_table(params["tableName"])
        out = {"name": d["name"], "schema": d["columns"], "rowCount": d["rowCount"]}
        # storage spec keys only when declared (flat reference shape kept)
        for k in ("partitionBy", "clusterBy"):
            if k in d:
                out[k] = d[k]
        return out

    def set_default_project(self, params: dict) -> dict:
        s = self._session(params)
        s.default_project = params.get("project")
        return {"success": True}

    def get_default_project(self, params: dict) -> dict:
        s = self._session(params)
        return {"project": s.default_project}

    def get_projects(self, params: dict) -> dict:
        s = self._session(params)
        return {"projects": s.get_projects()}

    def get_datasets(self, params: dict) -> dict:
        s = self._session(params)
        return {"datasets": s.get_datasets(params["project"])}

    def get_tables_in_dataset(self, params: dict) -> dict:
        s = self._session(params)
        return {"tables": s.get_tables_in_dataset(params["project"], params["dataset"])}

    def _loader_call(self, fn, *args):
        try:
            return fn(*args)
        except FileNotFoundError as e:
            raise RpcError(LOADER_ERROR, str(e))

    def load_sql_directory(self, params: dict) -> dict:
        s = self._session(params)
        out = self._loader_call(s.load_sql_directory, params["rootPath"])
        return {"success": True, "tablesLoaded": out["tables"]}

    def load_parquet_directory(self, params: dict) -> dict:
        s = self._session(params)
        out = self._loader_call(s.load_parquet_directory, params["rootPath"])
        return {"success": True, "tablesLoaded": out["tables"]}

    def load_dag_from_directory(self, params: dict) -> dict:
        s = self._session(params)
        out = self._loader_call(s.load_dag_from_directory, params["rootPath"])
        return {
            "success": True,
            "sourceTables": out["sourceTables"],
            "computedTables": out["computedTables"],
            "dagInfo": [
                {"name": t["name"], "dependencies": t["dependencies"]}
                for t in out["dagInfo"]["tables"]
            ],
        }


# ---------------------------------------------------------------------------
# transports
# ---------------------------------------------------------------------------


def serve_stdio(manager: SessionManager) -> None:
    """Line-delimited JSON-RPC over stdin/stdout
    (reference src/main.rs:128-162)."""
    server = RpcServer(manager)
    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        sys.stdout.write(server.handle_text(line) + "\n")
        sys.stdout.flush()


async def start_websocket(manager: SessionManager, host: str = "0.0.0.0", port: int = 8080):
    """Start the WebSocket transport (reference src/main.rs:181-184) on a
    stdlib RFC 6455 implementation (bq_duckdb_spark.wsproto — no external
    package). Returns the asyncio server; ``port=0`` → ephemeral port.
    One text frame in → handle_text → one text frame out, the
    reference's handler loop (rpc/handler.rs:11-43)."""
    from bq_duckdb_spark.wsproto import start_ws_server

    return await start_ws_server(RpcServer(manager).handle_text, host, port)


async def serve_websocket(manager: SessionManager, host: str = "0.0.0.0", port: int = 8080):
    """Run the WebSocket transport forever (CLI entry)."""
    import asyncio

    ws = await start_websocket(manager, host, port)
    async with ws:
        await asyncio.Future()


def main() -> None:
    """CLI mirroring the reference's invocation surface
    (src/main.rs:81-125): ``--transport stdio`` or
    ``--transport ws://<host>:<port>``."""
    import argparse

    from bq_duckdb_spark import get_spark

    parser = argparse.ArgumentParser(prog="bq-duckdb-spark-server")
    parser.add_argument(
        "--transport",
        default="stdio",
        help="stdio (default) or ws://<host>:<port>",
    )
    args = parser.parse_args()

    manager = SessionManager(get_spark(app_name="bq-duckdb-spark-server"))
    if args.transport == "stdio":
        serve_stdio(manager)
        return
    m = re.match(r"^ws://([^:/]+):(\d+)$", args.transport)
    if not m:
        parser.error(f"invalid transport: {args.transport!r} (stdio or ws://host:port)")
    import asyncio

    asyncio.run(serve_websocket(manager, m.group(1), int(m.group(2))))


if __name__ == "__main__":
    main()
