"""Traced stand-in for ``python -m bq_duckdb_spark.server --transport ws://``.

Installs the span wrappers of ``spans.py`` around the engine, dialect,
result, dag and wsproto functions, builds the same ``RpcServer`` and
serves it through the same ``wsproto.start_ws_server``. Each request runs
under a Spark job tag ``pb-<JSON-RPC id>``. One extra method,
``perfbench.report``, returns the layer figures; every other message goes
to ``RpcServer.handle_message`` unchanged.

    python3 perfbench/traced_server.py <port>
"""

from __future__ import annotations

import asyncio
import json
import os
import re
import sys

import spans as tr

RID = re.compile(r'\{"id": (\d+)')
STATUS_RETENTION = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}


class _TimedReader:
    """StreamReader proxy noting when a frame's first bytes arrived, so
    ``wsproto.read_frame`` is timed from then, not from when it began
    waiting for the next message."""

    def __init__(self, inner):
        self._inner = inner
        self.first_at = None

    async def readexactly(self, n):
        data = await self._inner.readexactly(n)
        if self.first_at is None:
            self.first_at = tr.now()
        return data

    def __getattr__(self, k):
        return getattr(self._inner, k)


def _patch_wsproto(tracer: tr.Tracer) -> None:
    from bq_duckdb_spark import wsproto

    orig_read, orig_encode, orig_serve = (
        wsproto.read_frame, wsproto.encode_frame, wsproto.serve_connection,
    )

    async def read_frame(reader, max_bytes=wsproto.MAX_MESSAGE_BYTES):
        reader.first_at = None
        out = await orig_read(reader, max_bytes)
        if tracer.enabled and reader.first_at is not None:
            tracer.spans.append(["wsproto.read_frame", reader.first_at, tr.now(), None, None, 0.0])
            tracer.counts["wsproto.bytes_in"] += len(out[2])
        return out

    def encode_frame(opcode, payload, mask=None):
        with tracer.span("wsproto.encode_frame"):
            out = orig_encode(opcode, payload, mask)
        if tracer.enabled:
            tracer.counts["wsproto.bytes_out"] += len(out)
        return out

    async def serve_connection(reader, writer, on_text):
        return await orig_serve(_TimedReader(reader), writer, on_text)

    wsproto.read_frame = read_frame
    wsproto.encode_frame = encode_frame
    wsproto.serve_connection = serve_connection


def _insert_files(manager) -> int:
    n = 0
    for session in list(manager._sessions.values()):
        for entry in session.tables.values():
            if entry.insert_dir and os.path.isdir(entry.insert_dir):
                n += sum(f.endswith(".parquet") for f in os.listdir(entry.insert_dir))
    return n


def main() -> None:
    port = int(sys.argv[1])
    tracer = tr.Tracer()
    from bq_duckdb_spark import get_spark
    from bq_duckdb_spark.engine import SessionManager
    from bq_duckdb_spark.server import RpcServer
    from bq_duckdb_spark.wsproto import start_ws_server

    tr.patch_engine(tracer)
    tr.patch_spark_actions(tracer)
    _patch_wsproto(tracer)
    from bq_duckdb_spark import server as server_mod

    encode = server_mod.to_bq_response

    def to_bq_response(df):
        out = encode(df)
        tracer.counts["result.rows"] += len(out["rows"])
        return out

    server_mod.to_bq_response = to_bq_response
    tracer.enabled = True
    spark = get_spark(app_name="bq-duckdb-spark-server", extra_conf=STATUS_RETENTION)
    sc = spark.sparkContext
    manager = SessionManager(spark)
    server = RpcServer(manager)

    def report(params: dict) -> dict:
        t_from = params["t_from"]
        rids = {f"pb-{r}" for r in params.get("rids", [])}
        starts = {}
        want = set(params.get("start_rids", []))
        for name, t0, _t1, _p, rid, _c in tracer.spans:
            if name == "server.handle_message" and rid in want:
                starts[rid] = t0
        totals = tr.spark_totals(sc, lambda tags: bool(rids & set(tags)))
        n_mc, s_mc = tr.child_total(tracer, "spark.count", "engine.materialize", float("-inf"))
        return {
            "layers": tracer.layer_stats(t_from),
            "setup_layers": tracer.layer_stats(float("-inf"), t_from),
            "counts": dict(tracer.counts),
            "spark": totals,
            "handle_starts": starts,
            "materialize_count": [n_mc, s_mc],
            "insert_files_end": _insert_files(manager),
            "span_cost_s": tracer.span_cost_s(),
            "spans": len(tracer.spans),
        }

    def on_text(msg: str) -> str:
        m = RID.match(msg)
        rid = int(m.group(1)) if m else None
        if '"method": "perfbench.report"' in msg[:80]:
            try:
                out = {"result": report(json.loads(msg)["params"])}
            except Exception as e:  # reported to the client, not lost with the connection
                out = {"error": {"code": -32603, "message": repr(e)}}
            return json.dumps({"jsonrpc": "2.0", "id": rid, **out})
        tracer.set_rid(rid)
        tag = f"pb-{rid}"
        sc.addJobTag(tag)
        try:
            with tracer.span("server.handle_message"):
                resp = server.handle_message(msg)
            with tracer.span("server.json_dumps"):
                return json.dumps(resp)
        finally:
            sc.removeJobTag(tag)

    async def serve():
        ws = await start_ws_server(on_text, "127.0.0.1", port)
        async with ws:
            await asyncio.Future()

    asyncio.run(serve())


if __name__ == "__main__":
    main()
