"""``rpc_mixed``: a JSON-RPC client driving the engine's WebSocket server
in its own process, in two timed phases on one server.

- Interactive phase (``--seconds`` long): connection Q runs a closed
  loop over a seeded BigQuery-SQL mix, in a fixed rotation so every run
  has the same composition: eight small statements (aggregates, joins,
  an alias-QUALIFY window, point lookups) and every 10th statement a
  60k-row scan.
- Pipeline phase (one cycle): connection W, on its own long-lived
  session, sends seeded ``bq.insert`` batches into two stream tables and
  ``bq.query`` reads of them. The traced run also registers and runs a
  10-table DAG on the sources and the stream tables before the window
  (``dag_run_s``; one run takes 6-11 s on 4 cores, more than a window,
  so the untraced run leaves it out).
- Both phases: connection P sends ``bq.ping`` in an open loop every
  100 ms, each timed from when it was due.

Before the timed window every distinct statement runs once and its
result is kept for the DuckDB check.
"""

from __future__ import annotations

import json
import os
import sys
import threading

import numpy as np

import common as cm
import spans as tr
import sqlcheck
from wsclient import WsConn, request

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
N_SMALL, N_LARGE, LARGE_EVERY = 8, 1, 10
PING_INTERVAL_S = 0.1


class Server:
    """The engine's WebSocket server in its own process group: the
    product CLI, or the traced stand-in for ``--trace 1``."""

    def __init__(self, run: cm.Run, traced: bool):
        self.port = cm.free_port()
        if traced:
            argv = [sys.executable, os.path.join(cm.BENCH_DIR, "traced_server.py"), str(self.port)]
        else:
            argv = [
                sys.executable, "-m", "bq_duckdb_spark.server",
                "--transport", f"ws://127.0.0.1:{self.port}",
            ]
        t0 = tr.now()
        self.proc = run.spawn(argv)
        cm.wait_listening(self.port, self.proc)
        self.start_s = tr.now() - t0


def open_session(conn: WsConn, data_dir: str) -> tuple[str, float]:
    """createSession + loadParquet of every table; returns (id, seconds)."""
    t0 = tr.now()
    sid = conn.call("bq.createSession")["sessionId"]
    for t in TABLES:
        conn.call("bq.loadParquet", {"sessionId": sid, "tableName": t, "path": f"{data_dir}/{t}.parquet"})
    return sid, tr.now() - t0


def timed_call(conn: WsConn, frame: bytes) -> tuple[float, bytes]:
    t0 = tr.now()
    conn.send(frame)
    raw = conn.recv()
    return tr.now() - t0, raw


def ok(raw: bytes) -> bool:
    return b'"result"' in raw[:64]


def query_frame(rid: int, sid: str, sql: str) -> bytes:
    return request(rid, "bq.query", {"sessionId": sid, "sql": sql})


def result_of(raw: bytes) -> list | None:
    resp = json.loads(raw)
    return sqlcheck.wire_result(resp["result"]) if "result" in resp else None


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def small_pool(rng, sf: float) -> list[str]:
    n_ord, n_cust, n_users = int(1_500_000 * sf), int(150_000 * sf), max(int(15_000 * sf), 10)
    templates = [
        lambda: (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
            "AVG(l_quantity) AS avg_qty, MAX(l_extendedprice) AS max_price FROM lineitem "
            f"WHERE l_shipdate < TIMESTAMP '{rng.integers(1996, 2001)}-{rng.integers(1, 13):02d}-01' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        lambda: (
            "SELECT n.n_name AS nation_name, COUNT(*) AS n_orders, ROUND(SUM(o.o_totalprice), 2) AS revenue "
            "FROM orders AS o JOIN customer AS c ON o.o_custkey = c.c_custkey "
            "JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
            f"WHERE o.o_orderdate >= TIMESTAMP '{rng.integers(1995, 2001)}-01-01' "
            f"AND o.o_orderpriority = '{rng.choice(['1-URGENT', '2-HIGH', '3-MEDIUM'])}' "
            "GROUP BY n.n_name"
        ),
        lambda: (
            "SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER "
            "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
            f"FROM orders WHERE o_custkey BETWEEN {(a := int(rng.integers(0, n_cust - 60)))} AND {a + 50} "
            "QUALIFY rn <= 2"
        ),
        lambda: (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
            f"FROM orders WHERE o_orderkey = {rng.integers(0, n_ord)}"
        ),
        lambda: (
            "SELECT c.c_name, c.c_acctbal, n.n_name FROM customer AS c "
            "JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
            f"WHERE c.c_custkey = {rng.integers(0, n_cust)}"
        ),
        lambda: (
            "SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users, "
            f"MAX(value) AS max_value FROM events WHERE user_id BETWEEN "
            f"{(u := int(rng.integers(0, max(n_users - 60, 1))))} AND {u + 50} GROUP BY event_type"
        ),
        lambda: (
            "SELECT p.p_type, COUNT(*) AS n, SUM(l.l_quantity) AS qty FROM lineitem AS l "
            "JOIN part AS p ON l.l_partkey = p.p_partkey "
            f"WHERE p.p_brand = 'Brand#{rng.integers(1, 26)}' GROUP BY p.p_type"
        ),
        lambda: (
            "SELECT s.s_name, COUNT(*) AS n FROM lineitem AS l JOIN supplier AS s "
            f"ON l.l_suppkey = s.s_suppkey WHERE l.l_orderkey < {rng.integers(1000, 3000)} "
            "GROUP BY s.s_name ORDER BY n DESC, s.s_name LIMIT 10"
        ),
    ]
    return [templates[i % len(templates)]() for i in range(N_SMALL)]


def large_pool(rng, sf: float) -> list[str]:
    """Scans of about 60k rows at sf0.1 (4 lineitem rows per order)."""
    n_ord = int(1_500_000 * sf)
    out = []
    for _ in range(N_LARGE):
        width = int(n_ord * rng.uniform(58_000, 62_000) / 600_000)
        lo = int(rng.integers(0, n_ord - width))
        out.append(
            "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
            "l_extendedprice, l_discount, l_shipdate FROM lineitem "
            f"WHERE l_orderkey >= {lo} AND l_orderkey < {lo + width}"
        )
    return out



EV_COLS = [
    {"name": "id", "type": "INT64"}, {"name": "user_id", "type": "INT64"},
    {"name": "kind", "type": "STRING"}, {"name": "amount", "type": "FLOAT64"},
    {"name": "ts", "type": "TIMESTAMP"},
]
ORD_COLS = [
    {"name": "order_id", "type": "INT64"}, {"name": "custkey", "type": "INT64"},
    {"name": "status", "type": "STRING"}, {"name": "price", "type": "FLOAT64"},
]
DAG = [
    ("cust_nation", "SELECT c.c_custkey, c.c_nationkey, n.n_name FROM customer AS c "
     "JOIN nation AS n ON c.c_nationkey = n.n_nationkey"),
    ("order_rev", "SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue "
     "FROM orders GROUP BY o_custkey"),
    ("ev_user", "SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(amount), 2) AS spend "
     "FROM ev_stream GROUP BY user_id"),
    ("ord_cust", "SELECT custkey, COUNT(*) AS n_new, ROUND(SUM(price), 2) AS new_value "
     "FROM ord_stream GROUP BY custkey"),
    ("cust_rev", "SELECT cn.c_custkey, cn.n_name, r.n_orders, r.revenue FROM cust_nation AS cn "
     "JOIN order_rev AS r ON cn.c_custkey = r.o_custkey"),
    ("stream_cust", "SELECT cn.n_name, oc.n_new, oc.new_value FROM ord_cust AS oc "
     "JOIN cust_nation AS cn ON oc.custkey = cn.c_custkey"),
    ("ev_top", "SELECT user_id, spend FROM ev_user WHERE n_events >= 2"),
    ("nation_rev", "SELECT n_name, COUNT(*) AS customers, SUM(n_orders) AS total_orders, "
     "ROUND(SUM(revenue), 2) AS revenue FROM cust_rev GROUP BY n_name"),
    ("nation_stream", "SELECT n_name, SUM(n_new) AS new_orders, ROUND(SUM(new_value), 2) AS new_value "
     "FROM stream_cust GROUP BY n_name"),
    ("nation_summary", "SELECT r.n_name, r.customers, r.total_orders, r.revenue, s.new_orders, "
     "s.new_value FROM nation_rev AS r LEFT JOIN nation_stream AS s ON r.n_name = s.n_name"),
]
READS = [
    "SELECT kind, COUNT(*) AS n, MAX(amount) AS top FROM ev_stream GROUP BY kind",
    "SELECT status, COUNT(*) AS n, MAX(price) AS top FROM ord_stream GROUP BY status",
]
EV_BATCH, ORD_BATCH = 500, 200
# Untraced runs keep both stream tables within the engine's 8-deep lazy
# union (Session._INSERT_UNION_MAX): the rebase costs seconds and would
# land at a random point of the window. The traced run adds a write tail
# after the window that takes ev_stream past the rebase and the 64-file
# compaction (Session._INSERT_COMPACT_EVERY), so their costs are measured.
WARM_INSERTS = {"ev": 2, "ord": 2}
UNION_MAX, COMPACT_EVERY = 8, 64
TAIL_INSERTS = UNION_MAX + COMPACT_EVERY
CYCLE = ["ev", "ord", "read", "ev", "read"]


def _stream_rows(rng, n_batches: int, sf: float):
    n_cust = int(150_000 * sf)
    ev, od = [], []
    for b in range(n_batches):
        ids = np.arange(b * EV_BATCH, (b + 1) * EV_BATCH)
        users = rng.integers(0, 2000, EV_BATCH)
        kinds = rng.choice(["click", "view", "buy"], EV_BATCH)
        amounts = np.round(rng.uniform(0, 500, EV_BATCH), 2)
        secs = rng.integers(0, 86_400 * 30, EV_BATCH)
        ev.append([
            [int(i), int(u), str(k), float(a),
             f"2024-01-{1 + s // 86_400:02d} {s % 86_400 // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}"]
            for i, u, k, a, s in zip(ids, users, kinds, amounts, secs)
        ])
        oids = np.arange(b * ORD_BATCH, (b + 1) * ORD_BATCH)
        od.append([
            [int(i), int(c), str(s), float(p)]
            for i, c, s, p in zip(
                oids, rng.integers(0, n_cust, ORD_BATCH),
                rng.choice(["F", "O", "P"], ORD_BATCH), np.round(rng.uniform(10, 5000, ORD_BATCH), 2),
            )
        ])
    return ev, od


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


class Pinger:
    """Open loop: one ping every PING_INTERVAL_S from ``start`` until
    ``stop()``, each timed from when it was due; responses are read on a
    second thread."""

    def __init__(self, conn: WsConn, start: float):
        self.conn, self.start = conn, start
        self.sent: list[tuple[int, float]] = []  # (rid, send time)
        self.late: list[float] = []
        self.latency: list[float] = []
        self.good: list[bool] = []
        self._cv = threading.Condition()
        self._done = False
        self.threads = [threading.Thread(target=self._send), threading.Thread(target=self._recv)]
        for t in self.threads:
            t.start()

    def _send(self) -> None:
        i = 0
        while True:
            rid = 3_000_000 + i
            frame = request(rid, "bq.ping")
            due = self.start + i * PING_INTERVAL_S
            with self._cv:
                if self._cv.wait_for(lambda: self._done, timeout=max(due - tr.now(), 0)):
                    return
            t = tr.now()
            self.conn.send(frame)
            with self._cv:
                self.sent.append((rid, t))
                self.late.append(t - due)
                self._cv.notify_all()
            i += 1

    def _recv(self) -> None:
        while True:
            with self._cv:
                self._cv.wait_for(lambda: len(self.latency) < len(self.sent) or self._done)
                if len(self.latency) >= len(self.sent):
                    return
                i = len(self.latency)
            raw = self.conn.recv()
            self.latency.append(tr.now() - (self.start + i * PING_INTERVAL_S))
            self.good.append(ok(raw))

    def stop(self) -> None:
        with self._cv:
            self._done = True
            self._cv.notify_all()
        self.threads[0].join()
        with self._cv:
            self._cv.notify_all()
        self.threads[1].join()


def mixed(run: cm.Run, args, res: dict) -> None:
    rng = np.random.default_rng(args.seed)
    small, large = small_pool(rng, args.sf), large_pool(rng, args.sf)
    ev_rows, od_rows = _stream_rows(rng, TAIL_INSERTS, args.sf)
    srv = Server(run, args.trace)
    q, w, p = WsConn(srv.port), WsConn(srv.port), WsConn(srv.port)
    setups = []
    sids = []
    for c in (q, w, p):
        sid, dt = open_session(c, run.data)
        sids.append(sid)
        setups.append(dt)
    p.call("bq.destroySession", {"sessionId": sids[2]})
    qsid, wsid = sids[0], sids[1]
    w.call("bq.createTable", {"sessionId": wsid, "tableName": "ev_stream", "schema": EV_COLS})
    w.call("bq.createTable", {"sessionId": wsid, "tableName": "ord_stream", "schema": ORD_COLS})
    w.call("bq.registerDag", {"sessionId": wsid, "tables": [{"name": n, "sql": s} for n, s in DAG]})
    res["setup_s"] = srv.start_s + cm.median(setups)
    res["detail"]["setup.spark_start_s"] = srv.start_s
    cm.log(f"server up in {srv.start_s:.1f}s; session setups {setups}")

    # every frame is built before anything is timed
    qseq = []
    for i in range(4000):
        is_large = i % LARGE_EVERY == LARGE_EVERY - 1
        sql = large[i % N_LARGE] if is_large else small[i % N_SMALL]
        qseq.append((1_000_000 + i, query_frame(1_000_000 + i, qsid, sql), is_large))
    inserts = {
        "ev": [request(10_000 + b, "bq.insert", {"sessionId": wsid, "tableName": "ev_stream", "rows": r})
               for b, r in enumerate(ev_rows)],
        "ord": [request(20_000 + b, "bq.insert", {"sessionId": wsid, "tableName": "ord_stream", "rows": r})
                for b, r in enumerate(od_rows)],
    }
    wlog: list[tuple] = []  # (kind, rid, seconds, ok, rows)
    sent = {"ev": 0, "ord": 0}
    reads = 0

    def wstep(kind: str) -> bytes:
        nonlocal reads
        rid = w.next_id()
        if kind in ("ev", "ord"):
            frame, rows = inserts[kind][sent[kind]], EV_BATCH if kind == "ev" else ORD_BATCH
            rid = (10_000 if kind == "ev" else 20_000) + sent[kind]
            sent[kind] += 1
        elif kind == "dag":
            frame, rows = request(rid, "bq.runDag", {"sessionId": wsid}), 0
        else:
            frame, rows = query_frame(rid, wsid, READS[reads % len(READS)]), 0
            reads += 1
        dt, raw = timed_call(w, frame)
        good = ok(raw) and (kind != "dag" or b'"success": true' in raw[:200])
        wlog.append((kind, rid, dt, good, rows))
        return raw

    # warm-up: every distinct statement once (results kept for the check)
    got_q = {}
    for sql in small + large:
        got_q[sql] = result_of(timed_call(q, query_frame(q.next_id(), qsid, sql))[1])
    cm.log("query warm-up done")
    for kind, n in WARM_INSERTS.items():
        for _ in range(n):
            wstep(kind)
    checked = list(READS)
    if args.trace:  # a DAG run takes most of a window, so only the traced run makes one
        wstep("dag")
        res["detail"]["dag_run_s"] = wlog[-1][2]
        checked += [f"SELECT * FROM {n}" for n, _s in DAG]
    got_w = {sql: result_of(timed_call(w, query_frame(w.next_id(), wsid, sql))[1]) for sql in checked}
    n_warm = len(wlog)
    cm.log("warm-up steps: " + " ".join(f"{k}:{dt:.2f}" for k, _r, dt, _g, _n in wlog))
    res["attempted"] += len(got_q) + len(got_w) + n_warm
    res["failed"] += sum(not x[3] for x in wlog)
    cm.log("warm-up and result capture done")

    qlog: list[tuple] = []  # (rid, large, seconds, ok)
    with cm.TreeSampler(srv.proc.pid) as tree:
        start = tr.now()
        pinger = Pinger(p, start)
        for rid, frame, is_large in qseq:
            if tr.now() >= start + args.seconds:
                break
            dt, raw = timed_call(q, frame)
            qlog.append((rid, is_large, dt, ok(raw)))
        mid = tr.now()
        for kind in CYCLE:
            wstep(kind)
        window = tr.now() - start
        pinger.stop()
    res["rss_peak_mb"] = tree.peak
    cm.log(f"timed window done ({window:.1f}s)")

    wtimed = wlog[n_warm:]
    small_ms = [dt * 1e3 for _r, lg, dt, _ok in qlog if not lg]
    large_ms = [dt * 1e3 for _r, lg, dt, _ok in qlog if lg]
    res["attempted"] += len(qlog) + len(wtimed) + len(pinger.good)
    res["failed"] += sum(not x[3] for x in qlog + wtimed) + sum(not g for g in pinger.good)
    res["cpu_ms_per_op"] = tree.cpu * 1e3 / (len(qlog) + len(wtimed))
    res["heavy_ms"] = cm.median(large_ms) if large_ms else float("nan")

    def w_ms(kind):
        return [dt * 1e3 for k, _r, dt, _ok, _n in wtimed if k == kind]

    ins = [(dt, n) for k, _r, dt, _ok, n in wtimed if k in ("ev", "ord")]
    d = res["detail"]
    d.update({
        "ops_per_s": (len(qlog) + len(wtimed)) / window,
        "query_p50_ms": cm.median(small_ms),
        "query_p90_ms": cm.pct(small_ms, 90),
        "large_query_p50_ms": res["heavy_ms"],
        "queries_per_s": len(qlog) / (mid - start),
        "ping_p90_ms": cm.pct([x * 1e3 for x in pinger.latency], 90),
        "insert_rows_per_s": sum(n for _dt, n in ins) / sum(dt for dt, _n in ins) if ins else 0.0,
        "read_p50_ms": cm.median(w_ms("read")) if w_ms("read") else 0.0,
        "samples": {
            "small": len(small_ms), "large": len(large_ms), "ping": len(pinger.latency),
            **{k: len(w_ms(k)) for k in ("ev", "ord", "read")},
        },
    })

    if args.trace:
        while sent["ev"] < TAIL_INSERTS:
            wstep("ev")
        cm.log("traced write tail done")
        rep = q.call("perfbench.report", {
            "t_from": start,
            "rids": [x[0] for x in qlog] + [x[1] for x in wtimed],
            "start_rids": [rid for rid, _t in pinger.sent],
        })
        waits = [
            (rep["handle_starts"][str(rid)] - t) * 1e3
            for rid, t in pinger.sent
            if str(rid) in rep["handle_starts"]
        ]
        res["layers"] = server_layers(rep, len(qlog) + len(wtimed), window)
        res["layers"]["ping.queue_wait_ms"] = cm.pct(waits, 90) if waits else 0.0
        res["layers"]["ping.generator_late_ms"] = cm.pct([x * 1e3 for x in pinger.late], 90)
    for c in (q, w, p):
        c.close()
    cm.stop_group(srv.proc)

    # the DuckDB check: the query mix on the sources; the pipeline reads
    # on the sources plus the batches inserted before the warm-up DAG run
    con = sqlcheck.duckdb_conn(run.data, TABLES)
    bad = [sql for sql, r in got_q.items() if not sqlcheck.same(r, sqlcheck.duckdb_result(con, sql))]
    con.execute("CREATE TABLE ev_stream (id BIGINT, user_id BIGINT, kind VARCHAR, amount DOUBLE, ts TIMESTAMP)")
    con.execute("CREATE TABLE ord_stream (order_id BIGINT, custkey BIGINT, status VARCHAR, price DOUBLE)")
    con.executemany(
        "INSERT INTO ev_stream VALUES (?, ?, ?, ?, CAST(? AS TIMESTAMP))",
        [r for b in range(WARM_INSERTS["ev"]) for r in ev_rows[b]],
    )
    con.executemany(
        "INSERT INTO ord_stream VALUES (?, ?, ?, ?)",
        [r for b in range(WARM_INSERTS["ord"]) for r in od_rows[b]],
    )
    if args.trace:
        for name, sql in DAG:
            con.execute(f"CREATE TABLE {name} AS {sql}")
    bad += [sql for sql, r in got_w.items() if not sqlcheck.same(r, sqlcheck.duckdb_result(con, sql))]
    res["failed"] += len(bad)
    for sql in bad[:3]:
        print(f"mismatch: {sql[:160]}", file=sys.stderr)


# ---------------------------------------------------------------------------
# per-layer figures from the traced server
# ---------------------------------------------------------------------------


def server_layers(rep: dict, n_ops: int, window: float) -> dict:
    lay, setup = rep["layers"], rep["setup_layers"]

    def per_call_ms(name: str, src=lay) -> float:
        s = src.get(name)
        return s["self_s"] * 1e3 / s["calls"] if s and s["calls"] else 0.0

    def calls(name: str) -> int:
        return lay.get(name, {}).get("calls", 0)

    out = {}
    for name in (
        "server.handle_message", "server.json_dumps", "wsproto.read_frame", "wsproto.encode_frame",
        "engine.query", "dialect.transpile", "spark.collect", "result.encode", "engine.insert",
        "engine.insert_coerce", "engine.insert_rebase", "engine.insert_compact", "engine.materialize",
        "dag.register", "dag.run", "dag.execute_table", "dialect.extract_dependencies",
    ):
        out[f"{name}_ms"] = per_call_ms(name)
    # set-up and the traced DAG run happen before the window
    for name in (
        "engine.load_parquet", "dag.register", "dialect.extract_dependencies", "dag.run",
        "dag.execute_table", "engine.materialize",
    ):
        out[f"{name}_ms"] = out.get(f"{name}_ms") or per_call_ms(name, setup)
    out["engine.insert_rebase_count"] = calls("engine.insert_rebase")
    out["engine.insert_compact_count"] = calls("engine.insert_compact")
    out["engine.insert_files_end"] = rep["insert_files_end"]
    n_mc, s_mc = rep["materialize_count"]
    out["engine.materialize_count_ms"] = s_mc * 1e3 / n_mc if n_mc else 0.0
    counts = rep["counts"]
    out["wsproto.bytes_out"] = counts.get("wsproto.bytes_out", 0) / max(n_ops, 1)
    out["result.rows"] = counts.get("result.rows", 0) / max(n_ops, 1)
    for k, v in rep["spark"].items():
        out[k] = v if k == "spark.storage_rdds_end" else v / max(n_ops, 1)
    out["trace.overhead_pct"] = 100 * rep["span_cost_s"] * rep["spans"] / window
    return out
