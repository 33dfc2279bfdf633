"""The Python-worker daemon (``bq_duckdb_spark.pyworker``): zip archives
on ``sys.path`` are re-read by ``importlib.invalidate_caches()`` only
after they change, and workers import the package wherever the driver
runs. Both run in fresh interpreters: the patch is process-wide."""

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

_ZIP_PROBE = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    def write(path, modules):
        with zipfile.ZipFile(path, "w") as z:
            for name in modules:
                z.writestr(name, "X = 1\\n")

    archive = sys.argv[1]
    write(archive, ["pkg/__init__.py", "pkg/sub/__init__.py", "pkg/sub/a.py"])
    sys.path.insert(0, archive)
    import pkg.sub.a  # one importer for the archive, one per package in it

    from bq_duckdb_spark import pyworker
    pyworker.install()
    reads = []
    original = zipimport._read_directory
    zipimport._read_directory = lambda p: reads.append(p) or original(p)

    importers = sum(
        isinstance(f, zipimport.zipimporter) and f.archive == archive
        for f in sys.path_importer_cache.values()
    )
    for _ in range(3):
        importlib.invalidate_caches()
    unchanged = reads.count(archive)
    write(archive, ["pkg/__init__.py", "pkg/sub/__init__.py", "pkg/sub/a.py", "pkg/sub/b.py"])
    for _ in range(3):
        importlib.invalidate_caches()
    import pkg.sub.b  # the new entry is visible
    print(importers, unchanged, reads.count(archive))
    """
)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="invalidate_caches is lazy from 3.13")
def test_archive_reread_only_after_it_changes(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE, str(tmp_path / "lib.zip")],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    importers, unchanged, changed = map(int, out)
    assert importers >= 2
    assert unchanged == 0
    assert changed == 1


_RPC_PROBE = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from bq_duckdb_spark import get_spark
    from bq_duckdb_spark.engine import SessionManager
    from bq_duckdb_spark.server import RpcServer

    server = RpcServer(SessionManager(get_spark(cpus=2)))

    def call(rid, method, params):
        msg = {"jsonrpc": "2.0", "id": rid, "method": method, "params": params}
        return server.handle_message(json.dumps(msg))

    sid = call(1, "bq.createSession", {})["result"]["sessionId"]
    sql = "SELECT x, FARM_FINGERPRINT(x) AS f FROM UNNEST(['', 'abc', 'hello world']) AS x"
    print(json.dumps(call(2, "bq.query", {"sessionId": sid, "sql": sql})))
    """
)


def test_farm_fingerprint_rpc_from_another_directory(tmp_path):
    """The pandas UDF runs in a Python worker; the driver has the package
    on ``sys.path`` only, from a directory that does not hold it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _RPC_PROBE, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    resp = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "error" not in resp, resp["error"]["message"][:2000]
    got = {r["f"][0]["v"]: r["f"][1]["v"] for r in resp["result"]["rows"]}
    assert got == {
        "": -7286425919675154353,
        "abc": 2640714258260161385,
        "hello world": 6381520714923946011,
    }
