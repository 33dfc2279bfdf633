"""Parquet tables open from their footers: ``readers.open_parquet`` gives
the schema ``spark.read.parquet`` infers and the row count ``count()``
returns, and loading a table starts no Spark job."""

import datetime
import decimal
import itertools
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bq_duckdb_spark import testdata
from bq_duckdb_spark.engine import _sanitize
from bq_duckdb_spark.server import EXECUTOR_ERROR, RpcServer
from bq_duckdb_spark.sources.readers import open_parquet

TESTDATA = "/root/testdata"
SCALES = ["sf0.001", "sf0.01", "sf0.1"]
TABLES = [
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier",
]


@pytest.fixture()
def nanos_as_long(spark):
    """The conf ``testdata.load_table`` sets for events; without it
    Spark refuses TIMESTAMP(NANOS) columns."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    yield
    spark.conf.set(key, old)


def _assert_like_spark(spark, path):
    df, rows = open_parquet(spark, path)
    inferred = spark.read.parquet(path)
    assert df.schema == inferred.schema
    assert rows == inferred.count()
    return df, rows


@pytest.mark.parametrize("scale", SCALES)
@pytest.mark.parametrize("table", TABLES)
def test_testdata_tables_match_inference(spark, nanos_as_long, scale, table):
    path = f"{TESTDATA}/{scale}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"no {path}")
    _assert_like_spark(spark, path)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_encodings_match_inference(spark, nanos_as_long, tmp_path, unit):
    """``events.ts`` has shipped as TIMESTAMP(MICROS) and as
    TIMESTAMP(NANOS) (a BIGINT under ``nanosAsLong``)."""
    ts = [datetime.datetime(2024, 1, 1, 0, 0, s) for s in range(3)]
    table = pa.table(
        {"event_id": pa.array([1, 2, 3], pa.int64()), "ts": pa.array(ts, pa.timestamp(unit))}
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)
    df, _ = _assert_like_spark(spark, path)
    assert df.schema["ts"].dataType.simpleString() == (
        "bigint" if unit == "ns" else "timestamp_ntz"
    )


def test_exotic_pyarrow_types_match_inference(spark, tmp_path):
    table = pa.table(
        {
            "u8": pa.array([1, 255, None], pa.uint8()),
            "u32": pa.array([1, 2**32 - 1, None], pa.uint32()),
            "u64": pa.array([1, 2**64 - 1, None], pa.uint64()),
            "ts96": pa.array(
                [datetime.datetime(2020, 5, 17, 1, 2, 3), None, None], pa.timestamp("ns")
            ),
            "m": pa.array([{"a": 1}, {}, None], pa.map_(pa.string(), pa.int32())),
            "ls": pa.array(
                [[{"x": 1, "y": "a"}], [], None],
                pa.list_(pa.struct([("x", pa.int64()), ("y", pa.string())])),
            ),
            "dict": pa.array(["a", "b", "a"]).dictionary_encode(),
            "dec": pa.array([decimal.Decimal("1.25"), None, None], pa.decimal128(12, 2)),
            "d": pa.array([datetime.date(2021, 2, 3), None, None], pa.date32()),
        }
    )
    path = str(tmp_path / "exotic.parquet")
    pq.write_table(table, path, use_deprecated_int96_timestamps=True)
    df, rows = _assert_like_spark(spark, path)
    assert rows == 3
    assert df.schema["ts96"].dataType.simpleString() == "timestamp"


def test_spark_written_directory_matches_inference(spark, tmp_path):
    path = str(tmp_path / "multi")
    spark.range(0, 1000, numPartitions=3).selectExpr(
        "id", "CAST(id AS STRING) AS s", "id % 7 = 0 AS b"
    ).write.parquet(path)
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 3
    _df, rows = _assert_like_spark(spark, path)
    assert rows == 1000


@pytest.mark.parametrize(
    "spec, key", [("k", "k"), ("k + 1", "__bq_part")], ids=["column", "expression"]
)
def test_materialized_partitioned_directory_matches_inference(session, spec, key):
    """A column partition writes ``k=…`` directories; an expression
    partition writes ``__bq_part=…`` ones, which Spark's listing keeps
    although they start with ``_``."""
    df = session.spark.range(0, 50).selectExpr("id", "CAST(id % 4 AS BIGINT) AS k")
    assert session.materialize("pt", df, partition_by=spec) == 50
    path = os.path.join(session._warehouse, _sanitize("pt"))
    assert any(d.startswith(f"{key}=") for d in os.listdir(path))
    snap, rows = _assert_like_spark(session.spark, path)
    assert snap.columns[-1] == key
    assert rows == 50
    got = session.table("pt").schema
    assert [(f.name, f.dataType) for f in got] == [(f.name, f.dataType) for f in df.schema]


_tags = itertools.count()


def _jobs_started(spark, fn) -> int:
    """Spark jobs ``fn`` starts, read from the status store by job tag."""
    sc = spark.sparkContext
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    tag = f"open-parquet-{next(_tags)}"
    sc.addJobTag(tag)
    try:
        fn()
    finally:
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = conv.asJava(sc._jsc.sc().statusStore().jobsList(None))
    return sum(tag in list(conv.asJava(j.jobTags())) for j in jobs)


def test_loads_start_no_spark_job(session, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"v": [1, 2, 3]}), path)
    assert _jobs_started(session.spark, lambda: session.load_parquet("t", path)) == 0
    assert session.load_parquet("t", path) == 3
    sf = f"{TESTDATA}/sf0.001"
    for name in ("events", "lineitem"):
        assert _jobs_started(session.spark, lambda: testdata.load_table(session.spark, sf, name)) == 0


def test_materialize_starts_only_its_write(session, tmp_path):
    """The snapshot re-read and its row count start no job: materialize
    starts as many jobs as writing the same frame does."""
    df = session.spark.range(0, 20).selectExpr("id", "id * 2 AS v")
    write = _jobs_started(session.spark, lambda: df.write.parquet(str(tmp_path / "w")))
    assert _jobs_started(session.spark, lambda: session.materialize("m", df)) == write


@pytest.fixture(scope="module")
def server(spark):
    from bq_duckdb_spark.engine import SessionManager

    return RpcServer(SessionManager(spark))


def _load_error(server, path) -> dict:
    sid = server.handle_message(
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "bq.createSession", "params": {}})
    )["result"]["sessionId"]
    resp = server.handle_message(
        json.dumps(
            {
                "jsonrpc": "2.0",
                "id": 2,
                "method": "bq.loadParquet",
                "params": {"sessionId": sid, "tableName": "t", "path": path},
            }
        )
    )
    return resp["error"]


def test_load_parquet_missing_path_error(server, tmp_path):
    path = str(tmp_path / "missing.parquet")
    err = _load_error(server, path)
    assert err["code"] == EXECUTOR_ERROR
    assert "PATH_NOT_FOUND" in err["message"] and path in err["message"]


def test_load_parquet_not_parquet_error(server, tmp_path):
    path = str(tmp_path / "text.parquet")
    with open(path, "w") as f:
        f.write("not parquet at all\n" * 10)
    err = _load_error(server, path)
    assert err["code"] == EXECUTOR_ERROR
    assert "not a parquet file" in err["message"].lower() and path in err["message"]


def test_load_parquet_empty_directory_error(server, tmp_path):
    path = str(tmp_path / "empty")
    os.mkdir(path)
    err = _load_error(server, path)
    assert err["code"] == EXECUTOR_ERROR
    assert "UNABLE_TO_INFER_SCHEMA" in err["message"]
