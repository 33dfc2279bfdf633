"""DAG pipeline golden suite — ports the observable semantics of the
reference's dag_test.clj + src/session/pipeline.rs unit tests."""

import pytest

from tests.conftest import rows


def test_chain_sum_123(session):
    """raw(10,20,30) → step1(*2) → final(SUM+3) = 123 (dag_test.clj:83-91)."""
    session.pipeline.register(
        [
            {"name": "raw", "schema": [{"name": "value", "type": "INT64"}],
             "rows": [[10], [20], [30]]},
            {"name": "step1", "sql": "SELECT value * 2 AS value FROM raw"},
            {"name": "final", "sql": "SELECT SUM(value) + 3 AS total FROM step1"},
        ]
    )
    res = session.pipeline.run()
    assert res.success
    assert rows(session.query("SELECT total FROM final")) == [(123,)]


def test_diamond_with_theta_join(session):
    """source → double_it/triple_it → combined via comma theta join
    (dag_test.clj:101-109)."""
    session.pipeline.register(
        [
            {"name": "source", "schema": [{"name": "n", "type": "INT64"}],
             "rows": [[1], [2], [3]]},
            {"name": "double_it", "sql": "SELECT n * 2 AS doubled FROM source"},
            {"name": "triple_it", "sql": "SELECT n * 3 AS tripled FROM source"},
            {"name": "combined",
             "sql": "SELECT d.doubled, t.tripled FROM double_it d, triple_it t "
                    "WHERE d.doubled = t.tripled - 1"},
        ]
    )
    res = session.pipeline.run()
    assert res.success
    got = rows(session.query("SELECT doubled, tripled FROM combined ORDER BY doubled"))
    assert got == [(2, 3)]  # only 2 = 3 - 1 among {2,4,6} × {3,6,9}


def test_dependency_inference_and_get_dag(session):
    session.pipeline.register(
        [
            {"name": "derived", "sql": "SELECT * FROM src"},
            {"name": "src", "schema": [{"name": "x", "type": "INT64"}], "rows": []},
        ]
    )
    dag = session.pipeline.get_dag()
    by_name = {t["name"]: t for t in dag["tables"]}
    # forward reference resolved after batch re-inference (G1)
    assert by_name["derived"]["dependencies"] == ["src"]
    assert by_name["src"]["isSource"]


def test_topo_levels_alphabetical(session):
    session.pipeline.register(
        [
            {"name": "b_src", "schema": [{"name": "x", "type": "INT64"}], "rows": []},
            {"name": "a_src", "schema": [{"name": "x", "type": "INT64"}], "rows": []},
            {"name": "mid", "sql": "SELECT * FROM a_src UNION ALL SELECT * FROM b_src"},
            {"name": "top", "sql": "SELECT count(*) AS c FROM mid"},
        ]
    )
    levels = session.pipeline.topological_sort_levels()
    assert levels == [["a_src", "b_src"], ["mid"], ["top"]]


def test_cycle_detection(session):
    session.pipeline.register(
        [
            {"name": "a", "sql": "SELECT * FROM b"},
            {"name": "b", "sql": "SELECT * FROM a"},
        ]
    )
    with pytest.raises(ValueError, match="Circular dependency detected"):
        session.pipeline.run()


def test_failure_skips_transitive_dependents(session):
    """Failure marks the table failed; all transitive dependents are
    skipped (pipeline.rs:1894-1978)."""
    session.pipeline.register(
        [
            {"name": "ok_src", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]},
            {"name": "bad", "sql": "SELECT nonexistent_col FROM ok_src"},
            {"name": "child", "sql": "SELECT * FROM bad"},
            {"name": "grandchild", "sql": "SELECT * FROM child"},
            {"name": "independent", "sql": "SELECT v FROM ok_src"},
        ]
    )
    res = session.pipeline.run()
    assert not res.success
    assert [f["table"] for f in res.failed] == ["bad"]
    assert sorted(res.skipped) == ["child", "grandchild"]
    assert "independent" in res.succeeded


def test_retry_after_fix(session):
    session.pipeline.register(
        [
            {"name": "src", "schema": [{"name": "v", "type": "INT64"}], "rows": [[5]]},
            {"name": "bad", "sql": "SELECT broken FROM src"},
            {"name": "down", "sql": "SELECT * FROM bad"},
        ]
    )
    first = session.pipeline.run()
    assert not first.success
    session.pipeline.register([{"name": "bad", "sql": "SELECT v * 2 AS v FROM src"}])
    second = session.pipeline.retry_failed(first)
    assert second.success
    assert sorted(second.succeeded) == ["bad", "down", "src"]
    assert rows(session.query("SELECT v FROM down")) == [(10,)]


def test_target_subset_closure(session):
    """run(targets) computes the transitive dependency closure and runs
    only that subgraph (pipeline.rs:1092-1159)."""
    session.pipeline.register(
        [
            {"name": "src", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]},
            {"name": "mid", "sql": "SELECT v FROM src"},
            {"name": "leaf", "sql": "SELECT v FROM mid"},
            {"name": "unrelated", "sql": "SELECT v FROM src"},
        ]
    )
    res = session.pipeline.run(targets=["leaf"])
    assert res.success
    assert sorted(res.succeeded) == ["leaf", "mid", "src"]
    assert "unrelated" not in res.succeeded


def test_source_reregister_appends(session):
    """Re-running a source registration APPENDS rows
    (dag_test.clj:240-258)."""
    defs = [
        {"name": "src", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1], [2]]}
    ]
    session.pipeline.register(defs)
    session.pipeline.run()
    assert rows(session.query("SELECT count(*) AS c FROM src")) == [(2,)]
    session.pipeline.register(defs)
    session.pipeline.run()
    assert rows(session.query("SELECT count(*) AS c FROM src")) == [(4,)]


def test_derived_rerun_is_snapshot_replace(session):
    """Derived tables are materialized snapshots: re-running reflects new
    source data instead of appending (pipeline.rs:1557-1594)."""
    session.pipeline.register(
        [
            {"name": "src", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]},
            {"name": "dst", "sql": "SELECT sum(v) AS s FROM src"},
        ]
    )
    session.pipeline.run()
    assert rows(session.query("SELECT s FROM dst")) == [(1,)]
    # source re-register appends; derived re-run replaces with new result
    session.pipeline.register(
        [{"name": "src", "schema": [{"name": "v", "type": "INT64"}], "rows": [[10]]}]
    )
    session.pipeline.run()
    assert rows(session.query("SELECT s FROM dst")) == [(11,)]


def test_empty_source_creates_schema(session):
    """Empty result still creates the table with the right columns
    (pipeline.rs:1281-1302; dag_test.clj:230-235)."""
    session.pipeline.register(
        [
            {"name": "empty_source", "schema": [{"name": "id", "type": "INT64"}], "rows": []},
            {"name": "derived", "sql": "SELECT count(*) AS c FROM empty_source"},
        ]
    )
    res = session.pipeline.run()
    assert res.success
    assert rows(session.query("SELECT c FROM derived")) == [(0,)]


def test_parallel_run_matches_serial(session):
    defs = [
        {"name": "s1", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]},
        {"name": "s2", "schema": [{"name": "v", "type": "INT64"}], "rows": [[2]]},
        {"name": "m1", "sql": "SELECT v * 10 AS v FROM s1"},
        {"name": "m2", "sql": "SELECT v * 10 AS v FROM s2"},
        {"name": "top",
         "sql": "SELECT (SELECT sum(v) FROM m1) + (SELECT sum(v) FROM m2) AS total"},
    ]
    session.pipeline.register(defs)
    res = session.pipeline.run(parallel=True, max_concurrency=4)
    assert res.success
    assert rows(session.query("SELECT total FROM top")) == [(30,)]


def test_parallel_failure_skips(session):
    session.pipeline.register(
        [
            {"name": "src", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]},
            {"name": "bad", "sql": "SELECT oops FROM src"},
            {"name": "down", "sql": "SELECT * FROM bad"},
        ]
    )
    res = session.pipeline.run(parallel=True)
    assert not res.success
    assert [f["table"] for f in res.failed] == ["bad"]
    assert res.skipped == ["down"]


def test_dag_jobs_carry_callers_job_tag(session):
    """A job tag set on the calling thread reaches every DAG job, in a
    serial and in a worker-pool run, so cancelling by tag reaches them."""
    sc = session.spark.sparkContext
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    def job_tags() -> dict[int, list[str]]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = conv.asJava(sc._jsc.sc().statusStore().jobsList(None))
        return {j.jobId(): list(conv.asJava(j.jobTags())) for j in jobs}

    session.pipeline.register(
        [
            {"name": "a", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]},
            {"name": "b", "sql": "SELECT v * 2 AS v FROM a"},
            {"name": "c", "sql": "SELECT v + 1 AS v FROM a"},
            {"name": "d", "sql": "SELECT b.v + c.v AS v FROM b, c"},
        ]
    )
    for parallel in (False, True):
        tag = f"dag-caller-{parallel}"
        before = set(job_tags())
        sc.addJobTag(tag)
        try:
            res = session.pipeline.run(parallel=parallel, max_concurrency=4)
        finally:
            sc.removeJobTag(tag)
        assert res.success and res.succeeded == ["a", "b", "c", "d"]
        new = {j: tags for j, tags in job_tags().items() if j not in before}
        assert new
        assert all(tag in tags for tags in new.values()), (parallel, new)


def test_case_insensitive_dependency_matching(session):
    """Dependency matching is case-insensitive (pipeline.rs:1541-1554)."""
    session.pipeline.register(
        [
            {"name": "MyTable", "schema": [{"name": "v", "type": "INT64"}], "rows": [[7]]},
            {"name": "derived", "sql": "SELECT v FROM mytable"},
        ]
    )
    res = session.pipeline.run()
    assert res.success
    assert rows(session.query("SELECT v FROM derived")) == [(7,)]


def test_deep_chain(session):
    """20-deep dependency chain (pipeline.rs:1631-1665)."""
    defs = [{"name": "t0", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]}]
    for i in range(1, 20):
        defs.append({"name": f"t{i}", "sql": f"SELECT v + 1 AS v FROM t{i - 1}"})
    session.pipeline.register(defs)
    res = session.pipeline.run()
    assert res.success
    assert rows(session.query("SELECT v FROM t19")) == [(20,)]


def test_clear_dag(session):
    session.pipeline.register(
        [{"name": "src", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]}]
    )
    session.pipeline.run()
    session.pipeline.clear()
    assert session.pipeline.get_dag() == {"tables": []}
    with pytest.raises(Exception):
        session.query("SELECT * FROM src").collect()


def test_serial_run_order_is_deterministic_alphabetical(session):
    """The reference asserts mock-mode DAG order is alphabetical within
    levels (manager.rs:999-1004) — succeeded list reflects run order."""
    session.pipeline.register([
        {"name": "zeta", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]},
        {"name": "alpha", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]},
        {"name": "mid_b", "sql": "SELECT v FROM alpha"},
        {"name": "mid_a", "sql": "SELECT v FROM zeta"},
    ])
    for _ in range(2):  # stable across reruns
        res = session.pipeline.run()
        assert res.succeeded == ["alpha", "zeta", "mid_a", "mid_b"]


def test_wide_dag(session):
    """Many independent tables in one level (pipeline.rs:1596-1629)."""
    defs = [{"name": "base", "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]}]
    for i in range(15):
        defs.append({"name": f"w{i:02d}", "sql": f"SELECT v + {i} AS v FROM base"})
    session.pipeline.register(defs)
    levels = session.pipeline.topological_sort_levels()
    assert len(levels) == 2 and len(levels[1]) == 15
    res = session.pipeline.run()
    assert res.success and len(res.succeeded) == 16
    from tests.conftest import rows as _rows
    assert _rows(session.query("SELECT v FROM w14")) == [(15,)]


# ---------------------------------------------------------------------------
# incremental runs (beyond the reference)
# ---------------------------------------------------------------------------


def _register_chain(session, rows_=None):
    session.pipeline.register(
        [
            {"name": "raw_i", "schema": [{"name": "value", "type": "INT64"}],
             "rows": rows_},
            {"name": "mid_i", "sql": "SELECT value * 2 AS value FROM raw_i"},
            {"name": "top_i", "sql": "SELECT SUM(value) AS total FROM mid_i"},
            {"name": "side_i", "sql": "SELECT COUNT(*) AS n FROM raw_i"},
        ]
    )


def test_incremental_reuses_unchanged_tables(session):
    _register_chain(session, rows_=[[1], [2]])
    first = session.pipeline.run_incremental()
    assert first.success and not first.reused
    # consume the pending source rows so the second run sees no new data
    session.pipeline.tables["raw_i"].rows = None
    second = session.pipeline.run_incremental()
    assert second.success
    assert sorted(second.reused) == ["mid_i", "side_i", "top_i"]
    assert second.succeeded == []


def test_incremental_sql_change_recomputes_only_downstream(session):
    _register_chain(session, rows_=[[1], [2]])
    session.pipeline.run_incremental()
    session.pipeline.tables["raw_i"].rows = None
    # change mid_i's SQL: mid_i and top_i recompute, side_i is reused
    session.pipeline.register(
        [{"name": "mid_i", "sql": "SELECT value * 10 AS value FROM raw_i"}]
    )
    res = session.pipeline.run_incremental()
    assert res.success
    assert sorted(res.succeeded) == ["mid_i", "top_i"]
    assert res.reused == ["side_i"]
    assert rows(session.query("SELECT total FROM top_i")) == [(30,)]


def test_incremental_source_append_dirties_dependents(session):
    _register_chain(session, rows_=[[1], [2]])
    session.pipeline.run_incremental()
    # source still has rows registered: the run APPENDS (reference
    # semantics) and every dependent recomputes from the grown table
    res = session.pipeline.run_incremental()
    assert res.success
    assert sorted(res.succeeded) == ["mid_i", "raw_i", "side_i", "top_i"]
    assert not res.reused
    assert rows(session.query("SELECT total FROM top_i")) == [(12,)]  # 2*(1+2)*2


def test_incremental_failed_table_stays_stale(session):
    session.pipeline.register(
        [
            {"name": "src_f", "schema": [{"name": "v", "type": "INT64"}],
             "rows": [[1]]},
            {"name": "bad_f", "sql": "SELECT no_such_col FROM src_f"},
        ]
    )
    first = session.pipeline.run_incremental()
    assert not first.success and first.failed
    session.pipeline.tables["src_f"].rows = None
    # fix the SQL: the table is stale (never committed) and recomputes
    session.pipeline.register([{"name": "bad_f", "sql": "SELECT v FROM src_f"}])
    second = session.pipeline.run_incremental()
    assert second.success and second.succeeded == ["bad_f"]


def test_incremental_result_wire_shape_only_extends(session):
    _register_chain(session, rows_=[[1]])
    plain = session.pipeline.run()
    assert set(plain.to_dict()) == {
        "success", "succeededTables", "failedTables", "skippedTables"
    }
    # fingerprints commit only on incremental runs (a plain run after an
    # incremental one over-recomputes, never wrongly reuses), so reuse
    # appears from the second incremental run on
    session.pipeline.tables["raw_i"].rows = None
    session.pipeline.run_incremental()
    inc = session.pipeline.run_incremental()
    assert "reusedTables" in inc.to_dict()


def test_dag_scales_to_wide_and_deep_graphs(session):
    """Orchestrator stress: a 60-table graph (20-deep chain + 39-wide
    fan-out over one root) registers, re-infers dependencies, topo-
    sorts, and runs to success under the worker pool. Guards against
    quadratic-in-tables registration/analysis regressions."""
    defs = [
        {"name": "base_s", "schema": [{"name": "v", "type": "INT64"}],
         "rows": [[1], [2], [3]]},
    ]
    prev = "base_s"
    for i in range(20):  # deep chain
        defs.append({"name": f"c{i:02d}", "sql": f"SELECT v + 1 AS v FROM {prev}"})
        prev = f"c{i:02d}"
    for i in range(39):  # wide fan-out
        defs.append({"name": f"w{i:02d}", "sql": f"SELECT SUM(v) AS s FROM base_s"})
    session.pipeline.register(defs)
    res = session.pipeline.run(parallel=True, max_concurrency=8)
    assert res.success and len(res.succeeded) == 60
    assert rows(session.query("SELECT v FROM c19 ORDER BY v")) == [
        (21,), (22,), (23,)
    ]
