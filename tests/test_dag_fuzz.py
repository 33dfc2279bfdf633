"""Property fuzz of the DAG run/skip/retry state machine against a
pure-Python model (round-9 brief item 5).

The dep-infer / CTE / topo layers have property tests; the RUN state
machine (succeeded / failed / skipped propagation, target closure,
retry convergence — reference semantics pipeline.rs:222-392,1894-2070)
was only example-tested. Here random DAGs (≤ 14 nodes, mixed sources
and derived tables, planted failing nodes) run through the real engine
in BOTH serial and worker-pool modes and must match a 20-line
reference model:

    status(n) = skipped    if any dep is failed/skipped
                failed     if n is planted to fail
                succeeded  otherwise

evaluated in topological order — plus: retry is idempotent while the
failure persists, and retry_failed converges to all-green once the
failing definitions are healed.
"""

import random

from bq_duckdb_spark.dag import Pipeline


def _make_defs(rng: random.Random, tag: str, n_nodes: int, fail_frac: float):
    """Random DAG: node i depends on 1-3 earlier nodes; ~20% of derived
    nodes are sources instead; fail_frac of derived nodes get a query
    that errors at execution (unknown column) without changing deps."""
    names = [f"{tag}n{i}" for i in range(n_nodes)]
    defs = [
        {"name": names[0], "schema": [{"name": "v", "type": "INT64"}], "rows": [[1]]}
    ]
    deps: dict[str, list[str]] = {names[0]: []}
    fail_set: set[str] = set()
    for i in range(1, n_nodes):
        name = names[i]
        if rng.random() < 0.2:
            defs.append(
                {"name": name, "schema": [{"name": "v", "type": "INT64"}], "rows": [[i]]}
            )
            deps[name] = []
            continue
        ds = rng.sample(names[:i], rng.randint(1, min(3, i)))
        deps[name] = ds
        if rng.random() < fail_frac:
            fail_set.add(name)
            sql = "SELECT no_such_col AS v FROM " + ", ".join(ds)
        else:
            sql = (
                "SELECT "
                + " + ".join(f"{d}.v" for d in ds)
                + " AS v FROM "
                + ", ".join(ds)
            )
        defs.append({"name": name, "sql": sql})
    return defs, deps, fail_set


def _healed(defs):
    out = []
    for d in defs:
        if "sql" in d and "no_such_col" in d["sql"]:
            d = {**d, "sql": d["sql"].replace("no_such_col AS v", "1 AS v")}
        out.append(d)
    return out


def _model(deps, fail_set, subset=None):
    """Reference statuses in topological order."""
    nodes = set(deps) if subset is None else set(subset)
    status: dict[str, str] = {}
    remaining = {n: [d for d in deps[n] if d in nodes] for n in nodes}
    while len(status) < len(nodes):
        progressed = False
        for n in sorted(nodes):
            if n in status or any(d not in status for d in remaining[n]):
                continue
            progressed = True
            if any(status[d] in ("failed", "skipped") for d in remaining[n]):
                status[n] = "skipped"
            elif n in fail_set:
                status[n] = "failed"
            else:
                status[n] = "succeeded"
        assert progressed, "model stuck (cycle?)"
    return status


def _closure(deps, targets):
    out: set[str] = set()
    stack = list(targets)
    while stack:
        n = stack.pop()
        if n in out:
            continue
        out.add(n)
        stack.extend(deps[n])
    return out


def _check(result, pipe, deps, fail_set, subset=None):
    """Statuses match the model, each list in the pipeline's level order."""
    want = _model(deps, fail_set, subset)
    order = [n for level in pipe.topological_sort_levels(subset) for n in level]
    assert result.succeeded == [n for n in order if want[n] == "succeeded"]
    assert [f["table"] for f in result.failed] == [
        n for n in order if want[n] == "failed"
    ]
    assert result.skipped == [n for n in order if want[n] == "skipped"]
    assert result.success == (
        not any(s in ("failed", "skipped") for s in want.values())
    )


def test_run_matches_model(session):
    rng = random.Random(20260816)
    for case in range(6):
        parallel = case % 2 == 1
        tag = f"fz{case}"
        defs, deps, fail_set = _make_defs(
            rng, tag, n_nodes=rng.randint(6, 14), fail_frac=0.25
        )
        pipe = Pipeline(session)
        pipe.register(defs)
        res = pipe.run(parallel=parallel, max_concurrency=4)
        _check(res, pipe, deps, fail_set)


def test_target_closure_matches_model(session):
    rng = random.Random(7)
    for case in range(3):
        tag = f"tz{case}"
        defs, deps, fail_set = _make_defs(rng, tag, n_nodes=12, fail_frac=0.2)
        pipe = Pipeline(session)
        pipe.register(defs)
        targets = rng.sample(sorted(deps), 2)
        res = pipe.run(targets=targets)
        subset = _closure(deps, targets)
        touched = (
            set(res.succeeded) | {f["table"] for f in res.failed} | set(res.skipped)
        )
        assert touched == subset
        _check(res, pipe, deps, fail_set, subset)


def test_retry_idempotent_while_failing(session):
    """With persistent failures, run(retry_count=2) must land on the
    same (succeeded, failed, skipped) partition as a single run."""
    rng = random.Random(99)
    defs, deps, fail_set = _make_defs(rng, "ri", n_nodes=10, fail_frac=0.3)
    pipe = Pipeline(session)
    pipe.register(defs)
    once = pipe.run()
    again = pipe.run(retry_count=2)
    assert set(once.succeeded) == set(again.succeeded)
    assert {f["table"] for f in once.failed} == {f["table"] for f in again.failed}
    assert set(once.skipped) == set(again.skipped)


def test_retry_converges_after_heal(session):
    """Heal every failing definition, retry_failed(prev) → all green,
    with the merged succeeded set covering the whole DAG."""
    rng = random.Random(4242)
    for case in range(3):
        tag = f"hz{case}"
        defs, deps, fail_set = _make_defs(rng, tag, n_nodes=10, fail_frac=0.3)
        if not fail_set:
            continue
        pipe = Pipeline(session)
        pipe.register(defs)
        first = pipe.run(parallel=case % 2 == 0, max_concurrency=4)
        assert not first.success
        pipe.register([d for d in _healed(defs) if d["name"] in fail_set])
        second = pipe.retry_failed(first)
        assert second.success
        assert set(second.succeeded) == set(deps)
        assert not second.failed and not second.skipped
