"""DAG pipeline: register / infer deps / topo-sort / run / retry.

Re-implements the reference's orchestration layer
(src/session/pipeline.rs) — the one subsystem the reference implements
itself rather than delegating to its SQL engine:

- G1 register: upsert defs, classify source (no SQL) vs derived, re-infer
  every table's dependencies after each batch so forward references
  resolve (pipeline.rs:114-172).
- G4 topo sort into levels, alphabetical within a level, "Circular
  dependency detected" on cycles (pipeline.rs:424-481).
- G5/G6 one dependency-driven scheduler: tables start in level order as
  soon as their dependencies succeeded, at most ``workers`` at a time.
  The reference keeps two run loops, one per backend; here one worker
  is its deterministic serial run (pipeline.rs:222-252) and
  ``parallel=True`` its worker pool capped at ``max_concurrency``
  (default 8, pipeline.rs:48,254-346).
- G7 target-subset closure (pipeline.rs:394-414), G10 retry of
  failed+skipped (manager.rs:102-160), G8/G9 materialization semantics:
  derived = full snapshot replace; source = create-if-not-exists +
  append rows on re-run (pipeline.rs:511-593; dag_test.clj:240-258).
"""

from __future__ import annotations

import hashlib
import heapq
import threading
from concurrent.futures import FIRST_COMPLETED, Executor, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target

from bq_duckdb_spark.dialect import extract_dependencies

DEFAULT_MAX_CONCURRENCY = 8


@dataclass
class PipelineTable:
    name: str
    sql: str | None = None
    columns: list[dict] | None = None  # BQ ColumnDef dicts (source tables)
    rows: list | None = None
    dependencies: list[str] = field(default_factory=list)
    # dbt-style data tests (extension beyond the reference): run after
    # the table materializes; any violation fails the table, and the
    # existing failure machinery skips its transitive dependents
    tests: list[dict] = field(default_factory=list)

    @property
    def is_source(self) -> bool:
        return self.sql is None


class DataTestFailure(Exception):
    """A table materialized but violated one of its data tests."""


@dataclass
class PipelineResult:
    success: bool
    succeeded: list[str] = field(default_factory=list)
    failed: list[dict] = field(default_factory=list)  # {"table":…, "error":…}
    skipped: list[str] = field(default_factory=list)

    reused: list[str] = field(default_factory=list)  # incremental runs only

    def to_dict(self) -> dict:
        d = {
            "success": self.success,
            "succeededTables": self.succeeded,
            "failedTables": self.failed,
            "skippedTables": self.skipped,
        }
        # extension key, present only on incremental runs — the plain-run
        # wire shape stays byte-identical to the reference's
        if self.reused:
            d["reusedTables"] = self.reused
        return d


class _InlineExecutor(Executor):
    """Runs each task on the calling thread inside ``submit``, so a
    one-worker run keeps the caller's thread-local state (Spark job tags
    and local properties, tracing span stacks)."""

    def submit(self, fn, /, *args, **kwargs) -> Future:
        fut: Future = Future()
        try:
            fut.set_result(fn(*args, **kwargs))
        except Exception as e:
            fut.set_exception(e)
        return fut


class Pipeline:
    def __init__(self, session):
        self.session = session
        self.tables: dict[str, PipelineTable] = {}  # key: lower-cased name
        self._lock = threading.RLock()
        # incremental-run bookkeeping (beyond the reference), keyed like
        # ``tables``: fingerprint at last successful materialization per
        # derived table, and a monotone version per source bumped on
        # every append
        self._last_fp: dict[str, str] = {}
        self._source_versions: dict[str, int] = {}

    # -- registration (G1/G2) ----------------------------------------------

    def register(self, defs: list[dict]) -> dict:
        """Upsert table definitions. Each def: {"name", "sql"?, "schema"?,
        "rows"?}. After the batch, dependencies are re-inferred for EVERY
        registered table so forward references resolve regardless of
        registration order (pipeline.rs:114-172). Names match
        case-insensitively; the value keeps the latest registered
        spelling (pipeline.rs:1541-1554)."""
        with self._lock:
            for d in defs:
                name = d["name"]
                self.tables[name.lower()] = PipelineTable(
                    name=name,
                    sql=d.get("sql"),
                    columns=d.get("schema"),
                    rows=d.get("rows"),
                    tests=d.get("tests") or [],
                )
            self._reinfer_all_dependencies()
            return self.get_dag()

    def _reinfer_all_dependencies(self) -> None:
        known = [t.name for t in self.tables.values()]
        for t in self.tables.values():
            if t.is_source:
                t.dependencies = []
            else:
                deps = extract_dependencies(t.sql, known)
                t.dependencies = [d for d in deps if d.lower() != t.name.lower()]

    # -- topo sort (G4) ----------------------------------------------------

    def topological_sort_levels(self, subset: set[str] | None = None) -> list[list[str]]:
        """Kahn's algorithm into levels; alphabetical within a level for
        deterministic serial order (pipeline.rs:424-481; determinism
        asserted by manager.rs:999-1004)."""
        with self._lock:
            names = {t.name for t in self.tables.values()}
            if subset is not None:
                names = {n for n in names if n in subset}
            indeg = {}
            dependents: dict[str, list[str]] = {n: [] for n in names}
            for n in names:
                deps = [d for d in self.tables[n.lower()].dependencies if d in names]
                indeg[n] = len(deps)
                for d in deps:
                    dependents[d].append(n)
            levels = []
            ready = sorted([n for n in names if indeg[n] == 0], key=str.lower)
            seen = 0
            while ready:
                levels.append(ready)
                seen += len(ready)
                nxt = []
                for n in ready:
                    for m in dependents[n]:
                        indeg[m] -= 1
                        if indeg[m] == 0:
                            nxt.append(m)
                ready = sorted(nxt, key=str.lower)
            if seen != len(names):
                raise ValueError("Circular dependency detected")
            return levels

    # -- target closure (G7) -----------------------------------------------

    def _closure(self, targets: list[str]) -> set[str]:
        with self._lock:
            out: set[str] = set()
            stack = list(targets)
            while stack:
                t = self.tables.get(stack.pop().lower())
                if t is None or t.name in out:
                    continue
                out.add(t.name)
                stack.extend(t.dependencies)
            return out

    # -- execution (G5/G6/G8/G9) -------------------------------------------

    def run(
        self,
        targets: list[str] | None = None,
        retry_count: int = 0,
        parallel: bool = False,
        max_concurrency: int = DEFAULT_MAX_CONCURRENCY,
    ) -> PipelineResult:
        workers = max_concurrency if parallel else 1
        subset = self._closure(targets) if targets else None
        result = self._run_subset(subset, workers)
        for _ in range(retry_count):
            if result.success:
                break
            result = self._retry(result, workers)
        return result

    def run_incremental(
        self,
        targets: list[str] | None = None,
        parallel: bool = False,
        max_concurrency: int = DEFAULT_MAX_CONCURRENCY,
    ) -> PipelineResult:
        """Incremental DAG run (beyond the reference): recompute ONLY the
        derived tables whose inputs changed — an unchanged-SQL table all
        of whose transitive sources are unchanged is REUSED as-is.

        Change tracking is a recursive content fingerprint:
        ``fp(derived) = sha1(sql, fp(dep)...)`` and ``fp(source) =
        its append-version`` (bumped every time a source def with rows
        executes — reference semantics append on every run, so a source
        registered WITH rows is always "new data" and a source def
        without rows never dirties its dependents). A changed SQL or a
        fresh append therefore invalidates exactly the downstream
        closure, transitively, with no explicit edge walk. Fingerprints
        commit only on successful materialization, so a failed table
        stays stale and re-runs next time.

        At 100 TB this is the difference between re-running one branch
        and re-running the warehouse; the fingerprint map is
        tables-sized driver state.
        """
        workers = max_concurrency if parallel else 1
        with self._lock:
            names = self._closure(targets) if targets else {t.name for t in self.tables.values()}
            tables = [self.tables[n.lower()] for n in names]
            # 1. sources with pending rows append (reference run
            # semantics; a failed append keeps the source's version); a
            # source without rows only has to exist for its dependents
            for t in tables:
                if t.is_source and not t.rows:
                    self.session.create_table(t.name, t.columns or [], if_not_exists=True)
            appends = {t.name for t in tables if t.is_source and t.rows}
            appended = self._run_subset(appends, workers)
            for name in appended.succeeded:
                key = name.lower()
                self._source_versions[key] = self._source_versions.get(key, 0) + 1
            # 2. fingerprint every derived subset member against the last run
            memo: dict[str, str] = {}
            derived = [t.name for t in tables if not t.is_source]
            stale = {
                n for n in derived if self._fingerprint(n, memo) != self._last_fp.get(n.lower())
            }
            # 3. recompute only the stale tables, normal skip semantics
            rebuilt = self._run_subset(stale, workers)
            for name in rebuilt.succeeded:
                self._last_fp[name.lower()] = memo[name.lower()]
            failed = appended.failed + rebuilt.failed
            return PipelineResult(
                success=not failed and not rebuilt.skipped,
                succeeded=sorted(appended.succeeded + rebuilt.succeeded, key=str.lower),
                failed=failed,
                skipped=rebuilt.skipped,
                reused=sorted((n for n in derived if n not in stale), key=str.lower),
            )

    def _fingerprint(self, name: str, memo: dict[str, str]) -> str:
        key = name.lower()
        if key in memo:
            return memo[key]
        t = self.tables[key]
        if t.is_source:
            fp = f"src:{self._source_versions.get(key, 0)}"
        else:
            dep_fps = ",".join(
                self._fingerprint(d, memo) for d in sorted(t.dependencies)
            )
            fp = hashlib.sha1(
                (t.sql or "").encode() + b"|" + dep_fps.encode()
            ).hexdigest()
        memo[key] = fp
        return fp

    def retry_failed(self, prev: PipelineResult, parallel: bool = False) -> PipelineResult:
        """Standalone ``bq.retryDag`` (pipeline.rs:188-201)."""
        return self._retry(prev, DEFAULT_MAX_CONCURRENCY if parallel else 1)

    def _retry(self, prev: PipelineResult, workers: int) -> PipelineResult:
        """Re-run ``prev``'s failed and skipped tables; the succeeded list
        merges both runs, alphabetically."""
        retry_set = {f["table"] for f in prev.failed} | set(prev.skipped)
        if not retry_set:
            return PipelineResult(success=True, succeeded=prev.succeeded)
        res = self._run_subset(retry_set, workers)
        res.succeeded = sorted(set(prev.succeeded) | set(res.succeeded), key=str.lower)
        return res

    def _run_subset(self, subset: set[str] | None, workers: int) -> PipelineResult:
        """Run ``subset`` (every table when None) on one dependency-driven
        loop (pipeline.rs:222-381). A table starts once its in-subset
        dependencies succeeded, lowest level-order position first, with
        at most ``workers`` in flight; a table whose dependency failed or
        was skipped is skipped. Result lists are in level order.

        One worker runs each table on the calling thread. More run in a
        thread pool whose threads inherit the caller's Spark job tags and
        local properties; Spark's scheduler is thread-safe, so concurrent
        ``spark.sql`` actions simply become concurrent jobs."""
        if workers < 1:
            raise ValueError(f"max_concurrency must be at least 1, got {workers}")
        order = [n for level in self.topological_sort_levels(subset) for n in level]
        rank = {n: i for i, n in enumerate(order)}
        deps = {n: [d for d in self.tables[n.lower()].dependencies if d in rank] for n in order}
        dependents: dict[str, list[str]] = {n: [] for n in order}
        for n in order:
            for d in deps[n]:
                dependents[d].append(n)
        waiting = {n: len(deps[n]) for n in order}
        status: dict[str, str] = {}
        errors: dict[str, str] = {}
        ready = [rank[n] for n in order if not deps[n]]  # ascending: a heap

        def settle(name: str, state: str) -> None:
            status[name] = state
            stack = [name]
            while stack:
                for m in dependents[stack.pop()]:
                    waiting[m] -= 1
                    if waiting[m]:
                        continue
                    if all(status[d] == "succeeded" for d in deps[m]):
                        heapq.heappush(ready, rank[m])
                    else:
                        status[m] = "skipped"
                        stack.append(m)

        running: dict[Future, str] = {}
        pooled = workers > 1
        with ThreadPoolExecutor(workers) if pooled else _InlineExecutor() as pool:
            while ready or running:
                while ready and len(running) < workers:
                    name = order[heapq.heappop(ready)]
                    fn = self.execute_table
                    if pooled:
                        # wrapped per table: each call gets its own copy of
                        # the caller's local properties; with one shared
                        # copy, concurrent tables overwrite each other's
                        # SQL execution id and jobs land under wrong queries
                        fn = inheritable_thread_target(self.session.spark)(fn)
                    running[pool.submit(fn, self.tables[name.lower()])] = name
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = running.pop(fut)
                    err = fut.exception()
                    if err is not None:
                        errors[name] = str(err)
                    settle(name, "succeeded" if err is None else "failed")
        return PipelineResult(
            success=all(s == "succeeded" for s in status.values()),
            succeeded=[n for n in order if status[n] == "succeeded"],
            failed=[{"table": n, "error": errors[n]} for n in order if status[n] == "failed"],
            skipped=[n for n in order if status[n] == "skipped"],
        )

    def execute_table(self, t: PipelineTable) -> None:
        """Materialize one table (pipeline.rs:511-593).

        derived: full snapshot replace (DROP + CREATE from query result in
        the reference → one ``materialize`` here).
        source: create-if-not-exists + INSERT rows — re-running a source
        registration APPENDS (dag_test.clj:240-258).
        """
        if t.is_source:
            self.session.create_table(t.name, t.columns or [], if_not_exists=True)
            if t.rows:
                self.session.insert(t.name, t.rows)
        else:
            df = self.session.query(t.sql)
            self.session.materialize(t.name, df)
        self._run_table_tests(t)

    # -- data tests (extension beyond the reference) -----------------------

    @staticmethod
    def _qident(name: str) -> str:
        """Backtick-quote one identifier (backticks doubled)."""
        return "`" + name.replace("`", "``") + "`"

    def _table_columns(self, table: str) -> list[str] | None:
        """Registered column names for ``table`` (None if unresolvable —
        validation is then skipped rather than failing the test run)."""
        key = self.session._resolve_key(table)
        if key is None:
            return None
        return [c["name"] for c in self.session.tables[key].columns or []]

    def _test_sql(self, table: str, rule: dict) -> tuple[str, str]:
        """(rule label, SQL returning ONE violation count). Rule kinds
        mirror ext/validate.py; `expression` is a per-row predicate
        every row must satisfy (the dbt convention).

        Rule column names are validated against the table's registered
        schema and backtick-quoted before interpolation, so names with
        quotes/spaces/dots are safe. The raw `expression` predicate is
        TRUSTED CONFIG (like a dbt test body): whoever can write the
        pipeline definition already controls the SQL the DAG runs."""
        kind = rule.get("type")
        known = self._table_columns(table)

        # case-insensitive like Spark's (and BigQuery's) column resolution
        known_ci = None if known is None else {c.lower() for c in known}

        def check(cols: list[str]) -> None:
            if known_ci is None:
                return
            for c in cols:
                if c.lower() not in known_ci:
                    raise ValueError(
                        f"data test on {table} references unknown column {c!r}"
                    )

        if kind == "unique":
            check(rule["columns"])
            cols = ", ".join(self._qident(c) for c in rule["columns"])
            return (
                "unique:" + ",".join(rule["columns"]),
                f"SELECT coalesce(sum(n - 1), 0) FROM "
                f"(SELECT count(*) AS n FROM {table} GROUP BY {cols})",
            )
        if kind == "not_null":
            cols = rule["columns"]
            check(cols)
            cond = " OR ".join(f"{self._qident(c)} IS NULL" for c in cols)
            return (
                "not_null:" + ",".join(cols),
                f"SELECT count(*) FROM {table} WHERE {cond}",
            )
        if kind == "accepted_values":
            col = rule["column"]
            check([col])
            qcol = self._qident(col)
            vals = ", ".join(
                "'" + str(v).replace("'", "''") + "'" if isinstance(v, str) else str(v)
                for v in rule["values"]
            )
            return (
                f"accepted:{col}",
                f"SELECT count(*) FROM {table} "
                f"WHERE {qcol} IS NOT NULL AND {qcol} NOT IN ({vals})",
            )
        if kind == "expression":
            pred = rule["predicate"]
            return (
                rule.get("name", f"expression:{pred}"),
                f"SELECT count(*) FROM {table} WHERE NOT ({pred})",
            )
        raise ValueError(f"unknown data-test type: {kind!r}")

    def _run_table_tests(self, t: PipelineTable) -> None:
        for rule in t.tests:
            label, sql = self._test_sql(t.name, rule)
            n = self.session.query(sql).collect()[0][0]
            if n:
                raise DataTestFailure(
                    f"data test failed on {t.name}: {label} "
                    f"({n} violation{'s' if n != 1 else ''})"
                )

    # -- introspection (G11/G12) -------------------------------------------

    def get_dag(self) -> dict:
        with self._lock:
            return {
                "tables": [
                    {
                        "name": t.name,
                        "isSource": t.is_source,
                        "dependencies": list(t.dependencies),
                    }
                    for t in self.tables.values()
                ]
            }

    def clear(self) -> None:
        """Drop every registered table, then empty the registry
        (pipeline.rs:483-502)."""
        with self._lock:
            for t in self.tables.values():
                try:
                    self.session.drop_table(t.name, if_exists=True)
                except Exception:
                    pass
            self.tables.clear()
            self._last_fp.clear()
            self._source_versions.clear()
