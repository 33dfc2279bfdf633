"""Graph operators over event streams: transition-edge extraction and
fixed-iteration PageRank.

The reference has no graph surface; this extends the events table the
same way the funnel/retention entries do (contract_tier3) — operators a
product-analytics or crawl-prioritization pipeline runs on Spark because
the data already lives there.

Scale design: PageRank is the canonical iterative Spark workload. Each
iteration is one edges⋈ranks join + one groupBy(dst) shuffle — cost
proportional to |E| per iteration, the optimal shape. The rank frame is
node-sized (≪ edge-sized), so AQE broadcasts it to the join when it
fits; the DataFrame loop only grows the LOGICAL plan (8 iterations is
well under Catalyst's analysis budget — for hundreds you'd checkpoint
every ~20 to cut lineage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DAMPING = 0.85


def transition_edges(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Weighted directed edges between consecutive event types per user:
    ``(src, dst, w)``. One window shuffle on ``user_col``; the count
    aggregation reuses nothing bigger than the transition pairs."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    return (
        events.select(
            F.col(type_col).alias("src"),
            F.lead(type_col).over(w).alias("dst"),
        )
        # a NULL event type is not a node: NULL src edges would count
        # as outflow in one engine's equality joins and as dangling
        # mass in the other's (gen_fuzz finding)
        .filter(F.col("dst").isNotNull() & F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )


def pagerank(
    edges: DataFrame, iters: int = 8, damping: float = DAMPING
) -> DataFrame:
    """PageRank with uniform teleport and dangling-mass redistribution,
    run for a fixed ``iters`` iterations: ``(node, rank)``.

    rank_{t+1}(v) = (1-d)/N + d·(Σ_{u→v} rank_t(u)·w(u,v)/out(u)
                               + dangling_t/N)

    Every per-iteration aggregate (contributions, dangling mass) is a
    distributed groupBy / 1-row agg crossJoin — no driver-side collect
    anywhere. Lineage is broken per iteration with an EAGER
    localCheckpoint: ``rank_t`` feeds both the contribution join and the
    dangling-mass aggregate, so a lazy recurrence would double the
    logical plan every iteration (2^iters copies of the edge pipeline —
    unanalyzable long before it is unrunnable). The checkpointed frame
    is node-sized, executor-local, and reclaimed by the context cleaner
    when unreferenced; edges/nodes/out-weights are checkpointed once so
    the 3 references per iteration rescan a materialized table instead
    of re-running the upstream shuffle 3·iters times.
    """
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # N and the dangling set are TOPOLOGY — constant across iterations.
    # Fetching N once (a single long, like the documented query-vector
    # fetch in ext/contract.py) and inlining it as a literal removes a
    # broadcast-exchange job from every iteration; the checkpointed
    # node frame makes both probes cheap.
    n = float(nodes.count())
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow")).localCheckpoint(
        eager=True
    )
    rank = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    dangling_nodes = nodes.join(
        outw.withColumnRenamed("src", "node"), "node", "left_anti"
    ).localCheckpoint(eager=True)
    has_dangling = bool(dangling_nodes.head(1))
    for _ in range(iters):
        contrib = (
            edges.join(F.broadcast(rank.withColumnRenamed("node", "src")), "src")
            .join(outw, "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("rank * w / ow")).alias("contrib"))
            .withColumnRenamed("dst", "node")
        )
        nxt = nodes.join(contrib, "node", "left")
        if has_dangling:
            # dangling MASS does change per iteration: one 1-row agg
            dangling = rank.join(dangling_nodes, "node").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
            nxt = nxt.crossJoin(F.broadcast(dangling))
        else:
            nxt = nxt.withColumn("dm", F.lit(0.0))
        rank = nxt.select(
            "node",
            F.expr(
                f"(1.0 - {damping}) / {n!r}"
                f" + {damping} * (coalesce(contrib, 0.0) + dm / {n!r})"
            ).alias("rank"),
        ).localCheckpoint(eager=True)
    return rank


def pagerank_oracle_sql(iters: int = 8, damping: float = DAMPING) -> str:
    """The SAME iteration unrolled as chained DuckDB CTEs — generated
    from one loop so the oracle pins the recurrence, not a copy of it.

    Every per-iteration CTE is MATERIALIZED: DuckDB inlines CTEs by
    default, and r_t is referenced twice (contributions + dangling), so
    un-materialized chaining re-evaluates the whole prefix per reference
    — the exact plan-doubling the Spark side breaks with
    localCheckpoint."""
    parts = [
        "WITH tr AS (",
        "    SELECT event_type AS src,",
        "           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst",
        "    FROM events",
        "),",
        "edges AS MATERIALIZED (",
        "    SELECT src, dst, CAST(count(*) AS DOUBLE) AS w",
        "    FROM tr WHERE dst IS NOT NULL AND src IS NOT NULL GROUP BY src, dst",
        "),",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),",
        "outw AS MATERIALIZED (SELECT src, sum(w) AS ow FROM edges GROUP BY src),",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),",
    ]
    d = repr(float(damping))
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        parts += [
            f"c{i} AS MATERIALIZED (",
            f"    SELECT e.dst AS node, sum(r.rank * e.w / o.ow) AS contrib",
            f"    FROM edges e JOIN {prev} r ON e.src = r.node",
            f"    JOIN outw o ON e.src = o.src GROUP BY e.dst",
            f"),",
            f"d{i} AS MATERIALIZED (",
            f"    SELECT COALESCE(sum(r.rank), 0.0) AS dm FROM {prev} r",
            f"    LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL",
            f"),",
            f"r{i} AS MATERIALIZED (",
            f"    SELECT nodes.node,",
            f"           (1.0 - {d}) / nn.n",
            f"           + {d} * (COALESCE(c.contrib, 0.0) + d{i}.dm / nn.n) AS rank",
            f"    FROM nodes CROSS JOIN nn CROSS JOIN d{i}",
            f"    LEFT JOIN c{i} c ON nodes.node = c.node",
            f"),",
        ]
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT node, round(rank, 6) AS rank_r FROM r{iters}"
    )
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# co-occurrence edges + triangle counting
# ---------------------------------------------------------------------------


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group: int = 1000,
) -> DataFrame:
    """Undirected co-occurrence edges ``(u, v)``, ``u < v``: items that
    appear in the same group (parts in the same order, terms in the
    same doc). ONE shuffle on the group key with in-group pair
    expansion (operators/buckets.py's pair expression) — never a
    self-join that shuffles the item table twice. ``max_group`` caps
    pathological groups at their smallest distinct items (pairs grow
    quadratically in group size)."""
    from bq_duckdb_spark.operators.buckets import pairs_expr

    grouped = (
        df.select(F.col(group_col).alias("g"), F.col(item_col).alias("i"))
        .groupBy("g")
        .agg(F.slice(F.array_sort(F.collect_set("i")), 1, max_group).alias("xs"))
        .filter(F.size("xs") > 1)
    )
    return (
        grouped.select(
            F.explode_outer(
                F.expr(pairs_expr("xs", lambda a, b: f"named_struct('u', {a}, 'v', {b})"))
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count of an undirected graph given as distinct
    ``(u, v)`` edges with ``u < v`` — one row out: ``n_triangles``.

    Scale design — the degree-ordered orientation (node-iterator++,
    Schank & Wagner 2005): orient every edge from the endpoint of
    lower ``(degree, id)`` to the higher. The resulting DAG has
    out-degree O(sqrt(|E|)) REGARDLESS of skew — a celebrity vertex of
    degree 10^6 contributes wedges only through its (few) higher-degree
    neighbors, not deg² pairs. Wedge generation is the oriented
    self-join on the low vertex; closure is one more equi-join against
    the oriented edge set. Three shuffles total (degrees, wedges,
    closure), each linear in edges + wedges, wedges already
    skew-bounded by the orientation.

    The edge frame's lineage is referenced several times (degrees, both
    wedge sides, closure); Catalyst's ReuseExchange dedupes the
    identical shuffle subplans at runtime (verified: 9 reused exchanges
    on the co-purchase entry), but when edges are themselves expensive
    to derive, materialize them first (write_bucketed on ``u``) and
    pass the read-back frame — the orientation then reuses the
    at-rest bucketing."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # attach degrees to both endpoints, orient low -> high
    e = (
        edges.join(deg.withColumnRenamed("u", "_du"), F.col("u") == F.col("_du"))
        .withColumnRenamed("deg", "deg_u")
        .drop("_du")
        .join(deg.withColumnRenamed("u", "_dv"), F.col("v") == F.col("_dv"))
        .withColumnRenamed("deg", "deg_v")
        .drop("_dv")
    )
    fwd = F.expr("deg_u < deg_v OR (deg_u = deg_v AND u < v)")
    oriented = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd, F.struct(F.col("deg_v").alias("d"), F.col("v").alias("n")))
        .otherwise(F.struct(F.col("deg_u").alias("d"), F.col("u").alias("n")))
        .alias("hi"),
    )
    # the wedge self-join's exchange on ``lo`` is sized by get_spark's
    # partitioning policy: its per-row cost is the wedge fan-out, which
    # bytes do not show
    a = oriented.select(F.col("lo"), F.col("hi").alias("h1"))
    b = oriented.select(F.col("lo"), F.col("hi").alias("h2"))
    wedges = (
        a.join(b, "lo")
        .where(
            F.expr("h1.d < h2.d OR (h1.d = h2.d AND h1.n < h2.n)")
        )
        .select(F.col("h1.n").alias("wu"), F.col("h2.n").alias("wv"))
    )
    # inner join, not semi: two triangles may share their closing edge
    # (same (wu, wv), different center) — the oriented edge set is
    # distinct, so multiplicity comes only from wedges, one per triangle
    closed = wedges.join(
        oriented.select(F.col("lo").alias("wu"), F.col("hi.n").alias("wv")),
        ["wu", "wv"],
        "inner",
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))
