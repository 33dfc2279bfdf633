"""Scalable exact PERCENTILE_CONT for LOW-CARDINALITY groups.

``percentile_cont(q) WITHIN GROUP`` over a 3-value grouping key (the
reference's olap_test.clj:269-275 shape) has an inherent parallelism
ceiling when computed with ``row_number() OVER (PARTITION BY grp ORDER
BY v)``: the hash exchange lands each whole group in ONE task, so a
1000-executor cluster sorts 100 TB on three cores. This operator
computes the identical interpolated percentile with full parallelism:

1. The 0-based rank of each value within its group comes from
   :func:`operators.prefix.range_prefix` grouped on the key, which
   stays parallel no matter how few groups exist.
2. The interpolation ``v[floor(k)] * (1-frac) + v[ceil(k)] * frac``
   with ``k = (n-1) * q`` needs only the <= 2 bracketing ranks per
   (group, quantile): a broadcast of the per-group totals turns the
   selection into a map-side filter, so the final aggregate sees
   ~2 x #groups x #quantiles rows.

At small SF the plain window form wins on stage overhead (measured at
sf0.1: 1.50 s vs 1.72 s); the crossover is already behind us at sf1,
where this form runs 2.6x FASTER (3.1-3.3 s vs the window form's
8.1-8.6 s best-of-3 on 6M rows / 3 groups — BENCH_sf1_r8.json note),
and the gap is the cluster size at 100 TB. Kept as the scalable twin
exactly like ``ntile_scalable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bq_duckdb_spark.operators.prefix import range_prefix


def percentile_cont_scalable(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: list[float],
) -> DataFrame:
    """Exact interpolated percentiles per group: returns one row per
    group with columns ``p_<i>`` for each quantile (caller aliases).

    Matches ``percentile_cont(q) WITHIN GROUP (ORDER BY value)`` for
    every q in ``quantiles``; NULL values must be pre-filtered (the SQL
    form ignores them, a range partitioner would sort them first).
    A NULL GROUP KEY is a group like any other (SQL ``GROUP BY`` keeps
    it): the offsets join in range_prefix and the totals join below use
    ``eqNullSafe`` so the NULL group survives — a plain equi-join on
    ``__g`` would silently drop every row of it (round-9 fix; pinned by
    tests/test_plans.py::test_percentiles_scalable_null_group).
    """
    if not quantiles:
        raise ValueError("quantiles must be non-empty")
    if not all(0.0 <= q <= 1.0 for q in quantiles):
        raise ValueError(f"quantiles must lie in [0, 1], got {quantiles}")
    src = df.select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    ).where(F.col(value_col).isNotNull())
    ranked, slices = range_prefix(
        src, ["__v"], F.row_number(), F.count(F.lit(1)), "__rn",
        group_cols=("__g",),
    )
    # Round-10: bracket ranks + interpolation weights are per-GROUP
    # constants of (n, q) — compute them HERE (one row per group)
    # instead of inlining the DECIMAL floor/ceil/frac arithmetic into
    # the per-row filter and aggregate CASEs (the round-9 form evaluated
    # them on every ranked row). Expressions are textually identical,
    # and the explicit DOUBLE cast of the weight is the same cast the
    # old ``__v * (1.0 - (k - floor(k)))`` performed implicitly, so
    # results are bit-equal (pinned by tests/test_plans.py and the
    # cross-engine oracle).
    bracket_cols = [
        F.expr(e).alias(a)
        for i, q in enumerate(quantiles)
        for e, a in (
            (f"CAST(floor((__n - 1) * {q!r}) AS BIGINT)", f"__f{i}"),
            (f"CAST(ceil((__n - 1) * {q!r}) AS BIGINT)", f"__c{i}"),
            (
                f"CAST(1.0 - (((__n - 1) * {q!r}) - "
                f"floor((__n - 1) * {q!r})) AS DOUBLE)",
                f"__wf{i}",
            ),
            (
                f"CAST((((__n - 1) * {q!r}) - "
                f"floor((__n - 1) * {q!r})) AS DOUBLE)",
                f"__wc{i}",
            ),
        )
    ]
    totals = slices.groupBy("__g").agg(
        F.sum("__t").cast("long").alias("__n")
    ).select("__g", "__n", *bracket_cols)

    # eqNullSafe: see range_prefix
    totals_r = totals.withColumnRenamed("__g", "__g_t")
    ranked = (
        ranked.join(F.broadcast(totals_r), F.col("__g").eqNullSafe(F.col("__g_t")))
        .drop("__g_t")
        .withColumn("__rn", F.col("__rn") - 1)
    )
    # keep only ranks that can bracket some requested quantile — a plain
    # BIGINT IN-list over the precomputed bracket columns (the decimal
    # k/frac arithmetic ran once per group in ``totals`` above); the
    # quantile literals stay SQL DECIMALs there, so both twins still
    # interpolate identically
    keep = " OR ".join(
        f"__rn IN (__f{i}, __c{i})" for i in range(len(quantiles))
    )
    picked = ranked.where(F.expr(keep))

    aggs = []
    for i in range(len(quantiles)):
        aggs.append(
            F.sum(
                F.expr(
                    f"CASE WHEN __rn = __f{i} "
                    f"THEN __v * __wf{i} ELSE 0.0 END "
                    f"+ CASE WHEN __rn = __c{i} "
                    f"AND __c{i} <> __f{i} "
                    f"THEN __v * __wc{i} ELSE 0.0 END"
                )
            ).alias(f"p_{i}")
        )
    return (
        picked.groupBy("__g")
        .agg(*aggs)
        .withColumnRenamed("__g", group_col)
    )


def percentile_interp_sql(
    table: str,
    group_col: str,
    value_col: str,
    quantiles: dict[str, float],
    dialect: str = "duckdb",
    counts_table: str | None = None,
) -> str:
    """Engine-portable EXPLICIT percentile_cont SQL: bracketing-rank
    interpolation with decimal quantile literals and the deterministic
    half-up quantization ``floor(x * 1e4 + 0.5) / 1e4``.

    Why not the native ``percentile_cont``: its interpolation formula is
    engine-internal — DuckDB's differs from ``v_lo*(1-f) + v_hi*f`` by
    1 ulp on ~10% of inputs (measured against 3000 two-point sets; no
    candidate formula, incl. std::lerp and FMA variants, reproduced it
    exactly) — and ``round(x, 4)`` differs AT the 5e-5 boundary (Spark
    rounds the shortest decimal string half-up, DuckDB the binary
    value). The gen_fuzz sweep landed an interpolated p95 exactly on
    that boundary (seed 1). With both sides running THIS text (modulo
    the null-safe-equality spelling), every operation is the same IEEE
    op on the same values, so results are bit-equal at any scale; the
    native function remains independently anchored two ways: (a)
    q_percentiles_approx's bounded oracle holds the sketch inside
    DuckDB's exact rank bracket (eps=1e-4 plus +-1 element), and (b)
    tests/test_percentile_anchor.py compares THIS generated SQL to
    DuckDB's native percentile_cont on randomized doubles with a small
    tolerance, so a semantic bug in the generator cannot pass both
    engines unnoticed.

    ``quantiles`` maps output column name -> quantile; values must have
    exact short decimal literals (0.5, 0.95 — they are embedded as SQL
    DECIMAL literals so k and frac stay exact).

    ``counts_table``: optional pre-materialized per-group count table
    (columns ``{group_col}, n``). The counts CTE is referenced twice
    (broadcast into the bracketing filter AND stream side of the final
    NULL-group-preserving LEFT JOIN); when it points at the base table,
    Spark inlines the CTE and scans the base table three times total.
    :func:`percentile_interp_spark` passes a LocalRelation view here so
    both references are scan-free. The interpolation arithmetic is
    textually identical either way — n has the same BIGINT values — so
    results stay bit-equal with the default (oracle) form.
    """
    eq = "<=>" if dialect == "spark" else "IS NOT DISTINCT FROM"
    hint = "/*+ BROADCAST(c) */ " if dialect == "spark" else ""
    hint_a = "/*+ BROADCAST(a) */ " if dialect == "spark" else ""

    def k(q):
        return f"(n - 1) * {q}"

    # Round-10 optimization (guide §1.2 "per-task work"): the bracketing
    # ranks and interpolation weights depend only on (n, q), yet the
    # round-9 template inlined the DECIMAL floor/ceil/frac arithmetic
    # into the join condition and both aggregate CASEs — evaluated per
    # ROW of the ranking window's output (every row of the fact table).
    # Hoisting them into the per-GROUP ``brk`` relation leaves the
    # per-row work at one BIGINT IN-list probe and a weight multiply;
    # the arithmetic EXPRESSIONS are textually unchanged (same decimal
    # k, same frac, same implicit-turned-explicit DOUBLE cast the old
    # ``v * (1.0 - (k - floor(k)))`` performed), so every picked row,
    # every addend, and every output bit is identical on both engines —
    # verified by tests/test_percentile_anchor.py (native
    # percentile_cont anchor) and the cross-engine oracle gate.
    bracket_cols = ", ".join(
        f"CAST(floor({k(q)}) AS BIGINT) AS __f{i}, "
        f"CAST(ceil({k(q)}) AS BIGINT) AS __c{i}, "
        f"CAST(1.0 - ({k(q)} - floor({k(q)})) AS DOUBLE) AS __wf{i}, "
        f"CAST(({k(q)} - floor({k(q)})) AS DOUBLE) AS __wc{i}"
        for i, q in enumerate(quantiles.values())
    )
    carry_cols = ", ".join(
        f"c.__f{i}, c.__c{i}, c.__wf{i}, c.__wc{i}"
        for i in range(len(quantiles))
    )
    in_list = ", ".join(
        f"c.__{kind}{i}" for i in range(len(quantiles)) for kind in ("f", "c")
    )

    def term(i):
        return (
            f"CASE WHEN CAST(rn AS BIGINT) = __f{i} "
            f"THEN v * __wf{i} ELSE 0.0 END "
            f"+ CASE WHEN CAST(rn AS BIGINT) = __c{i} "
            f"AND __c{i} <> __f{i} "
            f"THEN v * __wc{i} ELSE 0.0 END"
        )

    aggs = ", ".join(
        f"floor(sum({term(i)}) * 10000 + 0.5) / 10000 AS {name}"
        for i, name in enumerate(quantiles)
    )
    out_cols = ", ".join(f"a.{name}" for name in quantiles)
    counts_def = (
        f"SELECT {group_col}, n FROM {counts_table}"
        if counts_table
        else f"SELECT {group_col}, count({value_col}) AS n\n"
        f"    FROM {table} GROUP BY {group_col}"
    )
    return f"""
WITH counts AS (
    {counts_def}
),
brk AS (
    SELECT {group_col}, {bracket_cols}
    FROM counts
),
ranked AS (
    SELECT {group_col}, {value_col} AS v,
           row_number() OVER (PARTITION BY {group_col}
                              ORDER BY {value_col}) - 1 AS rn
    FROM {table} WHERE {value_col} IS NOT NULL
),
picked AS (
    SELECT {hint}r.{group_col}, r.v, r.rn, {carry_cols}
    FROM ranked r JOIN brk c ON r.{group_col} {eq} c.{group_col}
    WHERE CAST(r.rn AS BIGINT) IN ({in_list})
),
agg AS (
    SELECT {group_col}, {aggs}
    FROM picked GROUP BY {group_col}
)
SELECT {hint_a}c.{group_col}, {out_cols}
FROM brk c LEFT JOIN agg a ON c.{group_col} {eq} a.{group_col}
"""


_COUNTS_SEQ = 0


def percentile_interp_spark(
    spark,
    table: str,
    group_col: str,
    value_col: str,
    quantiles: dict[str, float],
):
    """Spark-side runner for :func:`percentile_interp_sql` that scans the
    base table TWICE instead of three times: the per-group count table —
    already assumed broadcast-small by the SQL form (its both uses hash-
    broadcast it) — is computed once, collected (one row per group, the
    same boundedness assumption), and re-registered as a LocalRelation
    temp view. Both counts references in the generated SQL then read the
    in-memory relation: no scan, no re-aggregation, and the final NULL-
    group-preserving LEFT JOIN streams #groups rows instead of a third
    pass over the fact table. Round-10 reclaim of the round-9
    q_percentiles slowdown (r9 3-scan form vs this: PERCENTILE_r10.md;
    re-measure with tools/ab_ref.py). The interpolation arithmetic is
    the same generated text on the same n values, so results are
    bit-identical to the 3-scan form (and to the DuckDB oracle).
    """
    global _COUNTS_SEQ
    _COUNTS_SEQ += 1
    view = f"__pctl_counts_{_COUNTS_SEQ}"
    counts = spark.sql(
        f"SELECT {group_col}, count({value_col}) AS n "
        f"FROM {table} GROUP BY {group_col}"
    )
    # bounded collect: one row per group; the SQL form already
    # broadcasts this exact relation, so #groups <= broadcast threshold
    # is a standing assumption, not a new one
    spark.createDataFrame(counts.collect(), counts.schema) \
        .createOrReplaceTempView(view)
    return spark.sql(
        percentile_interp_sql(
            table, group_col, value_col, quantiles,
            dialect="spark", counts_table=view,
        )
    )
