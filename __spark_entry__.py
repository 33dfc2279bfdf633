"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus the
ext/ training-data operators) to a (spark, sf_dir) -> DataFrame callable;
``oracle_sql()`` gives the DuckDB-equivalent SQL for the correctness gate.

Conventions for oracle parity:
- every computed column is aliased identically on both sides;
- float aggregates are ROUND()ed (sum→2dp, avg→4dp) so double summation
  order can't flip the value hash;
- BIGINT casts on both sides where DuckDB widens (sum(BIGINT)→HUGEINT,
  len()→BIGINT vs Spark size()→INT);
- timestamps are compared via explicit literals / unix microseconds.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


from bq_duckdb_spark.testdata import load_table as _t


def _register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        _t(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# core relational queries (SURVEY §2.2-2.9)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter → groupBy → multi-agg (A1,A2,A3,A6,A10,O1).

    Scale: map-side partial aggregation into 6 groups — no skew risk; the
    shipdate filter is pushed into the parquet scan.
    """
    li = _t(spark, sf_dir, "lineitem")

    # Price sums accumulate in DECIMAL(30, 6): a double sum's
    # accumulation-order error grows with row count, and at sf1 the
    # 2.8e10 sum_charge landed 0.01 apart across engines — ON the 2dp
    # rounding boundary (ORACLE_sf1_r7 finding). The per-row double
    # product is identical in both engines (same left-assoc IEEE ops);
    # decimal addition is exact and order-independent, so the order-
    # dependence class is eliminated at ANY scale — which is also the
    # faithful TPC-H reading (the spec types these columns DECIMAL).
    # Caveat: the double->decimal cast paths differ (Spark rounds the
    # shortest-decimal string, DuckDB the exact binary value), so rare
    # 1e-6-unit per-row flips remain possible; the exact sum + 2dp
    # round absorbs them (see contract_tpch._dec_sum). The final cast
    # back to double is exact (< 2^53 in 1e-2 units).
    def dsum(expr):
        return F.sum(expr.cast("decimal(30,6)"))

    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(dsum(F.col("l_extendedprice")), 2).cast("double").alias(
                "sum_base_price"
            ),
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).cast("double").alias("sum_disc_price"),
            F.round(
                dsum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q01_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,6))), 2)
            AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,6))), 2)
            AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                           AS DECIMAL(30,6))), 2)
            AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way equi-join → group → top-k (J1, A6, O1, O2).

    Scale: join keys are the natural shuffle keys; the two filters reach
    the scans; top-k compiles to TakeOrderedAndProject (no full sort).
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp")
    )
    # fact-fact edge pinned to a shuffled hash join: size estimates at
    # small SF would otherwise BROADCAST lineitem — a single-task hash
    # build of the biggest table locally, and an OOM at 100 TB. The
    # filtered customer side is left UNHINTED: customer scales with SF
    # (only region/nation are fixed-size), so AQE broadcasts it when it
    # fits and shuffles it when it doesn't.
    return (
        orders.join(li.hint("shuffle_hash"), orders.o_orderkey == li.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q03_ORACLE = """
SELECT l_orderkey, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q05_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with broadcast dims (J6).

    Scale: region/nation are tiny at every SF → explicit broadcast; the
    big fact-fact join (orders⋈lineitem) shuffles on the orderkey.

    The most selective predicate (r_name = 'ASIA', 1-of-5 regions) is
    pushed UPSTREAM of the fact-fact shuffle: the 5 surviving nations
    broadcast-reduce customer and supplier first, the ~20%-of-customers
    semi-reduction then shrinks the orders side BEFORE the big
    orders⋈lineitem shuffle — at 100 TB that shuffle dominates, so a 5×
    smaller probe side there beats filtering after the join (the
    pre-round-7 shape, which carried all regions through the join and
    filtered at the end).
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    # asia_nations: ≤25 rows at EVERY scale factor → always broadcast
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(asia_nations),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(asia_nations.select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    # the fact-fact edge (orders⋈lineitem) is pinned to a shuffled hash
    # join — small-SF size estimates would otherwise broadcast lineitem
    # itself (single-task build locally, OOM at scale). Only the
    # FIXED-SIZE dims (region: 5 rows, nation: 25 rows) carry explicit
    # broadcast hints; customer/supplier scale with SF, so AQE decides
    # for them (broadcast when they fit, shuffle when they don't).
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li.hint("shuffle_hash"), orders.o_orderkey == li.l_orderkey)
        .join(
            # left UNHINTED on purpose: at small SF, AQE converts the
            # planned SortMergeJoin into a runtime broadcast of the
            # filtered supplier side (measured 1.1 s vs 1.45 s with a
            # shuffle_hash pin that blocks the conversion); at huge SF
            # the SMJ shuffles on (suppkey, nationkey) — correct keys,
            # and supplier is never the build-side OOM risk
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        # exact decimal accumulation: per-nation revenue is an
        # unbounded-group money sum, the q01-at-sf1 rounding-boundary
        # class (see q01's dsum note)
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)")),
                2,
            ).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


_Q05_ORACLE = """
SELECT n_name, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
FROM region JOIN nation ON r_regionkey = n_regionkey
            JOIN customer ON n_nationkey = c_nationkey
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_filter_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + arithmetic + modulo + CASE WHEN + CAST (P3-P7)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey") % 3).alias("k3"),
        F.col("l_quantity").cast("bigint").alias("qty_int"),
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
        .alias("bucket"),
        # per-row FP products are IEEE-deterministic across engines — do
        # NOT round them (round() semantics differ on exact .xx5 values)
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
    ).filter((F.col("l_discount") > 0.02) & (F.col("l_tax") <= 0.07))


_Q_FILTER_CASE_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_orderkey % 3 AS k3,
       CAST(l_quantity AS BIGINT) AS qty_int,
       CASE WHEN l_quantity < 10 THEN 'low'
            WHEN l_quantity < 30 THEN 'mid'
            ELSE 'high' END AS bucket,
       l_extendedprice * (1 - l_discount) AS net
FROM lineitem
WHERE l_discount > 0.02 AND l_tax <= 0.07
"""


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING on aggregate (A6, A7).

    Money accumulates in DECIMAL(30,6) like q01: the data fuzzer
    (tools/gen_fuzz.py) caught a double-sum landing ON the 2dp rounding
    boundary, where the engines' different accumulation orders flip the
    rounded cent — decimal addition is exact and order-independent."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("total_spent"),
        )
        .filter(F.col("order_count") >= 5)
    )


_Q_HAVING_ORACLE = """
SELECT o_custkey, count(*) AS order_count,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE)
           AS total_spent
FROM orders GROUP BY o_custkey HAVING count(*) >= 5
"""


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + global aggregate, MIN/MAX (A4, A5, A8, A11)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


_Q_DISTINCT_AGG_ORACLE = """
SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT as ordinary aggregate (A9) — the reference accepts
    the DuckDB/Postgres WITHIN GROUP form (olap_test.clj:269-275).

    Spark side: rank every row inside its group with ONE sort-based
    window, then each quantile is the weighted sum of its two
    bracketing ranks. Unlike the previous collect_list formulation
    (which buffered every group value in one aggregation buffer —
    exact but memory-unbounded per group) or builtin percentile()
    (per-row value→count OpenHashMap, 2x slower measured), the ranking
    window runs through Spark's spillable external sorter: memory
    stays bounded no matter how large the group, so the EXACT
    computation survives 100 TB groups — a single group still sorts
    within one task (inherent to exact per-group rank; the fully
    parallel twin is q_percentiles_scalable), but it spills instead of
    OOMing. Round 8 reclaimed the second pass the round-7 form paid:
    the per-group n came from a `count(*) OVER (PARTITION BY grp)`
    window that buffered every whole group before emitting (the
    SHUFFLE_r10 double-read); n is now a 6-row pre-aggregate
    broadcast-joined back, so the ranking window streams, the
    bracketing-rank filter drops all but ~4 rows/group before the
    final aggregate, and the result is hash-identical (verified).
    q_percentiles_approx remains the sketch-based twin where a single
    pass must suffice.

    The display ordering is a single-partition sort of the 3-row
    result (repartition(1) + sortWithinPartitions), NOT a SQL ORDER
    BY: a global sort's range partitioner SAMPLES its child, and here
    the child is the whole window+join+aggregate chain above the last
    materialized exchange — the event log showed the 9.4 MB window
    shuffle read TWICE (one sampling pass + one real pass, the
    SHUFFLE_r10 double-read). The trivial 3-row shuffle removes the
    sampling pass entirely: measured 1.82 s -> 1.04 s median at
    sf0.1, rows identical."""
    from bq_duckdb_spark.operators.percentile import percentile_interp_sql

    _register_views(spark, sf_dir, "lineitem")
    out = spark.sql(
        percentile_interp_sql(
            "lineitem", "l_returnflag", "l_extendedprice",
            {"p50": 0.5, "p95": 0.95}, dialect="spark",
        )
    )
    return out.repartition(1).sortWithinPartitions("l_returnflag")


from bq_duckdb_spark.operators.percentile import percentile_interp_sql as _pctl_sql

_Q_PERCENTILES_ORACLE = _pctl_sql(
    "lineitem", "l_returnflag", "l_extendedprice",
    {"p50": 0.5, "p95": 0.95}, dialect="duckdb",
)


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW_NUMBER / RANK / DENSE_RANK over partitions (W1, W2).

    row_number uses a fully-deterministic order (unique tiebreak);
    rank/dense_rank rank a tie-prone key, whose values are deterministic.
    Scale: single shuffle on the partition key, no global sort.
    """
    cust = _t(spark, sf_dir, "customer")
    w_unique = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    w_ties = Window.partitionBy("c_nationkey").orderBy(F.asc("c_mktsegment"))
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w_unique).alias("rn"),
        F.rank().over(w_ties).alias("seg_rank"),
        F.dense_rank().over(w_ties).alias("seg_dense_rank"),
    )


_Q_WINDOW_RANK_ORACLE = """
SELECT c_custkey, c_nationkey,
       CAST(row_number() OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn,
       CAST(rank() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment NULLS FIRST) AS INT) AS seg_rank,
       CAST(dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment NULLS FIRST) AS INT)
           AS seg_dense_rank
FROM customer
"""


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG / LEAD with NULL edges (W3), per-user ordering by unique key."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.col("value").alias("value_r"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


_Q_WINDOW_LAG_ORACLE = """
SELECT event_id, user_id, value AS value_r,
       lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
       lead(value) OVER (PARTITION BY user_id ORDER BY event_id) AS next_value
FROM events
"""


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running SUM with explicit ROWS frame (W4).

    The accumulation is EXACT: prices quantize to integer cents via
    ``floor(x*100 + 0.5)`` — pure double ops plus floor, so both
    engines compute the identical BIGINT from the identical double (no
    engine rounding-mode involved) — the window sums integers, and one
    final ``/100.0`` maps back (the cent sum stays far below 2^53, so
    that division is one exact-operand float op). A double prefix sum
    is NOT portable at scale: the adversarial corpus's mega-customer
    holds ~150k orders, and at magnitude ~4e9 a 150k-element prefix
    accumulates association-order drift above the 6dp hash floor
    (DuckDB evaluates windowed sums with a re-associating segment
    tree; Spark streams the frame linearly)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(cents).over(w) / F.lit(100.0)).alias("running_spend"),
    )


_Q_RUNNING_TOTAL_ORACLE = """
SELECT o_orderkey, o_custkey,
       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / 100.0 AS running_spend
FROM orders
"""


def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) (W5). Note: a global NTILE is inherently single-partition;
    at 100 TB you'd NTILE within partitions or use approx quantiles."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select("o_orderkey", F.ntile(4).over(w).alias("quartile"))


_Q_NTILE_ORACLE = """
SELECT o_orderkey,
       CAST(ntile(4) OVER (ORDER BY o_totalprice NULLS FIRST, o_orderkey) AS INT) AS quartile
FROM orders
"""


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in SELECT (Q1)."""
    _register_views(spark, sf_dir, "part")
    return spark.sql(
        """
        SELECT p_partkey,
               round(p_retailprice - (SELECT avg(p_retailprice) FROM part), 2) AS price_diff
        FROM part
        """
    )


_Q_SCALAR_SUBQUERY_ORACLE = """
SELECT p_partkey,
       round(p_retailprice - (SELECT avg(p_retailprice) FROM part), 2) AS price_diff
FROM part
"""


def q_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS → left-semi join (Q2/J7)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


_Q_EXISTS_SEMI_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
"""


def q_not_exists_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join (BigQuery-dialect anti-join)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_Q_NOT_EXISTS_ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with NULL-aware count (J2)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


_Q_LEFT_JOIN_ORACLE = """
SELECT c_custkey, count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def q_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (dialect symmetry of J2): every order keeps its
    row even if the probe side is filtered away."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000.0)
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "right")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("c_custkey").alias("n_rich_cust"),
        )
        .orderBy("o_orderpriority")
    )


_Q_RIGHT_JOIN_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders, count(c_custkey) AS n_rich_cust
FROM (SELECT * FROM customer WHERE c_acctbal > 9000.0) c
RIGHT JOIN orders ON c.c_custkey = o_custkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join via the USING clause: both unmatched sides
    survive with NULLs (SQL-text path exercises USING resolution)."""
    _register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        WITH big_cust AS (
            SELECT c_custkey AS custkey, c_acctbal FROM customer
            WHERE c_acctbal > 9000.0
        ),
        big_orders AS (
            SELECT o_custkey AS custkey, count(*) AS n_orders FROM orders
            WHERE o_totalprice > 300000.0 GROUP BY o_custkey
        )
        SELECT custkey,
               CAST(c_acctbal IS NOT NULL AS BOOLEAN) AS is_rich,
               CAST(coalesce(n_orders, 0) AS BIGINT) AS n_big_orders
        FROM big_cust FULL OUTER JOIN big_orders USING (custkey)
        """
    )


_Q_FULL_OUTER_JOIN_ORACLE = """
WITH big_cust AS (
    SELECT c_custkey AS custkey, c_acctbal FROM customer
    WHERE c_acctbal > 9000.0
),
big_orders AS (
    SELECT o_custkey AS custkey, count(*) AS n_orders FROM orders
    WHERE o_totalprice > 300000.0 GROUP BY o_custkey
)
SELECT coalesce(big_cust.custkey, big_orders.custkey) AS custkey,
       c_acctbal IS NOT NULL AS is_rich,
       CAST(coalesce(n_orders, 0) AS BIGINT) AS n_big_orders
FROM big_cust FULL OUTER JOIN big_orders USING (custkey)
"""


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN product (J3)."""
    r = _t(spark, sf_dir, "region")
    r1 = r.select(F.col("r_name").alias("a"))
    r2 = r.select(F.col("r_name").alias("b"))
    return r1.crossJoin(r2)


_Q_CROSS_JOIN_ORACLE = """
SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 CROSS JOIN region r2
"""


def q_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi theta join → BroadcastNestedLoopJoin (J4/J5)."""
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("k1"))
    n2 = n.select(F.col("n_nationkey").alias("k2"))
    return n1.join(n2, F.col("k1") < F.col("k2"))


_Q_THETA_JOIN_ORACLE = """
SELECT n1.n_nationkey AS k1, n2.n_nationkey AS k2
FROM nation n1, nation n2 WHERE n1.n_nationkey < n2.n_nationkey
"""


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two branches (O3)."""
    orders = _t(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", F.lit("high").alias("tier")
    )
    lo = orders.filter(F.col("o_totalprice") < 5000).select(
        "o_orderkey", F.lit("low").alias("tier")
    )
    return hi.unionAll(lo)


_Q_UNION_ALL_ORACLE = """
SELECT o_orderkey, 'high' AS tier FROM orders WHERE o_totalprice > 400000
UNION ALL
SELECT o_orderkey, 'low' AS tier FROM orders WHERE o_totalprice < 5000
"""


def q_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CTEs + window + downstream filter (Q4, Q5, W6).
    Money sums accumulate in DECIMAL(30,6) — see q_having."""
    _register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH cust_totals AS (
            SELECT o_custkey,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2)
                        AS DOUBLE) AS total
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, total,
                   rank() OVER (ORDER BY total DESC, o_custkey NULLS FIRST) AS rnk
            FROM cust_totals
        )
        SELECT o_custkey, total, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 100
        """
    )


_Q_CTE_CHAIN_ORACLE = """
WITH cust_totals AS (
    SELECT o_custkey,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE)
               AS total
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT o_custkey, total,
           rank() OVER (ORDER BY total DESC, o_custkey NULLS FIRST) AS rnk
    FROM cust_totals
)
SELECT o_custkey, total, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 100
"""


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPPER/LOWER/CONCAT/LENGTH/REGEXP_CONTAINS (F1-F4)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("lo_brand"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.col("p_name").rlike("green").alias("has_green"),
    )


_Q_STRING_FUNCS_ORACLE = """
SELECT p_partkey, upper(p_name) AS up_name, lower(p_brand) AS lo_brand,
       CAST(length(p_name) AS BIGINT) AS name_len,
       p_brand || '#' || p_type AS brand_type,
       regexp_matches(p_name, 'green') AS has_green
FROM part
"""


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACT / DATE literal / DATE_ADD-interval (F5-F7)."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("yr"),
        F.month(d).cast("bigint").alias("mo"),
        F.date_add(d, 30).cast("string").alias("due_date"),
        (d >= F.lit("1997-01-01").cast("date")).alias("modern"),
    )


_Q_DATE_FUNCS_ORACLE = """
SELECT o_orderkey,
       CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
       CAST(extract(month FROM o_orderdate) AS BIGINT) AS mo,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)::VARCHAR AS due_date,
       CAST(o_orderdate AS DATE) >= DATE '1997-01-01' AS modern
FROM orders
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP with subtotal/grand-total rows (tier-2 grouping sets)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


_Q_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (tier-2 STRING_AGG/ARRAY_AGG)."""
    nation = _t(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_Q_STRING_AGG_ORACLE = """
SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations, count(*) AS n
FROM nation GROUP BY n_regionkey
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction over the events.props payload."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").alias("k_val")
    )


_Q_JSON_EXTRACT_ORACLE = """
SELECT event_id, json_extract_string(props, '$.k') AS k_val FROM events
"""


def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) — decorrelated to a semi-join by Catalyst."""
    _register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        """
    )


_Q_IN_SUBQUERY_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via LAG + cumulative
    SUM — the scalable SQL formulation of session windows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    us = F.unix_micros(F.col("ts"))
    with_gap = ev.select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        F.when(
            (us - F.lag(us).over(w)) > 30 * 60 * 1_000_000, 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return with_gap.select(
        "event_id",
        "user_id",
        F.sum("new_session").over(w2).alias("session_seq"),
    )


_Q_SESSIONIZE_ORACLE = """
WITH g AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY event_id) > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
)
SELECT event_id, user_id,
       CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
FROM g
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def _merge(dst: dict, src: dict, label: str) -> None:
    """Checked registry merge: a module key that collides with the base
    entries (or an earlier module) must fail loudly — dict.update would
    silently replace the earlier implementation, and the driver would
    grade the wrong code under the old name."""
    dup = sorted(set(dst) & set(src))
    if dup:
        raise ValueError(f"contract key collision from {label}: {dup}")
    dst.update(src)


# The ONLY queries() entries allowed to ship without an oracle_sql()
# twin, each with the reason and the exact oracle-backed twin that
# covers the semantics. tests/test_contract_registry.py asserts the
# rows-only set equals THIS dict's keys and every reason is non-empty
# — an entry can never silently land rows-only again.
ORACLE_EXCLUSIONS: dict[str, str] = {
    "q_approx_distinct": (
        "HyperLogLog sketch: estimates are engine-implementation-"
        "specific, so no cross-engine value hash can match. Bounded-"
        "error oracle instead (oracle_bounds): estimate within 3 x rsd "
        "(rsd=0.01) of the exact count computed by DuckDB; the exact "
        "semantics are oracle-green as q_distinct_agg."
    ),
    "q_percentiles_approx": (
        "KLL/GK quantile sketch: bounded-memory estimates differ per "
        "engine by design. Bounded-error oracle instead "
        "(oracle_bounds): each estimate must lie inside DuckDB's exact "
        "RANK bracket [floor((n-1)(q-1e-4))-1, ceil((n-1)(q+1e-4))+1] "
        "— the sketch guarantees RANK error (<= 1/accuracy), not value "
        "error: a hostile distribution (gen_fuzz seed 2) put a "
        "rank-correct estimate 3.9% off in VALUE, and tiny groups "
        "(seed 0, n=18) exceed any fixed quantile delta. The exact "
        "semantics are oracle-green as q_percentiles."
    ),
}


def oracle_bounds() -> dict[str, dict]:
    """Bounded-error oracles for the ORACLE_EXCLUSIONS entries (round-9
    brief item 7): each spec gives DuckDB SQL computing the EXACT values
    under the SAME column names, per-column relative tolerances for the
    sketch columns, and key columns for row alignment. Columns without a
    tolerance must match exactly (normalized). tools/check_oracle.py
    evaluates these and reports ``pass (bounded)`` — the sweeps show
    187/0/0 instead of carrying 2 unverified rows-only entries.

    Bound provenance (measured, tools history in VERDICT r8/r9):
    - q_approx_distinct: HLL rsd=0.01 → rel_tol 3 x rsd = 3%. Observed
      error 0.5% (sf0.01) / 0.18% (sf0.1).
    - q_percentiles_approx: the GK sketch guarantees RANK error
      (<= 1/accuracy = 1e-4), NOT value error — a hostile distribution
      (gen_fuzz seed 2) put a rank-correct p50 3.9% off in value across
      a sparse region, so a value tolerance is the wrong predicate.
      The bound is a RANK bracket with eps = 1e-4 plus +-1 element of
      slack: the estimate must be an actual element whose 0-based rank
      lies in [floor((n-1)(q-1e-4)) - 1, ceil((n-1)(q+1e-4)) + 1].
      The +-1 element absorbs boundary selection and the 1/n rank
      granularity of the smallest fuzz groups (n ~ 18-90). Measured
      rank error on the violating corpus: <= 0.001 (large groups) /
      <= 0.007 (n=88).
    """
    return {
        "q_approx_distinct": {
            "exact_sql": (
                "SELECT count(DISTINCT o_custkey) AS approx_cust, "
                "count(DISTINCT o_custkey) AS exact_cust FROM orders"
            ),
            "key_cols": [],
            "rel_tol": {"approx_cust": 0.03},
        },
        "q_percentiles_approx": {
            # RANK-based element bracket, not a quantile bracket: for a
            # group of n values the estimate must be an actual element
            # whose 0-based rank lies in
            #   [floor((n-1)(q-eps)) - 1,  ceil((n-1)(q+eps)) + 1]
            # with eps = 1e-4 (the sketch's 1/accuracy guarantee) and
            # +-1 element of slack for boundary selection. A fixed
            # quantile bracket fails on SMALL groups (gen_fuzz seed 0:
            # n=18 -> 1/n = 0.055 >> any fixed delta) even when the
            # sketch is rank-perfect.
            "exact_sql": (
                "WITH counts AS ("
                " SELECT l_returnflag FROM lineitem GROUP BY l_returnflag"
                "), ranked AS ("
                " SELECT l_returnflag, l_extendedprice AS v,"
                "  row_number() OVER (PARTITION BY l_returnflag"
                "   ORDER BY l_extendedprice) - 1 AS rn,"
                "  count(*) OVER (PARTITION BY l_returnflag) AS n"
                " FROM lineitem WHERE l_extendedprice IS NOT NULL"
                "), b AS ("
                " SELECT l_returnflag,"
                "  min(CASE WHEN rn = greatest(CAST(floor((n-1)*0.4999) AS"
                "   BIGINT) - 1, 0) THEN v END) AS p50_lo,"
                "  min(CASE WHEN rn = least(CAST(ceil((n-1)*0.5001) AS"
                "   BIGINT) + 1, n-1) THEN v END) AS p50_hi,"
                "  min(CASE WHEN rn = greatest(CAST(floor((n-1)*0.9499) AS"
                "   BIGINT) - 1, 0) THEN v END) AS p95_lo,"
                "  min(CASE WHEN rn = least(CAST(ceil((n-1)*0.9501) AS"
                "   BIGINT) + 1, n-1) THEN v END) AS p95_hi"
                " FROM ranked GROUP BY l_returnflag)"
                " SELECT c.l_returnflag, b.p50_lo, b.p50_hi, b.p95_lo,"
                " b.p95_hi FROM counts c LEFT JOIN b"
                " ON c.l_returnflag IS NOT DISTINCT FROM b.l_returnflag"
            ),
            "key_cols": ["l_returnflag"],
            "brackets": {
                "p50_approx": ("p50_lo", "p50_hi"),
                "p95_approx": ("p95_lo", "p95_hi"),
            },
        },
    }


# The modules whose queries() and oracle_sql() extend the base entries,
# merged in this order. Every import inside them is in-package, so an
# ImportError here is a broken module and must fail loudly, never drop
# its entries.
CONTRACT_MODULES = (
    "bq_duckdb_spark.ext.contract",
    "bq_duckdb_spark.contract_tier2",
    "bq_duckdb_spark.ext.contract_pipeline",
    "bq_duckdb_spark.ext.contract_portable",
    "bq_duckdb_spark.contract_tier3",
    "bq_duckdb_spark.contract_tier4",
    "bq_duckdb_spark.contract_tier5",
    "bq_duckdb_spark.contract_tpch",
    "bq_duckdb_spark.contract_tier6",
    "bq_duckdb_spark.contract_tier7",
    "bq_duckdb_spark.contract_tier8",
    "bq_duckdb_spark.contract_tier9",
)


def _contract_modules():
    """(name, module) for every CONTRACT_MODULES entry, imported on
    first use so importing this file stays cheap."""
    return [(name, importlib.import_module(name)) for name in CONTRACT_MODULES]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        "q01_pricing_summary": q01_pricing_summary,
        "q03_shipping_priority": q03_shipping_priority,
        "q05_local_supplier": q05_local_supplier,
        "q_filter_case": q_filter_case,
        "q_having": q_having,
        "q_distinct_agg": q_distinct_agg,
        "q_percentiles": q_percentiles,
        "q_window_rank": q_window_rank,
        "q_window_lag": q_window_lag,
        "q_running_total": q_running_total,
        "q_ntile": q_ntile,
        "q_scalar_subquery": q_scalar_subquery,
        "q_exists_semi": q_exists_semi,
        "q_not_exists_anti": q_not_exists_anti,
        "q_left_join": q_left_join,
        "q_right_join": q_right_join,
        "q_full_outer_join": q_full_outer_join,
        "q_cross_join": q_cross_join,
        "q_theta_join": q_theta_join,
        "q_union_all": q_union_all,
        "q_cte_chain": q_cte_chain,
        "q_string_funcs": q_string_funcs,
        "q_date_funcs": q_date_funcs,
        "q_rollup": q_rollup,
        "q_string_agg": q_string_agg,
        "q_json_extract": q_json_extract,
        "q_in_subquery": q_in_subquery,
        "q_sessionize": q_sessionize,
    }
    for name, mod in _contract_modules():
        _merge(q, mod.queries(), name)
    return q


def oracle_sql() -> dict[str, str]:
    o = {
        "q01_pricing_summary": _Q01_ORACLE,
        "q03_shipping_priority": _Q03_ORACLE,
        "q05_local_supplier": _Q05_ORACLE,
        "q_filter_case": _Q_FILTER_CASE_ORACLE,
        "q_having": _Q_HAVING_ORACLE,
        "q_distinct_agg": _Q_DISTINCT_AGG_ORACLE,
        "q_percentiles": _Q_PERCENTILES_ORACLE,
        "q_window_rank": _Q_WINDOW_RANK_ORACLE,
        "q_window_lag": _Q_WINDOW_LAG_ORACLE,
        "q_running_total": _Q_RUNNING_TOTAL_ORACLE,
        "q_ntile": _Q_NTILE_ORACLE,
        "q_scalar_subquery": _Q_SCALAR_SUBQUERY_ORACLE,
        "q_exists_semi": _Q_EXISTS_SEMI_ORACLE,
        "q_not_exists_anti": _Q_NOT_EXISTS_ANTI_ORACLE,
        "q_left_join": _Q_LEFT_JOIN_ORACLE,
        "q_right_join": _Q_RIGHT_JOIN_ORACLE,
        "q_full_outer_join": _Q_FULL_OUTER_JOIN_ORACLE,
        "q_cross_join": _Q_CROSS_JOIN_ORACLE,
        "q_theta_join": _Q_THETA_JOIN_ORACLE,
        "q_union_all": _Q_UNION_ALL_ORACLE,
        "q_cte_chain": _Q_CTE_CHAIN_ORACLE,
        "q_string_funcs": _Q_STRING_FUNCS_ORACLE,
        "q_date_funcs": _Q_DATE_FUNCS_ORACLE,
        "q_rollup": _Q_ROLLUP_ORACLE,
        "q_string_agg": _Q_STRING_AGG_ORACLE,
        "q_json_extract": _Q_JSON_EXTRACT_ORACLE,
        "q_in_subquery": _Q_IN_SUBQUERY_ORACLE,
        "q_sessionize": _Q_SESSIONIZE_ORACLE,
    }
    for name, mod in _contract_modules():
        _merge(o, mod.oracle_sql(), name)
    return o
