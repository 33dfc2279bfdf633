"""Dialect shim + SQL-text analysis.

CTE-name extraction and dependency inference replicate the reference's
semantics (unit tests at src/session/pipeline.rs:2118-2260): recursive
keyword, nested parens, multiple CTEs, prefix non-match, subquery alias,
case-insensitivity.
"""

import pytest

from bq_duckdb_spark.dialect import (
    _CALLS,
    extract_cte_names,
    extract_dependencies,
    is_table_referenced,
    transpile,
)
from bq_duckdb_spark.engine import Session, TableEntry


class TestTranspile:
    def test_safe_cast(self):
        assert "try_cast('x' AS BIGINT)" in transpile("SELECT SAFE_CAST('x' AS INT64)")

    def test_cast_type_names(self):
        out = transpile("SELECT CAST(a AS FLOAT64), CAST(b AS BOOL), CAST(c AS BYTES)")
        assert "AS DOUBLE" in out and "AS BOOLEAN" in out and "AS BINARY" in out

    def test_regexp_contains(self):
        assert "regexp_like(" in transpile("SELECT REGEXP_CONTAINS(x, 'p') FROM t")

    def test_date_add_interval(self):
        out = transpile("SELECT DATE_ADD(d, INTERVAL 5 DAY) FROM t")
        assert out == "SELECT (d + INTERVAL 5 DAY) FROM t"

    def test_date_sub_interval(self):
        assert "(d - INTERVAL 2 MONTH)" in transpile(
            "SELECT DATE_SUB(d, INTERVAL 2 MONTH)"
        )

    def test_date_add_two_arg_passthrough(self):
        # Spark's own date_add(date, days) must survive untouched
        assert transpile("SELECT date_add(d, 5)") == "SELECT date_add(d, 5)"

    def test_date_diff(self):
        assert "datediff(a, b)" in transpile("SELECT DATE_DIFF(a, b, DAY)")
        assert "timestampdiff(MONTH, b, a)" in transpile("SELECT DATE_DIFF(a, b, MONTH)")

    def test_unnest_from(self):
        out = transpile("SELECT x FROM UNNEST([1,2,3]) AS x")
        assert "explode(array(1,2,3)) AS x" in out

    def test_array_literal_vs_subscript(self):
        out = transpile("SELECT [1, 2], arr[0] FROM t")
        assert "array(1, 2)" in out
        assert "arr[0]" in out

    def test_brace_struct_literal(self):
        assert "named_struct('k', 5)" in transpile("SELECT {'k': 5}")

    def test_table_mapping_word_boundary(self):
        out = transpile(
            "SELECT * FROM users, users2", {"users": "v_users", "users2": "v_users2"}
        )
        assert "FROM v_users AS users, v_users2 AS users2" in out

    def test_table_mapping_backticks_and_case(self):
        out = transpile("SELECT * FROM `Proj.DS.T`", {"proj.ds.t": "v"})
        assert "FROM v" in out

    def test_nested_date_add(self):
        out = transpile("SELECT CAST(DATE_ADD(DATE '2024-01-01', INTERVAL 1 DAY) AS STRING)")
        assert "(DATE '2024-01-01' + INTERVAL 1 DAY)" in out

    def test_string_literal_untouched(self):
        out = transpile("SELECT 'DATE_ADD(d, INTERVAL 5 DAY)' AS s")
        # the call inside the string still transpiles harmlessly or not at
        # all — what matters is the statement stays parseable; check quotes
        assert out.count("'") == 2


class _SqlRecorder:
    """Stands in for the SparkSession: ``sql`` returns the text it got."""

    def sql(self, text):
        return text


def _spelling_session(default_project=None) -> Session:
    s = Session.__new__(Session)
    s.spark, s.default_project = _SqlRecorder(), default_project
    s.tables = {n: TableEntry(n, "v_" + n.replace(".", "_")) for n in ("t", "u", "p.d.t")}
    return s


# BigQuery text → the Spark text Session.query hands to spark.sql
@pytest.mark.parametrize(
    "bq, spark",
    [
        ("SELECT * FROM t", "SELECT * FROM v_t AS t"),
        ("SELECT c.id FROM t c", "SELECT c.id FROM v_t AS c"),
        ("SELECT c.id FROM t AS c", "SELECT c.id FROM v_t AS c"),
        ("SELECT id FROM t WHERE id > 1", "SELECT id FROM v_t AS t WHERE id > 1"),
        (
            "SELECT t.id FROM t JOIN u ON t.id = u.id",
            "SELECT t.id FROM v_t AS t JOIN v_u AS u ON t.id = u.id",
        ),
        (
            "SELECT * FROM t LEFT JOIN u USING (id)",
            "SELECT * FROM v_t AS t LEFT JOIN v_u AS u USING (id)",
        ),
        ("SELECT * FROM t, u", "SELECT * FROM v_t AS t, v_u AS u"),
        ("SELECT x.id FROM `p.d.t` x", "SELECT x.id FROM v_p_d_t AS x"),
        ("SELECT t.id FROM p.d.t", "SELECT t.id FROM v_p_d_t AS t"),
        (
            "SELECT * FROM t TABLESAMPLE SYSTEM (10 PERCENT)",
            "SELECT * FROM v_t TABLESAMPLE (10 PERCENT) AS t",
        ),
        (
            "SELECT c.id FROM t c TABLESAMPLE SYSTEM (50 PERCENT)",
            "SELECT c.id FROM v_t TABLESAMPLE (50 PERCENT) AS c",
        ),
        (
            "SELECT c.id FROM t AS c TABLESAMPLE SYSTEM (50 PERCENT) WHERE c.id > 0",
            "SELECT c.id FROM v_t TABLESAMPLE (50 PERCENT) AS c WHERE c.id > 0",
        ),
        (
            "SELECT id FROM t UNION ALL SELECT id FROM u",
            "SELECT id FROM v_t AS t UNION ALL SELECT id FROM v_u AS u",
        ),
        (
            "SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS rn FROM t QUALIFY rn = 1",
            "SELECT * FROM ( SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS rn "
            "FROM v_t AS t ) WHERE rn = 1",
        ),
        ("SELECT 't' AS s FROM t", "SELECT 't' AS s FROM v_t AS t"),
        ("SELECT bool.id FROM t bool", "SELECT bool.id FROM v_t AS bool"),
    ],
)
def test_table_reference_spelling(bq, spark):
    assert _spelling_session().query(bq) == spark


@pytest.mark.parametrize(
    "bq, spark",
    [
        ("SELECT * FROM d.t", "SELECT * FROM v_p_d_t AS t"),
        ("SELECT x.id FROM d.t x", "SELECT x.id FROM v_p_d_t AS x"),
    ],
)
def test_table_reference_spelling_default_project(bq, spark):
    assert _spelling_session(default_project="p").query(bq) == spark


class TestCteNames:
    def test_single(self):
        assert extract_cte_names("WITH a AS (SELECT 1) SELECT * FROM a") == ["a"]

    def test_multiple(self):
        sql = "WITH a AS (SELECT 1), b AS (SELECT * FROM a) SELECT * FROM b"
        assert extract_cte_names(sql) == ["a", "b"]

    def test_recursive_keyword(self):
        sql = "WITH RECURSIVE seq AS (SELECT 1 UNION ALL SELECT n+1 FROM seq) SELECT * FROM seq"
        assert extract_cte_names(sql) == ["seq"]

    def test_nested_parens(self):
        sql = "WITH a AS (SELECT (1 + (2 * 3)) AS v FROM (SELECT 1) x) SELECT * FROM a"
        assert extract_cte_names(sql) == ["a"]

    def test_no_cte(self):
        assert extract_cte_names("SELECT * FROM t") == []

    def test_stops_at_main_statement(self):
        sql = "WITH a AS (SELECT 1) SELECT with_col FROM a"
        assert extract_cte_names(sql) == ["a"]


class TestDependencies:
    def test_basic_from_join(self):
        sql = "SELECT * FROM orders o JOIN customers c ON o.cid = c.id"
        assert extract_dependencies(sql, ["orders", "customers", "other"]) == [
            "customers",
            "orders",
        ]

    def test_cte_excluded(self):
        sql = "WITH orders AS (SELECT 1) SELECT * FROM orders"
        assert extract_dependencies(sql, ["orders"]) == []

    def test_cte_excluded_but_real_dep_found(self):
        sql = "WITH tmp AS (SELECT * FROM base) SELECT * FROM tmp"
        assert extract_dependencies(sql, ["base", "tmp_other"]) == ["base"]

    def test_prefix_no_match(self):
        # reference pipeline.rs:2173-2191: `user` must not match `users`
        sql = "SELECT * FROM users"
        assert extract_dependencies(sql, ["user", "users"]) == ["users"]

    def test_subquery_alias_not_a_dep(self):
        sql = "SELECT v FROM (SELECT v FROM real_table) AS sub"
        assert extract_dependencies(sql, ["real_table", "sub"]) == ["real_table"]

    def test_case_insensitive(self):
        sql = "SELECT * FROM Sales_Data"
        assert extract_dependencies(sql, ["sales_data"]) == ["sales_data"]

    def test_comma_join(self):
        sql = "SELECT * FROM a, b WHERE a.x = b.x"
        assert extract_dependencies(sql, ["a", "b", "c"]) == ["a", "b"]

    def test_select_list_name_not_a_dep(self):
        assert not is_table_referenced("SELECT orders FROM t", "orders")

    def test_recursive_cte_self_excluded(self):
        sql = (
            "WITH RECURSIVE numbers AS (SELECT 1 AS n UNION ALL "
            "SELECT n + 1 FROM numbers WHERE n < 10) SELECT * FROM numbers"
        )
        assert extract_dependencies(sql, ["numbers", "seed"]) == []

    def test_qualified_names(self):
        sql = "SELECT * FROM proj.ds.orders"
        assert extract_dependencies(sql, ["proj.ds.orders"]) == ["proj.ds.orders"]

    def test_sorted_output(self):
        sql = "SELECT * FROM zeta JOIN alpha ON 1=1"
        assert extract_dependencies(sql, ["zeta", "alpha"]) == ["alpha", "zeta"]


class TestQualify:
    def test_basic_rewrite(self):
        out = transpile("SELECT a, row_number() OVER (ORDER BY a) AS rn FROM t QUALIFY rn = 1")
        assert out.startswith("SELECT * FROM ( SELECT a,")
        assert "WHERE rn = 1" in out

    def test_with_order_limit_outside(self):
        out = transpile("SELECT a, rank() OVER (ORDER BY a) AS r FROM t QUALIFY r <= 2 ORDER BY a LIMIT 5")
        assert out.endswith("ORDER BY a LIMIT 5")
        assert "WHERE r <= 2" in out

    def test_qualify_in_string_untouched(self):
        out = transpile("SELECT 'QUALIFY x' AS s FROM t")
        assert out == "SELECT 'QUALIFY x' AS s FROM t"

    def test_qualify_in_subquery_untouched_at_top(self):
        sql = "SELECT * FROM (SELECT a FROM t) x"
        assert transpile(sql) == sql


class TestHashComments:
    def test_stripped(self):
        out = transpile("SELECT 1 AS x # trailing comment\nFROM t")
        assert "comment" not in out and "FROM t" in out

    def test_hash_in_string_kept(self):
        out = transpile("SELECT 'a#b' AS s FROM t")
        assert "'a#b'" in out


class TestArrayIndexing:
    """BigQuery arr[OFFSET/ORDINAL/SAFE_*] element access."""

    def test_offset_zero_based(self):
        assert transpile("SELECT a[OFFSET(0)] FROM t") == "SELECT a[(0)] FROM t"

    def test_ordinal_one_based(self):
        assert transpile("SELECT a[ORDINAL(2)] FROM t") == "SELECT a[(2) - 1] FROM t"

    def test_safe_offset(self):
        assert (
            transpile("SELECT a[SAFE_OFFSET(5)] FROM t")
            == "SELECT try_element_at(a, (5) + 1) FROM t"
        )

    def test_safe_ordinal_with_chain_operand(self):
        assert (
            transpile("SELECT f(x).arr[SAFE_ORDINAL(i + 1)] FROM t")
            == "SELECT try_element_at(f(x).arr, (i + 1)) FROM t"
        )

    def test_nested_index_exprs(self):
        assert (
            transpile("SELECT a[OFFSET(b[OFFSET(0)])] FROM t")
            == "SELECT a[(b[(0)])] FROM t"
        )

    def test_plain_brackets_untouched(self):
        assert transpile("SELECT [1, 2][1] AS x") == "SELECT array(1, 2)[1] AS x"


class TestDateTimeFamily:
    def test_timestamp_diff_arg_order(self):
        assert (
            transpile("SELECT TIMESTAMP_DIFF(t2, t1, HOUR) FROM t")
            == "SELECT timestampdiff(HOUR, t1, t2) FROM t"
        )

    def test_timestamp_diff_day_not_datediff(self):
        # whole elapsed days, not date-boundary crossings
        assert (
            transpile("SELECT TIMESTAMP_DIFF(t2, t1, DAY) FROM t")
            == "SELECT timestampdiff(DAY, t1, t2) FROM t"
        )

    def test_date_trunc_bigquery_arg_order(self):
        assert (
            transpile("SELECT DATE_TRUNC(d, MONTH) FROM t")
            == "SELECT CAST(date_trunc('MONTH', d) AS DATE) FROM t"
        )

    def test_date_trunc_spark_form_untouched(self):
        sql = "SELECT date_trunc('MONTH', d) FROM t"
        assert transpile(sql) == sql

    def test_date_trunc_week_family_emulated(self, spark):
        """BigQuery WEEK is Sunday-start (Spark 'WEEK' is Monday-start);
        ISOWEEK == Spark WEEK; ISOYEAR has no Spark unit at all
        (date_trunc would silently return NULL)."""
        got = spark.sql(
            transpile(
                "SELECT DATE_TRUNC(DATE'2026-08-13', WEEK) AS wk, "
                "DATE_TRUNC(DATE'2026-08-13', ISOWEEK) AS isowk, "
                "DATE_TRUNC(DATE'2026-01-01', ISOYEAR) AS isoyr"
            )
        ).collect()[0]
        # 2026-08-13 is a Thursday: Sunday=08-09, Monday=08-10;
        # ISO year 2026 begins Monday 2025-12-29
        assert str(got.wk) == "2026-08-09"
        assert str(got.isowk) == "2026-08-10"
        assert str(got.isoyr) == "2025-12-29"

    def test_timestamp_trunc(self):
        assert (
            transpile("SELECT TIMESTAMP_TRUNC(ts, HOUR) FROM t")
            == "SELECT date_trunc('HOUR', ts) FROM t"
        )

    def test_datetime_add_interval(self):
        assert (
            transpile("SELECT DATETIME_ADD(dt, INTERVAL 3 HOUR) FROM t")
            == "SELECT (dt + INTERVAL 3 HOUR) FROM t"
        )

    def test_split_renamed_to_literal_semantics(self):
        assert (
            transpile("SELECT SPLIT(s, '.') FROM t")
            == "SELECT BQ_SPLIT(s, '.') FROM t"
        )


class TestUnnestWithOffset:
    def test_from_with_offset(self):
        got = " ".join(
            transpile("SELECT x, i FROM UNNEST([10, 20]) AS x WITH OFFSET AS i").split()
        )
        assert got == "SELECT x, i FROM (SELECT posexplode(array(10, 20)) AS (i, x))"

    def test_with_offset_default_name(self):
        got = transpile("SELECT x FROM UNNEST(arr) x WITH OFFSET")
        assert "posexplode(arr) AS (offset, x)" in got

    def test_correlated_with_offset(self):
        got = transpile("SELECT t.id, v, i FROM t, UNNEST(t.vals) AS v WITH OFFSET i")
        assert "LATERAL VIEW posexplode(t.vals) AS i, v" in got

    def test_bare_unnest_before_where_keeps_keyword(self):
        got = " ".join(transpile("SELECT * FROM UNNEST([1, 2]) WHERE f0 > 1").split())
        assert got == "SELECT * FROM (SELECT explode(array(1, 2)) AS f0) WHERE f0 > 1"


class TestAggFunctionFamily:
    def test_countif_logical(self):
        got = transpile("SELECT COUNTIF(x > 1), LOGICAL_AND(b), LOGICAL_OR(b) FROM t")
        assert got == "SELECT count_if(x > 1), bool_and(b), bool_or(b) FROM t"

    def test_format_c_style(self):
        assert transpile("SELECT FORMAT('%d-%s', 3, 'a')") == (
            "SELECT format_string('%d-%s', 3, 'a')"
        )
        # FORMAT_DATE must not be touched by the FORMAT rename
        assert "FORMAT_DATE" in transpile("SELECT FORMAT_DATE('%F', d) FROM t")

    def test_array_agg_order_by_same_expr(self):
        assert (
            transpile("SELECT ARRAY_AGG(x ORDER BY x) FROM t")
            == "SELECT array_sort(collect_list(x)) FROM t"
        )
        assert (
            transpile("SELECT ARRAY_AGG(x ORDER BY x DESC) FROM t")
            == "SELECT reverse(array_sort(collect_list(x))) FROM t"
        )

    def test_array_agg_order_by_other_key(self):
        got = transpile("SELECT ARRAY_AGG(name ORDER BY id) FROM t")
        assert got == (
            "SELECT transform(array_sort(collect_list("
            "named_struct('k', id, 'v', name))), s -> s.v) FROM t"
        )

    def test_plain_array_agg_untouched(self):
        assert transpile("SELECT ARRAY_AGG(x) FROM t") == "SELECT ARRAY_AGG(x) FROM t"


class TestSafeArithmeticAndDateArrays:
    def test_safe_arith(self):
        got = transpile("SELECT SAFE_ADD(a, b), SAFE_SUBTRACT(a, b), SAFE_MULTIPLY(a, b) FROM t")
        assert got == "SELECT try_add(a, b), try_subtract(a, b), try_multiply(a, b) FROM t"

    def test_generate_date_array_default_step(self):
        # round 8: empty-range guard added (BQ yields [] when start > end;
        # bare Spark sequence would error on the mismatched direction)
        got = transpile("SELECT GENERATE_DATE_ARRAY(DATE '2024-01-01', DATE '2024-01-05')")
        assert (
            "sequence(DATE '2024-01-01', DATE '2024-01-05', interval 1 day)"
            in got
        )
        assert "CASE WHEN (DATE '2024-01-01') > (DATE '2024-01-05')" in got

    def test_generate_date_array_interval(self):
        got = transpile(
            "SELECT GENERATE_DATE_ARRAY(d1, d2, INTERVAL 7 DAY) FROM t"
        )
        assert "sequence(d1, d2, interval 7 DAY)" in got
        assert "CASE WHEN (d1) > (d2)" in got

    def test_generate_date_array_negative_interval_guard(self):
        got = transpile(
            "SELECT GENERATE_DATE_ARRAY(d1, d2, INTERVAL -7 DAY) FROM t"
        )
        assert "CASE WHEN (d1) < (d2)" in got

    def test_generate_array_empty_range_guard(self):
        # the round-8 fuzzer finding: GENERATE_ARRAY(1, 0) is [] in BQ,
        # but a bare sequence(1, 0) silently flips to [1, 0]
        got = transpile("SELECT GENERATE_ARRAY(1, 0)")
        assert "CASE WHEN (1) > (0)" in got and "sequence(1, 0)" in got
        got3 = transpile("SELECT GENERATE_ARRAY(a, b, s) FROM t")
        assert "(s) > 0 AND (a) > (b)" in got3
        assert "(s) < 0 AND (a) < (b)" in got3


class TestRegexpExtract:
    def test_group_pattern_null_on_no_match(self):
        got = transpile("SELECT REGEXP_EXTRACT(s, '([0-9]+)') FROM t")
        assert got == (
            "SELECT CASE WHEN s RLIKE '([0-9]+)' "
            "THEN regexp_extract(s, '([0-9]+)', 1) ELSE NULL END FROM t"
        )

    def test_groupless_literal_uses_regexp_substr(self):
        assert (
            transpile("SELECT REGEXP_EXTRACT(s, '[0-9]+') FROM t")
            == "SELECT regexp_substr(s, '[0-9]+') FROM t"
        )

    def test_extract_all_groupless_wraps(self):
        assert (
            transpile("SELECT REGEXP_EXTRACT_ALL(s, '[0-9]+') FROM t")
            == "SELECT regexp_extract_all(s, '([0-9]+)', 1) FROM t"
        )

    def test_extract_all_with_group(self):
        assert (
            transpile("SELECT REGEXP_EXTRACT_ALL(s, 'x([0-9]+)') FROM t")
            == "SELECT regexp_extract_all(s, 'x([0-9]+)', 1) FROM t"
        )

    def test_non_capturing_group_counts_as_groupless(self):
        assert (
            transpile("SELECT REGEXP_EXTRACT(s, '(?:ab)+') FROM t")
            == "SELECT regexp_substr(s, '(?:ab)+') FROM t"
        )


def test_json_function_renames():
    got = transpile(
        "SELECT JSON_VALUE(j, '$.a'), JSON_EXTRACT_SCALAR(j, '$.b'), "
        "TO_JSON_STRING(s) FROM t"
    )
    assert got == (
        "SELECT get_json_object(j, '$.a'), get_json_object(j, '$.b'), "
        "to_json(s) FROM t"
    )


def test_json_extract_keeps_json_encoding(spark):
    """JSON_EXTRACT / JSON_QUERY return JSON-encoded text in BigQuery:
    string scalars KEEP their quotes, unlike JSON_VALUE."""
    got = spark.sql(
        transpile(
            """SELECT JSON_EXTRACT('{"a":"b"}', '$.a') AS q,
                      JSON_QUERY('{"o":{"x":1}}', '$.o') AS o,
                      JSON_EXTRACT('{"n":3}', '$.n') AS n,
                      JSON_EXTRACT('{"a":1}', '$.miss') AS miss,
                      JSON_VALUE('{"a":"b"}', '$.a') AS unquoted"""
        )
    ).collect()[0]
    assert got.q == '"b"'
    assert got.o == '{"x":1}'
    assert got.n == "3"
    assert got.miss is None
    assert got.unquoted == "b"


def test_func_renames_leave_string_literals_alone():
    """Common-word renames (SPLIT, FORMAT, ...) must not rewrite literal
    data — they apply outside '-quoted strings only."""
    sql = "SELECT 'use SPLIT(a,b) or FORMAT(x)' AS doc, SPLIT(s, ',') FROM t"
    got = transpile(sql)
    assert "'use SPLIT(a,b) or FORMAT(x)'" in got
    assert "BQ_SPLIT(s, ',')" in got


def test_cast_type_renames_leave_string_literals_alone():
    """BigQuery cast-type names are renamed in code only: a literal that
    spells a cast keeps its text, a real cast beside it is renamed."""
    got = transpile("SELECT 'CAST(x AS INT64)' AS s, CAST(y AS INT64) AS t")
    assert got == "SELECT 'CAST(x AS INT64)' AS s, CAST(y AS BIGINT) AS t"


def test_array_agg_distinct_order_by():
    assert (
        transpile("SELECT ARRAY_AGG(DISTINCT x ORDER BY x) FROM t")
        == "SELECT array_sort(collect_set(x)) FROM t"
    )
    assert (
        transpile("SELECT ARRAY_AGG(DISTINCT x ORDER BY x DESC) FROM t")
        == "SELECT reverse(array_sort(collect_set(x))) FROM t"
    )
    # plain DISTINCT without ORDER BY stays native (Spark supports it)
    assert (
        transpile("SELECT ARRAY_AGG(DISTINCT x) FROM t")
        == "SELECT ARRAY_AGG(DISTINCT x) FROM t"
    )


# "…" is a BigQuery string literal like '…': no rewrite may edit it
@pytest.mark.parametrize(
    "bq, spark",
    [
        ('SELECT "a#b" AS s, "x" AS y', 'SELECT "a#b" AS s, "x" AS y'),
        ('SELECT "from t" AS s FROM t', 'SELECT "from t" AS s FROM v_t AS t'),
        ('SELECT "use SPLIT(a,b)" AS d', 'SELECT "use SPLIT(a,b)" AS d'),
        ('SELECT "CAST(x AS INT64)" AS s', 'SELECT "CAST(x AS INT64)" AS s'),
        ('SELECT "q\\"#" AS s # comment', 'SELECT "q\\"#" AS s '),
        # a quote inside a comment opens no literal
        ('SELECT a # keep "x" rows\nFROM t', "SELECT a \nFROM v_t AS t"),
        ('SELECT a # 12" pipe\nFROM t', "SELECT a \nFROM v_t AS t"),
        ('SELECT a -- keep "x" rows\nFROM t', "SELECT a \nFROM v_t AS t"),
        ('SELECT a -- 12" pipe\nFROM t', "SELECT a \nFROM v_t AS t"),
        ('SELECT a /* 12" */ FROM t', "SELECT a   FROM v_t AS t"),
        ("SELECT a -- it's\nFROM t", "SELECT a \nFROM v_t AS t"),
        # comment marks inside literals are data
        ("SELECT '--x' AS s, \"#y\" AS d FROM t", "SELECT '--x' AS s, \"#y\" AS d FROM v_t AS t"),
        ("SELECT /*+ BROADCAST(t) */ * FROM t", "SELECT /*+ BROADCAST(t) */ * FROM v_t AS t"),
    ],
)
def test_double_quoted_literals_untouched(bq, spark):
    assert transpile(bq, {"t": "v_t"}) == spark


# only names in table position are table references
_TV = {"t": "v_t", "v": "v_v", "other": "v_other"}


@pytest.mark.parametrize(
    "bq, spark",
    [
        ("SELECT id, v FROM t WHERE v > 1", "SELECT id, v FROM v_t AS t WHERE v > 1"),
        ("SELECT x AS t FROM t", "SELECT x AS t FROM v_t AS t"),
        (
            "SELECT v, (SELECT MAX(t) FROM v) AS m FROM t, other WHERE t IN (1, 2) ORDER BY v, t",
            "SELECT v, (SELECT MAX(t) FROM v_v AS v) AS m FROM v_t AS t, v_other AS other "
            "WHERE t IN (1, 2) ORDER BY v, t",
        ),
        (
            "SELECT * FROM (t JOIN v ON t.id = v.id), other o",
            "SELECT * FROM (v_t AS t JOIN v_v AS v ON t.id = v.id), v_other AS o",
        ),
        (
            "SELECT s.v FROM (SELECT v FROM t) s, v",
            "SELECT s.v FROM (SELECT v FROM v_t AS t) s, v_v AS v",
        ),
        (
            "WITH c AS (SELECT v FROM t) SELECT v, t FROM c JOIN v USING (id)",
            "WITH c AS (SELECT v FROM v_t AS t) SELECT v, t FROM c JOIN v_v AS v USING (id)",
        ),
        # DELETE predicate, MERGE ON and SET fragments
        (
            "id IN (SELECT oid FROM other o) AND v > 0",
            "id IN (SELECT oid FROM v_other AS o) AND v > 0",
        ),
        ("t.id = other.id AND v = other.v", "t.id = other.id AND v = other.v"),
        ("v + t", "v + t"),
        # a comment between the table word (or comma) and the name
        ("SELECT * FROM -- main source\n t", "SELECT * FROM \n v_t AS t"),
        ("SELECT * FROM t, -- second\n v", "SELECT * FROM v_t AS t, \n v_v AS v"),
        (
            "SELECT * FROM t /* big */ JOIN /* dim */ v ON t.id = v.id",
            "SELECT * FROM v_t AS t   JOIN   v_v AS v ON t.id = v.id",
        ),
        # words inside a comment are not SQL
        ("SELECT v -- read FROM t, v\nFROM t", "SELECT v \nFROM v_t AS t"),
        # EXTRACT's FROM takes a value; a subquery inside it still reads tables
        (
            "SELECT EXTRACT(YEAR FROM v) AS y FROM v",
            "SELECT EXTRACT(YEAR FROM v) AS y FROM v_v AS v",
        ),
        (
            "SELECT EXTRACT (DAY FROM (SELECT MAX(t) FROM t)) AS d",
            "SELECT EXTRACT (DAY FROM (SELECT MAX(t) FROM v_t AS t)) AS d",
        ),
    ],
)
def test_tables_mapped_only_in_table_position(bq, spark):
    assert transpile(bq, _TV) == spark


# dependency inference reads table position the way the mapping does
@pytest.mark.parametrize(
    "sql, deps",
    [
        ("SELECT id, u FROM t", ["t"]),
        ("SELECT EXTRACT(YEAR FROM u) AS y FROM t", ["t"]),
        ('SELECT "FROM u" AS s FROM t', ["t"]),
        ("SELECT * FROM -- it's\n t -- JOIN u\n", ["t"]),
        ("SELECT * FROM (t JOIN u ON t.id = u.id), v", ["t", "u", "v"]),
        ("UPDATE t SET v = 1 WHERE id IN (SELECT id FROM u)", ["t", "u"]),
        ("MERGE t USING u ON t.id = u.id WHEN MATCHED THEN UPDATE SET v = u.v", ["t", "u"]),
    ],
)
def test_dependencies_only_in_table_position(sql, deps):
    assert extract_dependencies(sql, ["t", "u", "v"]) == deps


# an escaped quote inside a literal must not end it for the operand scan
@pytest.mark.parametrize(
    "bq, spark",
    [
        (
            r"SELECT split('it\'s', 'x')[SAFE_OFFSET(0)] AS x",
            r"SELECT try_element_at(BQ_SPLIT('it\'s', 'x'), (0) + 1) AS x",
        ),
        (
            r"SELECT split('it\'s', 'x')[SAFE_ORDINAL(1)] AS x",
            r"SELECT try_element_at(BQ_SPLIT('it\'s', 'x'), (1)) AS x",
        ),
        (
            r'SELECT split("a\"b", "x")[SAFE_OFFSET(0)] AS x',
            r'SELECT try_element_at(BQ_SPLIT("a\"b", "x"), (0) + 1) AS x',
        ),
    ],
)
def test_safe_index_after_escaped_quote(bq, spark):
    assert transpile(bq) == spark


def _call_snippet(name: str) -> str:
    """A call of ``name`` with arguments its rewriter acts on."""
    args = {
        "ADD": "d, INTERVAL 1 DAY",
        "SUB": "d, INTERVAL 1 DAY",
        "DIFF": "a, b, DAY",
        "TRUNC": "d, MONTH",
        "AGG": "x ORDER BY y",
    }.get(name.rsplit("_", 1)[-1], "a, b")
    return f"{name}({args})"


_REWRITTEN_SNIPPETS = [_call_snippet(name) for name in _CALLS] + [
    "1 FROM UNNEST(a)",
    "{'k': v}",
    "[1, 2]",
    "ARRAY[1, 2]",
    "ARRAY<INT64>[1, 2]",
    "arr[OFFSET(0)]",
    "arr[SAFE_OFFSET(0)]",
    "1 FROM t QUALIFY rn = 1",
    "1 FROM t TABLESAMPLE SYSTEM (10 PERCENT)",
    "CAST(x AS INT64)",
]


# every rewrite family leaves literal data alone, in either quote kind
@pytest.mark.parametrize("snippet", _REWRITTEN_SNIPPETS)
@pytest.mark.parametrize("q", ["'", '"'])
def test_rewrites_leave_literals_alone(snippet, q):
    assert transpile(f"SELECT {snippet}") != f"SELECT {snippet}"
    sql = f"SELECT {q}{snippet.replace(q, chr(92) + q)}{q} AS s"
    assert transpile(sql) == sql


# a literal holding the other quote kind ends where it ends
@pytest.mark.parametrize(
    "bq, spark",
    [
        (
            """SELECT "it's" AS s, DATE_ADD(d, INTERVAL 1 DAY) AS e, IFNULL(x, 0) AS f""",
            """SELECT "it's" AS s, (d + INTERVAL 1 DAY) AS e, coalesce(x, 0) AS f""",
        ),
        (
            """SELECT 'a"b' AS s, DATE_ADD(d, INTERVAL 1 DAY) AS e, IFNULL(x, 0) AS f""",
            """SELECT 'a"b' AS s, (d + INTERVAL 1 DAY) AS e, coalesce(x, 0) AS f""",
        ),
    ],
)
def test_calls_beside_other_quote_rewritten(bq, spark):
    assert transpile(bq) == spark


@pytest.mark.parametrize(
    "bq, spark",
    [
        ("SELECT ARRAY[1, 2] AS a", "SELECT array(1, 2) AS a"),
        ("SELECT array [1, 2][0] AS a", "SELECT array(1, 2)[0] AS a"),
        ("SELECT ARRAY<INT64>[1, 2] AS a", "SELECT CAST(array(1, 2) AS ARRAY<BIGINT>) AS a"),
        ("SELECT ARRAY<STRING>[] AS a", "SELECT CAST(array() AS ARRAY<STRING>) AS a"),
        (
            "SELECT ARRAY<INT64>[3] AS b, ARRAY<BOOL>[] AS e",
            "SELECT CAST(array(3) AS ARRAY<BIGINT>) AS b, CAST(array() AS ARRAY<BOOLEAN>) AS e",
        ),
        (
            "SELECT ARRAY<STRUCT<x INT64, y FLOAT64>>[STRUCT(1, 2.0)] AS a",
            "SELECT CAST(array(STRUCT(1, 2.0)) AS ARRAY<STRUCT<x BIGINT, y DOUBLE>>) AS a",
        ),
        ("SELECT [ARRAY[1]] AS a, arr[0] FROM t", "SELECT array(array(1)) AS a, arr[0] FROM t"),
    ],
)
def test_array_keyword_literals(bq, spark):
    assert transpile(bq) == spark


def test_array_keyword_literals_match_duckdb(session):
    import duckdb

    df = session.query(
        "SELECT ARRAY[1, 2] AS a, ARRAY<INT64>[3, 4] AS b, ARRAY<STRING>[] AS e, "
        "ARRAY_LENGTH(ARRAY<FLOAT64>[1.5, 2]) AS n"
    )
    want = duckdb.sql(
        "SELECT [1, 2] AS a, [3, 4]::BIGINT[] AS b, []::VARCHAR[] AS e, "
        "len([1.5, 2]::DOUBLE[]) AS n"
    ).fetchall()
    assert [tuple(r) for r in df.collect()] == want
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "array<int>", "array<bigint>", "array<string>", "int",
    ]
