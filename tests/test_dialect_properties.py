"""Property-based tests for the dialect's SQL text scanners — the
hand-rolled parsing (quote skipping, paren matching, literal rewriting)
is exactly the code where enumerated goldens miss edge cases."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from bq_duckdb_spark.dialect import (
    _bracket_literals,
    _find_matching_paren,
    _skip_string,
    _split_top_level_args,
    extract_cte_names,
    extract_dependencies,
    transpile,
)

ident = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
simple_value = st.one_of(
    st.integers(-1000, 1000).map(str),
    st.from_regex(r"'[a-z ]{0,10}'", fullmatch=True),
)


@given(st.lists(simple_value, min_size=1, max_size=5))
def test_split_args_roundtrip(args):
    joined = ", ".join(args)
    assert _split_top_level_args(joined) == [a.strip() for a in args]


@given(st.lists(st.lists(simple_value, min_size=1, max_size=3), min_size=1, max_size=3))
def test_split_args_respects_nesting(groups):
    # f(a, b), g(c) … nested commas must not split
    calls = [f"f({', '.join(g)})" for g in groups]
    assert _split_top_level_args(", ".join(calls)) == calls


@given(st.from_regex(r"[a-z('\") ]{0,30}", fullmatch=True))
def test_skip_string_terminates(s):
    """The scanner never loops or escapes past the end on arbitrary
    quote soup."""
    i = 0
    steps = 0
    while i < len(s) and steps < 1000:
        if s[i] in "'\"":
            j = _skip_string(s, i)
            assert j > i
            i = j
        else:
            i += 1
        steps += 1
    assert steps < 1000


@given(st.lists(simple_value, min_size=1, max_size=4))
def test_bracket_literal_rewrite(vals):
    sql = f"SELECT [{', '.join(vals)}] AS a"
    out = _bracket_literals(sql)
    assert out == f"SELECT array({', '.join(vals)}) AS a"


@given(ident, ident)
def test_subscript_not_rewritten(col, _):
    sql = f"SELECT {col}[0] FROM t"
    assert _bracket_literals(sql) == sql


@given(st.lists(ident, min_size=1, max_size=4, unique=True))
def test_cte_names_extracted(names):
    body = ", ".join(f"{n} AS (SELECT 1)" for n in names)
    sql = f"WITH {body} SELECT * FROM {names[-1]}"
    assert extract_cte_names(sql) == names


@given(st.lists(ident, min_size=2, max_size=5, unique=True))
def test_dependencies_subset_of_known(names):
    """Inferred deps are always a subset of known tables, sorted, and
    include exactly the FROM/JOIN-referenced ones."""
    used, unused = names[0], names[1:]
    sql = f"SELECT * FROM {used}"
    deps = extract_dependencies(sql, names)
    assert deps == [used]
    assert all(d in names for d in deps)


# text every rewrite family would edit in code
call_text = st.sampled_from([
    "", "DATE_ADD(d, INTERVAL 1 DAY)", "UNNEST(a)", "x FROM UNNEST(a) AS y",
    "DATE_TRUNC(d, MONTH)", "GENERATE_ARRAY(1, 3)", "SPLIT(s, ',')", "{'k': v}",
    "[1, 2]", "a[SAFE_OFFSET(0)]", "CAST(x AS INT64)",
])


@given(ident, call_text, st.sampled_from(["'", '"']))
def test_table_names_in_literals_never_rewritten(table, call, q):
    body = f"{table} {call}".replace(q, "\\" + q)
    sql = f"SELECT {q}{body}{q} AS s FROM {table}"
    out = transpile(sql, {table: "VIEWNAME"})
    assert f"{q}{body}{q}" in out          # literal untouched
    assert re.search(r"FROM VIEWNAME\b", out)  # reference rewritten


@given(st.integers(0, 5), st.integers(0, 5))
def test_paren_matching(before, inner):
    sql = "x" * before + "(" + "(y)" * inner + ")"
    close = _find_matching_paren(sql, before)
    assert close == len(sql) - 1


@settings(max_examples=30)
@given(
    st.from_regex(
        r"SELECT (?:[a-z0-9_, ()'\"\\\[\]{}]|\[SAFE_OFFSET\(0\)\]){0,40}", fullmatch=True
    )
)
def test_transpile_never_crashes_on_select_soup(sql):
    """transpile must be total: garbage in, string out (Spark's parser
    is the component that rejects bad SQL, not the shim)."""
    try:
        out = transpile(sql)
        assert isinstance(out, str)
    except ValueError:
        pass  # unbalanced-paren inputs may legitimately raise
