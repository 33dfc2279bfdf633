"""BigQuery-SQL → Spark-SQL dialect shim + SQL text analysis.

Two jobs (SURVEY.md §4.2, §2.10):

1. ``transpile(sql)`` — rewrite the BigQuery-isms Spark SQL doesn't accept
   verbatim (REGEXP_CONTAINS, SAFE_CAST, DATE_ADD(d, INTERVAL n DAY),
   UNNEST, array/struct literals, qualified ``project.dataset.table``
   names). Everything else passes straight through to ``spark.sql`` where
   Catalyst parses/optimizes it.

2. ``extract_cte_names(sql)`` / ``extract_dependencies(sql, known)`` — the
   DAG dependency-inference semantics of the reference
   (extract_cte_names: src/session/pipeline.rs:616-688;
   extract_dependencies + is_table_referenced: pipeline.rs:595-614,690-723),
   re-implemented: word-boundary matching, CTE-name exclusion,
   case-insensitive, sorted output.

No sqlglot in this environment — the shim is a hand-written scanner with
one literal rule: only :func:`_skip_string` decides where a '…', "…" or
`…` literal ends, and every rewrite finds its next match in code through
:func:`_search_code`, so no rewrite edits literal data. A BigQuery
function that Spark spells or shapes differently is one entry of
``_CALLS``: a new name, or a rewriter of its arguments.

transpile's passes, in order: drop comments; rename cast types; map
table references; TABLESAMPLE SYSTEM; every ``_CALLS`` call in one pass,
inner calls first; UNNEST in FROM/JOIN/comma position; array subscripts;
array literals; brace struct literals; QUALIFY.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

# ---------------------------------------------------------------------------
# low-level SQL text scanning helpers (quote/paren aware)
# ---------------------------------------------------------------------------


def _skip_string(sql: str, i: int) -> int:
    """Given sql[i] is a quote char, return index just past the literal."""
    q = sql[i]
    j = i + 1
    while j < len(sql):
        if sql[j] == "\\":
            j += 2
            continue
        if sql[j] == q:
            # '' escape inside '-quoted strings
            if q == "'" and j + 1 < len(sql) and sql[j + 1] == "'":
                j += 2
                continue
            return j + 1
        j += 1
    return j


_QUOTE_RE = re.compile(r"['\"`]")


def _search_code(pat: re.Pattern, sql: str, pos: int = 0) -> re.Match | None:
    """The next match of ``pat`` at or after ``pos`` (a position in code)
    that starts outside '…', "…" and `…`, or None."""
    m = pat.search(sql, pos)
    while m:
        q = _QUOTE_RE.search(sql, pos, m.start())
        if q is None:
            return m
        pos = _skip_string(sql, q.start())
        if pos > m.start():
            m = pat.search(sql, pos)
    return None


def _sub_code(pat: re.Pattern, repl, sql: str) -> str:
    """``pat.sub(repl, sql)`` over the matches :func:`_search_code` finds."""
    out, last = [], 0
    while m := _search_code(pat, sql, last):
        out += [sql[last : m.start()], repl(m)]
        last = m.end()
    return "".join(out) + sql[last:]


_BRACKET_RE = {"(": re.compile(r"[()]"), "[": re.compile(r"[\[\]]"), "{": re.compile(r"[{}]")}


def _find_matching_paren(sql: str, open_idx: int) -> int:
    """Index of the bracket closing the ``(``, ``[`` or ``{`` at
    ``open_idx``; only brackets of that kind count."""
    opener, depth, i = sql[open_idx], 0, open_idx
    while m := _search_code(_BRACKET_RE[opener], sql, i):
        depth += 1 if m.group() == opener else -1
        if depth == 0:
            return m.start()
        i = m.end()
    raise ValueError(f"Unbalanced parentheses in SQL starting at {open_idx}")


_ARG_PUNCT_RE = re.compile(r"[,()\[\]]")


def _split_top_level_args(s: str) -> list[str]:
    """Split a function-argument string on top-level commas."""
    args, depth, start, i = [], 0, 0, 0
    while m := _search_code(_ARG_PUNCT_RE, s, i):
        c, i = m.group(), m.end()
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            args.append(s[start : m.start()].strip())
            start = i
    if start < len(s):
        args.append(s[start:].strip())
    return args


# ---------------------------------------------------------------------------
# individual transforms
# ---------------------------------------------------------------------------

_INTERVAL_RE = re.compile(r"^INTERVAL\s+(.+?)\s+(\w+)$", re.IGNORECASE)


def _date_add_sub(sign: str):
    def rw(args: list[str]):
        # BigQuery: DATE_ADD(date_expr, INTERVAL n unit)
        if len(args) != 2:
            return None
        m = _INTERVAL_RE.match(args[1].strip())
        if not m:
            # Spark's own 2-arg date_add(date, days) — leave as is.
            return None
        n, unit = m.group(1), m.group(2).upper()
        return f"({args[0]} {sign} INTERVAL {n} {unit})"

    return rw


def _date_diff(args: list[str]):
    # BigQuery: DATE_DIFF(end, start, unit); Spark: datediff(end, start) for
    # DAY, otherwise timestampdiff(unit, start, end).
    if len(args) != 3:
        return None
    end, start, unit = args[0], args[1], args[2].strip().upper()
    if unit == "DAY":
        return f"datediff({end}, {start})"
    return f"timestampdiff({unit}, {start}, {end})"


def _ts_diff(args: list[str]):
    # TIMESTAMP_DIFF / DATETIME_DIFF(end, start, unit): always
    # timestampdiff — datediff on timestamps counts date-boundary
    # crossings, not whole elapsed units, so it is NOT a DAY shortcut here.
    if len(args) != 3:
        return None
    end, start, unit = args[0], args[1], args[2].strip().upper()
    return f"timestampdiff({unit}, {start}, {end})"


_DATE_PARTS = {
    "MICROSECOND", "MILLISECOND", "SECOND", "MINUTE", "HOUR", "DAY", "WEEK",
    "ISOWEEK", "MONTH", "QUARTER", "YEAR", "ISOYEAR",
}


def _trunc(cast_to: str | None):
    """BigQuery DATE_TRUNC(expr, part) → Spark date_trunc('part', expr).
    Spark's own form (part string first) passes through untouched.

    Week-family parts diverge and are emulated:
    - BigQuery WEEK starts Sunday; Spark 'WEEK' truncates to Monday →
      dayofweek arithmetic back to the most recent Sunday.
    - ISOWEEK (Monday start) is exactly Spark 'WEEK'.
    - ISOYEAR (Monday of the ISO week containing Jan 4) has no Spark
      unit (date_trunc would return NULL) → built from YEAROFWEEK.
    """

    def rw(args: list[str]):
        if len(args) != 2:
            return None
        part = args[1].strip().strip("'\"").upper()
        first = args[0].strip().strip("'\"").upper()
        if part not in _DATE_PARTS or first in _DATE_PARTS:
            return None  # not the BigQuery arg order
        x = args[0]
        if part == "WEEK":
            # most recent Sunday (dayofweek: 1=Sunday..7=Saturday)
            inner = f"CAST(date_sub(CAST({x} AS DATE), dayofweek({x}) - 1) AS TIMESTAMP)"
        elif part == "ISOWEEK":
            inner = f"date_trunc('WEEK', {x})"
        elif part == "ISOYEAR":
            inner = (
                f"date_trunc('WEEK', make_date(extract(YEAROFWEEK FROM {x}), 1, 4))"
            )
        else:
            inner = f"date_trunc('{part}', {x})"
        return f"CAST({inner} AS {cast_to})" if cast_to else inner

    return rw


# words that can follow a FROM item without being its alias: the next
# clause, join or set operator
_CLAUSE_WORDS = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY", "WINDOW",
    "UNION", "INTERSECT", "EXCEPT", "JOIN", "ON", "USING", "LEFT", "RIGHT",
    "FULL", "INNER", "CROSS", "OUTER", "NATURAL", "SEMI", "ANTI", "LATERAL",
    "PIVOT", "UNPIVOT", "TABLESAMPLE", "WITH", "SELECT", "WHEN", "SET", "AS",
}


_UNNEST_RE = re.compile(r"(\bFROM\s+|,\s*|\bJOIN\s+)UNNEST\s*\(", re.IGNORECASE)


def _unnest_from(sql: str) -> str:
    """Rewrite ``FROM UNNEST(expr) [AS] alias [WITH OFFSET [AS] o]``
    → ``FROM (SELECT explode/posexplode(expr) …)`` and correlated
    ``, UNNEST(expr) …`` → `` LATERAL VIEW (pos)explode(…)``.
    ``WITH OFFSET`` maps to posexplode's position output (0-based, same
    as BigQuery's offset).
    """
    while m := _search_code(_UNNEST_RE, sql):
        open_idx = m.end() - 1
        close_idx = _find_matching_paren(sql, open_idx)
        expr = sql[open_idx + 1 : close_idx]
        rest = sql[close_idx + 1 :]
        am = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", rest)
        # a bare keyword after UNNEST() is the next clause, not an alias
        if am and am.group(1).upper() in _CLAUSE_WORDS and not re.match(
            r"\s*AS\s", rest, re.IGNORECASE
        ):
            am = None
        alias = am.group(1) if am else "f0"
        rest_after = rest[am.end() :] if am else rest
        om = re.match(
            r"\s*WITH\s+OFFSET(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?",
            rest_after,
            re.IGNORECASE,
        )
        off = (om.group(1) or "offset") if om else None
        if om:
            rest_after = rest_after[om.end() :]
        lead = m.group(1)
        if lead.startswith(","):
            # table, UNNEST(col) alias → LATERAL VIEW
            repl = (
                f" LATERAL VIEW posexplode({expr}) AS {off}, {alias} "
                if off
                else f" LATERAL VIEW explode({expr}) AS {alias} "
            )
        else:
            repl = (
                f"{lead}(SELECT posexplode({expr}) AS ({off}, {alias})) "
                if off
                else f"{lead}(SELECT explode({expr}) AS {alias}) "
            )
        sql = sql[: m.start()] + repl + rest_after
    return sql


_ARRAY_LITERAL_RE = re.compile(
    r"(?<![\w)\]'\"`])(?:\bARRAY\s*(<[\w\s<>,]*>)?\s*)?\[", re.IGNORECASE
)


def _bracket_literals(sql: str) -> str:
    """BigQuery array literals ``[1, 2]`` and ``ARRAY[1, 2]`` →
    ``array(1, 2)``; the typed ``ARRAY<INT64>[1, 2]`` →
    ``CAST(array(1, 2) AS ARRAY<BIGINT>)``.

    A ``[`` directly following an identifier/``)``/``]``/literal is
    subscript indexing and is left alone.
    """
    i = 0
    while m := _search_code(_ARRAY_LITERAL_RE, sql, i):
        i, lb = m.start(), m.end() - 1
        try:
            j = _find_matching_paren(sql, lb)
        except ValueError:  # unclosed: the literal runs to the end
            j = len(sql)
        lit = f"array({sql[lb + 1 : j]})"
        if m.group(1):
            typ = re.sub(r"\w+", lambda w: _TYPE_RENAMES.get(w[0].upper(), w[0]), m[1])
            lit = f"CAST({lit} AS ARRAY{typ})"
        sql = f"{sql[:i]}{lit}{sql[j + 1 :]}"
        i += lit.index("array(") + len("array(")
    return sql


_STRUCT_BRACE_RE = re.compile(r"\{\s*'")


def _brace_struct_literals(sql: str) -> str:
    """DuckDB-style struct literal ``{'k': v, …}`` (accepted by the
    reference engine, src/utils.rs:13-19) → ``named_struct('k', v, …)``."""
    while m := _search_code(_STRUCT_BRACE_RE, sql):
        try:
            j = _find_matching_paren(sql, m.start())
        except ValueError:  # unclosed: the literal runs to the end
            j = len(sql)
        fields = []
        for p in _split_top_level_args(sql[m.start() + 1 : j]):
            k, _, v = p.partition(":")
            fields.append(f"{k.strip()}, {v.strip()}")
        sql = sql[: m.start()] + "named_struct(" + ", ".join(fields) + ")" + sql[j + 1 :]
    return sql


_INDEX_RE = re.compile(
    r"\[\s*(SAFE_OFFSET|SAFE_ORDINAL|OFFSET|ORDINAL)\s*\(", re.IGNORECASE
)


def _operand_start(sql: str, lb: int) -> int:
    """Start index of the primary expression ending just before ``lb``
    (an identifier chain with balanced call/index groups, e.g.
    ``f(x).arr`` in ``f(x).arr[SAFE_OFFSET(0)]``). A forward scan pairs
    each closing bracket and backticked name with its start, so the walk
    back never reads a literal."""
    start_of, opened, i = {}, [], 0
    while i < lb:
        c = sql[i]
        if c in "'\"`":
            j = _skip_string(sql, i)
            if c == "`":
                start_of[j - 1] = i
            i = j
            continue
        if c in "([":
            opened.append(i)
        elif c in ")]":  # an unopened one reaches back to the start
            start_of[i] = opened.pop() if opened else 0
        i += 1
    i = lb - 1
    while i >= 0 and sql[i].isspace():
        i -= 1
    while i >= 0 and (i in start_of or sql[i].isalnum() or sql[i] in "_."):
        i = start_of.get(i, i) - 1
    return i + 1


def _rewrite_array_indexing(sql: str) -> str:
    """BigQuery array element access → Spark:

    - ``arr[OFFSET(i)]``  → ``arr[(i)]`` (0-based; ANSI mode errors out
      of range, exactly BigQuery's OFFSET behavior)
    - ``arr[ORDINAL(i)]`` → ``arr[(i) - 1]`` (1-based)
    - ``arr[SAFE_OFFSET(i)]``/``[SAFE_ORDINAL(i)]`` →
      ``try_element_at(arr, …)`` (NULL out of range)
    """
    i = 0
    while m := _search_code(_INDEX_RE, sql, i):
        i = m.start()
        open_idx = m.end() - 1
        try:
            close_idx = _find_matching_paren(sql, open_idx)
        except ValueError:
            i += 1
            continue
        j = close_idx + 1
        while j < len(sql) and sql[j].isspace():
            j += 1
        if j >= len(sql) or sql[j] != "]":
            i += 1
            continue
        func = m.group(1).upper()
        inner = sql[open_idx + 1 : close_idx]
        start = i
        if func == "OFFSET":
            repl = f"[({inner})]"
        elif func == "ORDINAL":
            repl = f"[({inner}) - 1]"
        else:
            start = _operand_start(sql, i)
            operand = sql[start:i].strip()
            plus = " + 1" if func == "SAFE_OFFSET" else ""
            repl = f"try_element_at({operand}, ({inner}){plus})"
        sql = sql[:start] + repl + sql[j + 1 :]
        i = start  # rescan: the index expression may nest more accesses
    return sql


def _json_as_text(args: list[str]):
    """BigQuery JSON_EXTRACT / JSON_QUERY return JSON-encoded text:
    string scalars keep their quotes ('"b"'), JSON null is the text
    'null'. Spark's get_json_object unquotes scalars, so re-encode via
    variant: to_json(variant_get(...)) renders exactly the JSON text
    (objects/arrays unchanged, absent paths → SQL NULL)."""
    if len(args) != 2:
        return None
    return f"to_json(variant_get(try_parse_json({args[0]}), {args[1]}))"


_CAPTURE_GROUP_RE = re.compile(r"(?<!\\)\((?!\?)")


def _pattern_has_group(pattern_literal: str) -> bool:
    """Does a regex string literal contain a capturing group?"""
    return bool(_CAPTURE_GROUP_RE.search(pattern_literal))


def _regexp_extract(args: list[str]):
    """BigQuery REGEXP_EXTRACT(s, p): returns the first capture group
    (or the whole match for groupless patterns) and NULL when nothing
    matches — Spark's regexp_extract returns '' on no-match and errors
    on groupless patterns. Literal patterns are introspected at
    transpile time; non-literals assume one capture group."""
    if len(args) != 2:
        return None  # 3-arg (position/occurrence) form: pass through
    s, p = args[0], args[1].strip()
    is_literal = p.startswith("'") and p.endswith("'")
    if is_literal and not _pattern_has_group(p[1:-1]):
        return f"regexp_substr({s}, {p})"
    return f"CASE WHEN {s} RLIKE {p} THEN regexp_extract({s}, {p}, 1) ELSE NULL END"


def _regexp_extract_all(args: list[str]):
    """BigQuery REGEXP_EXTRACT_ALL: array of group matches, or of whole
    matches for groupless patterns (wrapped in a group for Spark)."""
    if len(args) != 2:
        return None
    s, p = args[0], args[1].strip()
    is_literal = p.startswith("'") and p.endswith("'")
    if is_literal and not _pattern_has_group(p[1:-1]):
        inner = p[1:-1]
        return f"regexp_extract_all({s}, '({inner})', 1)"
    return f"regexp_extract_all({s}, {p}, 1)"


def _empty_like(expr: str) -> str:
    """An EMPTY array carrying ``expr``'s element type (slice of a
    one-element sequence) — the CASE-branch partner for the empty-range
    guards below, where a bare ``array()`` would type as array<string>."""
    return f"slice(sequence(({expr}), ({expr})), 1, 0)"


def _generate_array(args: list[str]):
    """GENERATE_ARRAY(a, b[, step]) → guarded sequence.

    BigQuery returns an EMPTY array when the range is empty (a > b with
    the default/positive step, a < b with a negative step); Spark's
    ``sequence(a, b)`` instead flips to a DESCENDING sequence when
    a > b, and errors on a step whose sign opposes the direction — a
    silent wrong-answer divergence the round-8 dialect fuzzer caught
    (GENERATE_ARRAY(1, 0): BQ [], bare sequence [1, 0]).

    DOCUMENTED LIMIT (round-9 advice): the start/step expressions are
    textually duplicated into the CASE guard and _empty_like, so each
    argument evaluates up to 4x — and for a NON-DETERMINISTIC argument
    (rand(), a volatile UDF) the guard and the sequence could disagree.
    Deterministic literal/column/scalar-expression arguments — every
    shape BigQuery queries put there, and everything the dialect fuzzer
    generates — are unaffected. Binding the arguments once would need a
    LATERAL subquery per call site, which this string-level rewriter
    cannot place for arbitrary clause positions (SELECT list, WHERE,
    UNNEST); accepted as out of scope until a real query needs it."""
    if len(args) == 2:
        a, b = args
        return (
            f"CASE WHEN ({a}) > ({b}) THEN {_empty_like(a)} "
            f"ELSE sequence({a}, {b}) END"
        )
    if len(args) == 3:
        a, b, s = args
        return (
            f"CASE WHEN (({s}) > 0 AND ({a}) > ({b})) "
            f"OR (({s}) < 0 AND ({a}) < ({b})) THEN {_empty_like(a)} "
            f"ELSE sequence({a}, {b}, {s}) END"
        )
    return None


def _generate_date_array(args: list[str]):
    """GENERATE_DATE_ARRAY(start, end[, INTERVAL n unit]) →
    sequence(start, end, interval) (inclusive endpoints, same as
    BigQuery), with the same empty-range guard as _generate_array:
    BigQuery yields [] when the interval sign cannot reach end from
    start; bare Spark sequence would error."""
    if len(args) == 2:
        a, b = args
        return (
            f"CASE WHEN ({a}) > ({b}) THEN {_empty_like(a)} "
            f"ELSE sequence({a}, {b}, interval 1 day) END"
        )
    if len(args) == 3:
        m = _INTERVAL_RE.match(args[2].strip())
        if m:
            a, b = args[0], args[1]
            n, unit = m.group(1), m.group(2)
            try:
                positive = int(n) > 0
            except ValueError:  # non-literal interval count: keep as-is
                return None
            guard = f"({a}) > ({b})" if positive else f"({a}) < ({b})"
            return (
                f"CASE WHEN {guard} THEN {_empty_like(a)} "
                f"ELSE sequence({a}, {b}, interval {n} {unit}) END"
            )
    return None


_ARRAY_AGG_ORDER_RE = re.compile(
    r"^(.+?)\s+ORDER\s+BY\s+(.+?)(\s+DESC|\s+ASC)?$", re.IGNORECASE | re.DOTALL
)


def _array_agg(args: list[str]):
    """BigQuery ``ARRAY_AGG(e ORDER BY k [DESC])`` → sorted collect:
    Spark's array_agg has no ORDER BY clause. Same-expression orderings
    become ``array_sort(collect_list(e))``; distinct keys sort a
    (key, value) struct and project the value back out. Plain
    ARRAY_AGG stays native (Spark's own array_agg)."""
    if len(args) != 1:
        return None
    m = _ARRAY_AGG_ORDER_RE.match(args[0].strip())
    if not m:
        return None
    expr, key, direction = m.group(1).strip(), m.group(2).strip(), m.group(3)
    desc = bool(direction and direction.strip().upper() == "DESC")
    distinct = bool(re.match(r"DISTINCT\s", expr, re.IGNORECASE))
    if distinct:
        # BigQuery requires the ORDER BY expression to appear in the
        # argument list when DISTINCT is present — so key == expr here
        expr = re.sub(r"^DISTINCT\s+", "", expr, flags=re.IGNORECASE)
        base = f"array_sort(collect_set({expr}))"
    elif key == expr:
        base = f"array_sort(collect_list({expr}))"
    else:
        base = (
            f"transform(array_sort(collect_list(named_struct"
            f"('k', {key}, 'v', {expr}))), s -> s.v)"
        )
    return f"reverse({base})" if desc else base


# Every BigQuery function transpile rewrites, by name. A string renames
# the function and keeps its argument text; a rewriter gets the split
# arguments and returns the Spark text, or None to keep the call.
_CALLS = {
    "REGEXP_CONTAINS": "regexp_like",
    "SAFE_CAST": "try_cast",
    "SAFE_DIVIDE": "try_divide",
    "IFNULL": "coalesce",
    "STARTS_WITH": "startswith",
    "ENDS_WITH": "endswith",
    "BYTE_LENGTH": "octet_length",
    "CHARACTER_LENGTH": "length",
    "ARRAY_LENGTH": "size",
    "STRING_AGG": "string_agg",  # Spark 4 has string_agg natively
    # BigQuery SPLIT takes a LITERAL delimiter; Spark's split() takes a
    # regex ('a.b' → ['','','']). BQ_SPLIT (functions/bigquery.py)
    # regex-quotes the delimiter. The builtin name can't be overridden.
    "SPLIT": "BQ_SPLIT",
    "ARRAY_CONCAT": "concat",
    "ARRAY_TO_STRING": "array_join",
    "ARRAY_REVERSE": "reverse",
    "COUNTIF": "count_if",
    "LOGICAL_AND": "bool_and",
    "LOGICAL_OR": "bool_or",
    # NET.* URL functions (functions/bigquery.py supplies the bodies;
    # the dot cannot appear in a Spark function name)
    "NET.HOST": "NET_HOST",
    "NET.REG_DOMAIN": "NET_REG_DOMAIN",
    # BigQuery FORMAT is C-style %-formatting — exactly format_string
    "FORMAT": "format_string",
    # SAFE_ arithmetic returns NULL instead of erroring on overflow —
    # exactly Spark's try_ family
    "SAFE_ADD": "try_add",
    "SAFE_SUBTRACT": "try_subtract",
    "SAFE_MULTIPLY": "try_multiply",
    # JSON scalar accessors: BigQuery names → Spark's get_json_object
    # (same $.path syntax; both return the UNQUOTED scalar as STRING).
    # JSON_EXTRACT / JSON_QUERY return JSON-encoded text (string scalars
    # keep their quotes), re-encoded via variant.
    "JSON_EXTRACT_SCALAR": "get_json_object",
    "JSON_VALUE": "get_json_object",
    "TO_JSON_STRING": "to_json",
    "JSON_EXTRACT": _json_as_text,
    "JSON_QUERY": _json_as_text,
    "ARRAY_AGG": _array_agg,
    "GENERATE_ARRAY": _generate_array,
    "GENERATE_DATE_ARRAY": _generate_date_array,
    "GENERATE_TIMESTAMP_ARRAY": _generate_date_array,
    "REGEXP_EXTRACT_ALL": _regexp_extract_all,
    "REGEXP_EXTRACT": _regexp_extract,
    "DATE_ADD": _date_add_sub("+"),
    "DATE_SUB": _date_add_sub("-"),
    "TIMESTAMP_ADD": _date_add_sub("+"),
    "TIMESTAMP_SUB": _date_add_sub("-"),
    "DATETIME_ADD": _date_add_sub("+"),
    "DATETIME_SUB": _date_add_sub("-"),
    "DATE_DIFF": _date_diff,
    "TIMESTAMP_DIFF": _ts_diff,
    "DATETIME_DIFF": _ts_diff,
    "DATE_TRUNC": _trunc("DATE"),
    "TIMESTAMP_TRUNC": _trunc(None),
    "DATETIME_TRUNC": _trunc(None),
}
_CALL_RE = re.compile(
    r"\b(" + "|".join(map(re.escape, _CALLS)) + r")\s*\(", re.IGNORECASE
)


def _rewrite_calls(sql: str) -> str:
    """Rewrite every call named in ``_CALLS`` (case-insensitive, balanced
    parens), inner calls first."""
    out, i = [], 0
    while m := _search_code(_CALL_RE, sql, i):
        open_idx, rw = m.end() - 1, _CALLS[m.group(1).upper()]
        try:
            close_idx = _find_matching_paren(sql, open_idx)
        except ValueError:  # unclosed: only a rename applies
            out += [sql[i : m.start()], f"{rw}(" if isinstance(rw, str) else m.group()]
            i = m.end()
            continue
        inner = _rewrite_calls(sql[open_idx + 1 : close_idx])
        new = f"{rw}({inner})" if isinstance(rw, str) else rw(_split_top_level_args(inner))
        if new is None:
            new = f"{sql[m.start() : open_idx + 1]}{inner})"
        out += [sql[i : m.start()], new]
        i = close_idx + 1
    return "".join(out) + sql[i:]


def _find_top_level_keyword(sql: str, keyword: str, start: int = 0) -> int:
    """Index of ``keyword`` at paren-depth 0 outside strings, or -1."""
    pat = re.compile(rf"[()]|\b{keyword}\b", re.IGNORECASE)
    depth, i = 0, start
    while m := _search_code(pat, sql, i):
        if m.group() == "(":
            depth += 1
        elif m.group() == ")":
            depth -= 1
        elif depth == 0:
            return m.start()
        i = m.end()
    return -1


def _rewrite_qualify(sql: str) -> str:
    """BigQuery ``QUALIFY <pred>`` (filter on window-function output) →
    wrap the query and filter in an outer WHERE:

    ``SELECT … QUALIFY p [ORDER BY …] [LIMIT …]``
    → ``SELECT * FROM ( SELECT … ) WHERE p [ORDER BY …] [LIMIT …]``

    Works whenever the predicate references select-list aliases (the
    idiomatic ``QUALIFY rn = 1`` pattern). Spark has no QUALIFY clause.
    """
    q_idx = _find_top_level_keyword(sql, "QUALIFY")
    if q_idx < 0:
        return sql
    head = sql[:q_idx].rstrip()
    rest = sql[q_idx + len("QUALIFY") :]
    # trailing ORDER BY / LIMIT stay outside the wrap
    tail_idx = len(rest)
    for kw in ("ORDER", "LIMIT"):
        k = _find_top_level_keyword(rest, kw)
        if 0 <= k < tail_idx:
            tail_idx = k
    pred, tail = rest[:tail_idx].strip(), rest[tail_idx:]
    return f"SELECT * FROM ( {head} ) WHERE {pred} {tail}".rstrip()


_COMMENT_RE = re.compile(r"#|--|/\*(?!\+)")


def _strip_comments(sql: str) -> str:
    """Drop ``#`` and ``--`` line comments (the newline stays) and
    ``/* … */`` block comments (one space stays; Spark's ``/*+ … */``
    hints are kept), never inside a literal or a backticked name. The
    scans that follow know no comments: a quote inside one would open a
    literal, and its words would read as SQL."""
    out, kept = [], 0
    while m := _search_code(_COMMENT_RE, sql, kept):
        i = m.start()
        if m.group() == "/*":
            end, space = sql.find("*/", i + 2), " "
            end = len(sql) if end < 0 else end + 2
        else:
            end, space = sql.find("\n", i), ""
            end = len(sql) if end < 0 else end
        out += [sql[kept:i], space]
        kept = end
    return "".join(out) + sql[kept:]


# BigQuery type names → Spark SQL type names, applied in `AS <type>` cast
# position (CAST/SAFE_CAST) and column-type DDL position.
_TYPE_RENAMES = {
    "INT64": "BIGINT",
    "INTEGER": "BIGINT",
    "FLOAT64": "DOUBLE",
    "BOOL": "BOOLEAN",
    "BYTES": "BINARY",
    "NUMERIC": "DECIMAL(38,9)",
    "BIGNUMERIC": "DECIMAL(38,18)",
    "DATETIME": "TIMESTAMP_NTZ",
}


_CAST_TYPE_RE = re.compile(
    r"(\bAS\s+)(" + "|".join(_TYPE_RENAMES) + r")\b(?!\s*\()", re.IGNORECASE
)


def _rename_cast_types(sql: str) -> str:
    return _sub_code(
        _CAST_TYPE_RE, lambda m: f"{m.group(1)}{_TYPE_RENAMES[m.group(2).upper()]}", sql
    )


# words after which a table name may follow; after FROM and JOIN it may
# also be a parenthesized join
_TABLE_WORDS = {"FROM", "JOIN", "INTO", "UPDATE", "TABLE", "USING", "MERGE"}
# words that end a FROM list at their paren depth
_FROM_LIST_END = {
    "WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW", "ORDER", "LIMIT", "UNION",
    "INTERSECT", "EXCEPT", "SELECT", "SET", "WHEN", "VALUES",
}
_WORD_RE = re.compile(r"[A-Za-z_][\w.]*")


def _table_positions(sql: str, pat: re.Pattern) -> Iterator[re.Match]:
    """Matches of ``pat`` at the names of ``sql`` in table position: after
    FROM, JOIN, INTO, UPDATE, TABLE, USING or MERGE, after a comma of a
    FROM list at the FROM's paren depth, and first in a parenthesized
    join; a column or alias spelled like a table is not in table
    position, nor is the value of ``EXTRACT(part FROM value)``. Literals
    are skipped; ``sql`` holds no comments (see :func:`_strip_comments`)."""
    # per open bracket: inside a FROM list at its depth; None inside
    # EXTRACT(…), whose FROM takes a value
    from_list = [False]
    expect = None  # "from": a table or a parenthesized join may follow; "name": a table
    word = None  # the word just read, until anything but space follows it
    i = 0
    while i < len(sql):
        c = sql[i]
        if c.isspace():
            i += 1
            continue
        m = pat.match(sql, i) if expect else None
        if m:
            yield m
            i, expect, word = m.end(), None, None
            continue
        if c in "'\"`":
            i, expect, word = _skip_string(sql, i), None, None
            continue
        tok = _WORD_RE.match(sql, i)
        if tok is None:
            if c in "([{":
                opened = c == "(" and expect == "from"
                from_list.append(None if c == "(" and word == "EXTRACT" else opened)
                expect = "from" if opened else None
            else:
                if c in ")]}" and len(from_list) > 1:
                    from_list.pop()
                expect = "from" if c == "," and from_list[-1] else None
            i, word = i + 1, None
            continue
        word = tok.group(0).upper()
        expect = None
        if from_list[-1] is None:
            pass
        elif word in _TABLE_WORDS:
            expect = "from" if word in ("FROM", "JOIN") else "name"
            if word == "FROM":
                from_list[-1] = True
        elif word in _FROM_LIST_END:
            from_list[-1] = False
        i = tok.end()


def _names_pattern(names) -> str:
    """Regex source matching any of ``names``, bare or backticked (group 2
    the name), longest first, never as a dotted part of a longer name."""
    alts = "|".join(re.escape(n) for n in sorted(names, key=len, reverse=True))
    return rf"(?<![\w.`])(`?)({alts})\1(?![\w.`])"


def _map_tables(sql: str, table_mapping: dict[str, str]) -> str:
    """Rewrite every registered table reference in table position (see
    :func:`_table_positions`) to ``<view> [TABLESAMPLE (…)] AS <alias>``:
    Spark's order, alias last. Names match case-insensitively. The alias
    is the user's (``t c`` / ``t AS c``) or else the name's last
    component, BigQuery's implicit alias, so ``t.col`` and ``tbl.col``
    still resolve against the view."""
    lookup = {name.lower(): view for name, view in table_mapping.items()}
    clause = "|".join(_CLAUSE_WORDS)
    pat = re.compile(
        _names_pattern(table_mapping)
        + rf"(?:\s+(?:AS\s+)?(?!(?:{clause})\b)([A-Za-z_]\w*))?"
        r"(?:\s+TABLESAMPLE\s*(?:SYSTEM\s*)?\(([^)]*)\))?",
        re.IGNORECASE,
    )

    def sub(m: re.Match) -> str:
        name, alias, sample = m.group(2), m.group(3), m.group(4)
        ts = "" if sample is None else f" TABLESAMPLE ({sample})"
        return f"{lookup[name.lower()]}{ts} AS {alias or name.split('.')[-1]}"

    out, last = [], 0
    for m in _table_positions(sql, pat):
        out += [sql[last : m.start()], sub(m)]
        last = m.end()
    return "".join(out) + sql[last:]


_TABLESAMPLE_SYSTEM_RE = re.compile(r"\bTABLESAMPLE\s+SYSTEM\s*\(", re.IGNORECASE)


def transpile(sql: str, table_mapping: dict[str, str] | None = None) -> str:
    """BigQuery SQL → Spark SQL.

    ``table_mapping`` maps each registered name (e.g. ``proj.ds.tbl``)
    to the engine's bare view name. transpile is the only code that
    spells a table reference: it writes the view, the alias and the
    TABLESAMPLE clause in Spark's order (see :func:`_map_tables`), so
    callers pass its output to Spark unchanged.
    """
    # BigQuery's #-comments are not Spark's, and no scan below knows comments
    out = _strip_comments(sql)
    # type names before the mapping writes aliases: ``FROM t bool`` must
    # keep its alias
    out = _rename_cast_types(out)
    if table_mapping:
        out = _map_tables(out, table_mapping)
    # BigQuery TABLESAMPLE SYSTEM (n PERCENT) → Spark TABLESAMPLE (n PERCENT)
    # on references no mapping spelled (CTEs, subqueries)
    out = _sub_code(_TABLESAMPLE_SYSTEM_RE, lambda m: "TABLESAMPLE (", out)
    out = _rewrite_calls(out)
    out = _unnest_from(out)
    out = _rewrite_array_indexing(out)
    out = _bracket_literals(out)
    out = _brace_struct_literals(out)
    out = _rewrite_qualify(out)
    return out


# ---------------------------------------------------------------------------
# CTE-name extraction (reference pipeline.rs:616-688 semantics)
# ---------------------------------------------------------------------------


def extract_cte_names(sql: str) -> list[str]:
    """Names bound by a leading ``WITH [RECURSIVE] name AS (…) [, name2 AS
    (…)]*`` — paren-depth tracked, stops at the top-level SELECT / INSERT /
    UPDATE / DELETE (reference unit tests pipeline.rs:2239-2260:
    recursive keyword, nested parens, multiple CTEs)."""
    names: list[str] = []
    m = re.match(r"\s*WITH\s+", sql, re.IGNORECASE)
    if not m:
        return names
    i = m.end()
    m2 = re.match(r"RECURSIVE\s+", sql[i:], re.IGNORECASE)
    if m2:
        i += m2.end()
    while i < len(sql):
        wm = _WORD_RE.match(sql, i)
        if not wm:
            break
        word = wm.group(0)
        if word.upper() in ("SELECT", "INSERT", "UPDATE", "DELETE"):
            break
        name = word
        i = wm.end()
        am = re.match(r"\s*AS\s*\(", sql[i:], re.IGNORECASE)
        if not am:
            break
        open_idx = i + am.end() - 1
        try:
            close_idx = _find_matching_paren(sql, open_idx)
        except ValueError:
            break
        names.append(name)
        i = close_idx + 1
        cm = re.match(r"\s*,\s*", sql[i:])
        if cm:
            i += cm.end()
        else:
            # skip whitespace then expect the main statement
            i += len(sql[i:]) - len(sql[i:].lstrip())
    return names


# ---------------------------------------------------------------------------
# dependency inference (reference pipeline.rs:595-614, 690-723 semantics)
# ---------------------------------------------------------------------------

def _referenced_tables(sql: str, tables: list[str]) -> set[str]:
    """The lower-cased ``tables`` that ``sql`` (comments stripped) names
    in table position."""
    if not tables:
        return set()
    pat = re.compile(_names_pattern(tables), re.IGNORECASE)
    return {m.group(2).lower() for m in _table_positions(sql, pat)}


def is_table_referenced(sql: str, table: str) -> bool:
    """Case-insensitive check that ``sql`` names ``table`` in table
    position (see :func:`_table_positions`): ``users`` does not match
    ``user``, and a column, alias, literal or comment spelled like the
    table does not count."""
    return bool(_referenced_tables(_strip_comments(sql), [table]))


def extract_dependencies(sql: str, known_tables: list[str]) -> list[str]:
    """Return the sorted list of known table names referenced by ``sql``,
    excluding names bound as CTEs in the same statement (reference
    pipeline.rs:595-614; CTE-exclusion tests pipeline.rs:2118-2171)."""
    sql = _strip_comments(sql)
    ctes = {c.lower() for c in extract_cte_names(sql)}
    tables = [t for t in known_tables if t.lower() not in ctes]
    found = _referenced_tables(sql, tables)
    return sorted({t for t in tables if t.lower() in found}, key=str.lower)
