"""DataFrame → BigQuery ``queryResponse`` JSON (the reference's wire
format, src/executor/yachtsql.rs:207-231: ``schema.fields[]``,
``rows[].f[].v``, ``totalRows`` as string, ``jobComplete``).

One columnar encoder, ``to_bq_json``: the result leaves Spark as Arrow
record batches and stays in Arrow until the response text. Each column
becomes one Arrow array of JSON value texts, chosen once by its Spark
type and built by compute kernels:

- INT64, BOOL: cast to string
- FLOAT64, FLOAT: cast to float64, then to string, which writes
  ``repr``'s shortest round-trip digits; ``.0`` is appended to integral
  values, and the rows where Arrow's form differs from ``repr`` (NaN,
  ±inf, and |x| outside [1e-4, 1e10) but not 0) take the per-value path
- STRING: quoted by a kernel; the rows with a character json escapes
  (outside printable ASCII, ``"``, ``\\``) take the per-value path
- TIMESTAMP, DATETIME: cast to string of the wall time in the session
  zone, trimmed to the text of ``datetime.isoformat(sep=" ")``, quoted
- every other type: ``json.dumps(_encode_value(v))`` per value, after
  ``_from_arrow`` turns Arrow's Python values into the ones ``_encode_value``
  encodes (naive datetimes, MAP as dict in Spark's entry order, STRUCT
  keyed by its field names)

The per-value path is json's own encoding of ``_encode_value``, so a
patched row has the text the row-at-a-time reference writes. One
row-wise join of the column texts and one join over all rows build the
``rows`` text, which is spliced into the response text: Python handles
only the head, the final string and the per-value rows.
``to_bq_response`` is the dict view for in-process callers."""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import math

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bq_duckdb_spark import types as bqtypes

_INT_AND_BOOL = (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType)
# Spark types with no Python (hence no wire) value
_NO_WIRE_VALUE = (T.YearMonthIntervalType, T.CalendarIntervalType)


def _encode_value(v):
    """JSON encoding per SURVEY §1.3: bool/number native, bytes→base64,
    date/timestamp→ISO strings, decimal→string, arrays/structs recurse,
    NULL⇄null."""
    if v is None:
        return None
    if isinstance(v, bool) or isinstance(v, int):
        return v
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return str(v)
        return v
    if isinstance(v, bytes):
        return base64.b64encode(v).decode("ascii")
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, datetime.timedelta):
        # symmetric with the bq.insert INTERVAL input format:
        # "[-][D ]H:MM:SS[.ffffff]"
        total_us = (v.days * 86400 + v.seconds) * 1_000_000 + v.microseconds
        sign = "-" if total_us < 0 else ""
        total_us = abs(total_us)
        us = total_us % 1_000_000
        secs = total_us // 1_000_000
        d, rem = divmod(secs, 86400)
        h, rem = divmod(rem, 3600)
        m, s = divmod(rem, 60)
        frac = f".{us:06d}" if us else ""
        day = f"{d} " if d else ""
        return f"{sign}{day}{h}:{m:02d}:{s:02d}{frac}"
    if hasattr(v, "asDict"):  # Row (struct value) — a tuple subclass, so
        # this check must precede the list/tuple branch
        return {k: _encode_value(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_encode_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _encode_value(x) for k, x in v.items()}
    return str(v) if not isinstance(v, str) else v


def _nested(dt: T.DataType):
    """``dt`` and every type nested in it."""
    yield dt
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _nested(f.dataType)
    elif isinstance(dt, T.ArrayType):
        yield from _nested(dt.elementType)
    elif isinstance(dt, T.MapType):
        yield from _nested(dt.keyType)
        yield from _nested(dt.valueType)


def _positional(dt: T.DataType) -> T.DataType:
    """``dt`` with every STRUCT field renamed ``_0``, ``_1``, … (same
    types and nullability), a cast target Spark accepts by position."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f"_{i}", _positional(f.dataType), f.nullable)
                for i, f in enumerate(dt.fields)
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_positional(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _positional(dt.keyType), _positional(dt.valueType), dt.valueContainsNull
        )
    return dt


def _fetch_arrow(df: DataFrame) -> pa.Table:
    """The result as one Arrow table. ``_collect_as_arrow`` rather than
    ``toArrow``: the latter's final cast to the declared Arrow schema
    rejects a NULL row of a nullable STRUCT whose fields are not nullable.
    The JVM's Arrow writer rejects duplicate STRUCT field names, so a
    column holding such a STRUCT is cast to positional names first; the
    converters read STRUCT values by position."""
    schema = df.schema
    for f in schema.fields:
        for t in _nested(f.dataType):
            if isinstance(t, _NO_WIRE_VALUE):
                raise TypeError(f"column {f.name}: {t.simpleString()} values cannot be returned")
    if any(
        isinstance(t, T.StructType) and len(set(t.names)) < len(t.names)
        for f in schema.fields
        for t in _nested(f.dataType)
    ):
        names = [f"_{i}" for i in range(len(schema.fields))]
        df = df.toDF(*names).select(
            [F.col(n).cast(_positional(f.dataType)) for n, f in zip(names, schema.fields)]
        )
    return pa.Table.from_batches(df._collect_as_arrow(empty_list_if_zero_records=False))


def _from_arrow(dt: T.DataType):
    """A function taking a non-NULL Arrow Python value of Spark type ``dt``
    to the value ``_encode_value`` encodes, or None where they are the
    same: a TIMESTAMP loses its zone (keeping its wall time in the
    session zone), a MAP's entries become a dict, a STRUCT's values are
    keyed by its field names in order (the last of a repeated name wins),
    a VARIANT becomes a ``VariantVal``."""
    if isinstance(dt, T.TimestampType):
        return lambda v: v.replace(tzinfo=None)
    if isinstance(dt, T.VariantType):
        return lambda v: T.VariantVal(v["value"], v["metadata"])
    if isinstance(dt, T.StructType):
        fields = [(f.name, _from_arrow(f.dataType)) for f in dt.fields]
        return lambda v: {
            k: x if c is None or x is None else c(x)
            for (k, c), x in zip(fields, v.values())
        }
    if isinstance(dt, T.ArrayType):
        c = _from_arrow(dt.elementType)
        return c and (lambda v: [None if x is None else c(x) for x in v])
    if isinstance(dt, T.MapType):
        kc = _from_arrow(dt.keyType) or (lambda k: k)
        vc = _from_arrow(dt.valueType) or (lambda x: x)
        return lambda v: {kc(k): None if x is None else vc(x) for k, x in v}
    return None


# the type of every text array: 64-bit offsets, so no result overflows one
_TEXT = pa.large_string()
# a character json's ASCII string escaper rewrites
_NEEDS_ESCAPE = r'[^ -~]|["\\]'


def _concat(*parts, sep: str = "") -> pa.Array:
    """Row-wise join of text arrays and literal strings with ``sep``
    between parts (NULL if any part is NULL)."""
    return pc.binary_join_element_wise(
        *[p if isinstance(p, pa.Array) else pa.scalar(p, _TEXT) for p in parts],
        pa.scalar(sep, _TEXT),
    )


def _quoted(text: pa.Array) -> pa.Array:
    """Each value of ``text`` in double quotes (NULL stays NULL)."""
    return _concat('"', text, '"')


def _patched(text: pa.Array, mask: pa.Array, values: pa.Array) -> pa.Array:
    """``text`` with the rows where ``mask`` holds replaced by the per-value
    JSON text of ``values``: the rows whose kernel text would differ."""
    if not pc.any(mask).as_py():
        return text
    patch = [json.dumps(_encode_value(v)) for v in pc.filter(values, mask).to_pylist()]
    return pc.replace_with_mask(text, mask, pa.array(patch, _TEXT))


def _float_texts(col: pa.Array) -> pa.Array:
    """JSON value texts of a FLOAT64 or FLOAT column: ``repr`` of the
    float64 value (a FLOAT is widened first: ``0.10000000149011612``),
    NaN/±inf as quoted strings. Arrow's cast to string writes repr's
    shortest round-trip digits; it drops the ``.0`` of an integral value,
    appended here, and outside 1e-4 <= |x| < 1e10 (and for NaN/±inf) it
    writes another form (``1e+10``, ``0.00001``), so those rows take the
    per-value path."""
    col = pc.cast(col, pa.float64())
    text = pc.cast(col, _TEXT)
    text = pc.if_else(pc.equal(pc.floor(col), col), _concat(text, ".0"), text)
    mag = pc.abs(col)
    arrow_form = pc.or_(
        pc.equal(mag, 0), pc.and_(pc.greater_equal(mag, 1e-4), pc.less(mag, 1e10))
    )
    return _patched(text, pc.invert(arrow_form), col).fill_null("null")


def _column_texts(col: pa.Array, dt: T.DataType) -> pa.Array:
    """One JSON value text per row of ``col`` (Spark type ``dt``)."""
    if isinstance(dt, _INT_AND_BOOL):
        return pc.cast(col, _TEXT).fill_null("null")
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return _float_texts(col)
    if isinstance(dt, T.StringType):
        escape = pc.match_substring_regex(col, _NEEDS_ESCAPE)
        return _patched(_quoted(pc.cast(col, _TEXT)), escape, col).fill_null("null")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(dt, T.TimestampType):  # wall time in the session zone
            col = pc.local_timestamp(col)
        # "YYYY-MM-DD HH:MM:SS.ffffff"; isoformat drops an all-zero fraction
        text = pc.cast(col, _TEXT)
        text = pc.if_else(
            pc.ends_with(text, ".000000"), pc.utf8_slice_codeunits(text, 0, -7), text
        )
        return _quoted(text).fill_null("null")
    conv = _from_arrow(dt)
    return pa.array(
        [
            json.dumps(_encode_value(v if conv is None or v is None else conv(v)))
            for v in col.to_pylist()
        ],
        _TEXT,
    )


def _rows_text(cols: list[pa.Array], num_rows: int) -> str:
    """The members of ``rows``, ``{"f": [{"v": …}, …]}`` per row joined by
    ``", "``: one row-wise join of the column texts, then one join of all
    rows whose separator closes a row and opens the next."""
    if not num_rows:
        return ""
    if not cols:
        return ", ".join(['{"f": []}'] * num_rows)
    rows = _concat(*cols, sep='}, {"v": ')
    one = pa.LargeListArray.from_arrays(pa.array([0, len(rows)], pa.int64()), rows)
    inner = pc.binary_join(one, pa.scalar('}]}, {"f": [{"v": ', _TEXT))[0].as_py()
    return '{"f": [{"v": ' + inner + "}]}"


def _wire_type(bq_type: str) -> str:
    """Collapse internal type names to the reference's wire vocabulary
    (yachtsql.rs:256-276): BOOL→BOOLEAN, NUMERIC(p,s)/BIGNUMERIC→NUMERIC,
    STRUCT<...>→STRUCT, ARRAY recurses on its element. TIME has no Spark
    native type so a TIME column reports STRING here (documented
    divergence; the reference keeps a Time value type)."""
    t = bq_type.strip()
    if t.upper().startswith("ARRAY<") and t.endswith(">"):
        return f"ARRAY<{_wire_type(t[6:-1])}>"
    base = t.upper().split("<")[0].split("(")[0].strip()
    return {"BOOL": "BOOLEAN", "BIGNUMERIC": "NUMERIC", "DECIMAL": "NUMERIC"}.get(
        base, base
    )


def to_bq_json(df: DataFrame) -> str:
    """The full BigQuery ``queryResponse`` (yachtsql.rs:208-231) as JSON
    text, byte-equal to ``json.dumps`` of its dict form: field entries
    carry exactly {name, type} — the reference adds no mode."""
    schema = df.schema
    table = _fetch_arrow(df)
    cols = [
        _column_texts(table.column(i).combine_chunks(), f.dataType)
        for i, f in enumerate(schema.fields)
    ]
    rows = _rows_text(cols, table.num_rows)
    head = json.dumps(
        {
            "kind": "bigquery#queryResponse",
            "schema": {
                "fields": [
                    {"name": c["name"], "type": _wire_type(c["type"])}
                    for c in bqtypes.columns_from_schema(schema)
                ]
            },
        }
    )
    return f'{head[:-1]}, "rows": [{rows}], "totalRows": "{table.num_rows}", "jobComplete": true}}'


def to_bq_response(df: DataFrame) -> dict:
    """Dict view of ``to_bq_json`` for in-process callers."""
    return json.loads(to_bq_json(df))
