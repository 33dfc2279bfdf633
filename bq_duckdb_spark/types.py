"""BigQuery ⇄ Spark type bijection.

Implements the SURVEY.md §1.3 table. The reference enumerates the BigQuery
type set in its value-marshalling code (reference src/executor/yachtsql.rs:
256-309) and the client keyword table (adaptors/clojure/src/bq_runner/
api.clj:6-19); this module is the first-class equivalent because the API
reports BigQuery type names back to clients.
"""

from __future__ import annotations

import base64
import binascii
import datetime
import decimal
import re

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# BigQuery name -> Spark DataType
# ---------------------------------------------------------------------------

_SIMPLE_BQ_TO_SPARK: dict[str, T.DataType] = {
    "BOOL": T.BooleanType(),
    "BOOLEAN": T.BooleanType(),
    "INT64": T.LongType(),
    "INTEGER": T.LongType(),
    "INT": T.LongType(),
    "FLOAT64": T.DoubleType(),
    "FLOAT": T.DoubleType(),
    # BigQuery NUMERIC is fixed DECIMAL(38, 9).
    "NUMERIC": T.DecimalType(38, 9),
    "DECIMAL": T.DecimalType(38, 9),
    # BigQuery BIGNUMERIC is 76.76 digits; Spark decimals cap at 38 —
    # best-effort DECIMAL(38, 18), gap documented (SURVEY §1.3).
    "BIGNUMERIC": T.DecimalType(38, 18),
    "STRING": T.StringType(),
    "BYTES": T.BinaryType(),
    "DATE": T.DateType(),
    # DATETIME is zoneless -> TimestampNTZ is the exact match.
    "DATETIME": T.TimestampNTZType(),
    # BigQuery TIME has no Spark native type -> ISO "HH:MM:SS" string.
    "TIME": T.StringType(),
    "TIMESTAMP": T.TimestampType(),
    # GEOGRAPHY round-trips as WKT text (no geo ops in the verified core).
    "GEOGRAPHY": T.StringType(),
    # JSON kept as string + get_json_object/variant functions at query level.
    "JSON": T.StringType(),
}

_ARRAY_RE = re.compile(r"^ARRAY<(.+)>$", re.IGNORECASE | re.DOTALL)
_STRUCT_RE = re.compile(r"^STRUCT<(.+)>$", re.IGNORECASE | re.DOTALL)
_RANGE_RE = re.compile(r"^RANGE<(.+)>$", re.IGNORECASE | re.DOTALL)
_PARAM_RE = re.compile(r"^(NUMERIC|DECIMAL|BIGNUMERIC)\s*\((\d+)\s*,\s*(\d+)\)$", re.IGNORECASE)


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on sep at angle-bracket/paren depth 0 (for STRUCT fields)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def bq_to_spark(bq_type: str) -> T.DataType:
    """Map a BigQuery type name (possibly parameterized/nested) to Spark."""
    t = bq_type.strip()
    upper = t.upper()
    if upper in _SIMPLE_BQ_TO_SPARK:
        return _SIMPLE_BQ_TO_SPARK[upper]
    m = _PARAM_RE.match(t)
    if m:
        return T.DecimalType(int(m.group(2)), int(m.group(3)))
    m = _ARRAY_RE.match(t)
    if m:
        return T.ArrayType(bq_to_spark(m.group(1)))
    m = _STRUCT_RE.match(t)
    if m:
        fields = []
        for part in _split_top_level(m.group(1)):
            name, _, ftype = part.partition(" ")
            fields.append(T.StructField(name.strip(), bq_to_spark(ftype.strip())))
        return T.StructType(fields)
    m = _RANGE_RE.match(t)
    if m:
        # RANGE<T> -> STRUCT<start T, end T> (reference degrades it to
        # STRING, yachtsql.rs:273; we keep the endpoints typed).
        inner = bq_to_spark(m.group(1))
        return T.StructType([T.StructField("start", inner), T.StructField("end", inner)])
    if upper == "INTERVAL":
        return T.DayTimeIntervalType()
    # Unknown -> STRING fallback (yachtsql.rs:274).
    return T.StringType()


# ---------------------------------------------------------------------------
# Spark DataType -> BigQuery name
# ---------------------------------------------------------------------------


def spark_to_bq(dt: T.DataType) -> str:
    """Map a Spark DataType to the BigQuery type name reported at the API
    edge (reference src/executor/yachtsql.rs:256-276)."""
    if isinstance(dt, T.BooleanType):
        return "BOOL"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "INT64"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "FLOAT64"
    if isinstance(dt, T.DecimalType):
        if dt.precision == 38 and dt.scale == 9:
            return "NUMERIC"
        if dt.precision == 38 and dt.scale == 18:
            return "BIGNUMERIC"
        return f"NUMERIC({dt.precision},{dt.scale})"
    if isinstance(dt, T.StringType):
        return "STRING"
    if isinstance(dt, T.BinaryType):
        return "BYTES"
    if isinstance(dt, T.DateType):
        return "DATE"
    if isinstance(dt, T.TimestampNTZType):
        return "DATETIME"
    if isinstance(dt, T.TimestampType):
        return "TIMESTAMP"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{spark_to_bq(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name} {spark_to_bq(f.dataType)}" for f in dt.fields)
        return f"STRUCT<{inner}>"
    if isinstance(dt, (T.DayTimeIntervalType, T.YearMonthIntervalType)):
        return "INTERVAL"
    if isinstance(dt, T.NullType):
        return "STRING"
    return "STRING"


def schema_from_columns(columns: list[dict]) -> T.StructType:
    """[{"name": ..., "type": "INT64"}, ...] (the reference's ColumnDef JSON
    shape, src/rpc/types.rs:132-137) -> Spark StructType. Nullable default
    (reference loads NULLs freely, src/session/manager.rs:550,649)."""
    return T.StructType(
        [T.StructField(c["name"], bq_to_spark(c["type"]), nullable=True) for c in columns]
    )


def columns_from_schema(schema: T.StructType) -> list[dict]:
    """Spark StructType -> ColumnDef JSON list."""
    return [{"name": f.name, "type": spark_to_bq(f.dataType)} for f in schema.fields]


# ---------------------------------------------------------------------------
# JSON wire value -> Spark Python value (bq.insert coercion)
# ---------------------------------------------------------------------------

# BigQuery-ish day-time interval text: "[+-][D ]H:MM:SS[.ffffff]"
_INTERVAL_RE = re.compile(
    r"^([+-]?)(?:(\d+)\s+)?(\d+):(\d{1,2}):(\d{1,2})(?:\.(\d{1,6}))?$"
)


def json_to_spark_value(v, dt: T.DataType):
    """Coerce one JSON-decoded wire value to the Python value Spark's row
    verifier accepts for ``dt`` and the Arrow conversion of an inserted
    batch stores as is.

    ``bq.insert`` rows arrive as JSON (reference src/rpc/methods.rs:
    114-148 — the BigQuery ``insertAll`` convention: dates/timestamps/
    decimals/intervals as strings, BYTES as base64, STRUCT as an
    object). The verifier rejects e.g. a string for a DateType field,
    so each declared-type leaf converts here; values already in the
    target Python type pass through, except that:

    - NUMERIC/BIGNUMERIC round half-up to the column's scale, as the
      JVM rounds a decimal it stores;
    - a zone-less TIMESTAMP is UTC (BigQuery's reading, whatever the
      host's zone), and DATETIME drops any zone it is given.

    A NUMERIC that does not fit its column, an INT64 beyond 64 bits
    and BYTES that are not base64 raise ``ValueError`` here, before the
    batch joins the table.
    """
    if v is None:
        return None
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat(v) if isinstance(v, str) else v
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(v, str):
            s = v.replace("T", " ", 1)
            if s.endswith("Z"):
                s = s[:-1] + "+00:00"
            v = datetime.datetime.fromisoformat(s)
        if isinstance(v, datetime.datetime):
            if isinstance(dt, T.TimestampNTZType):
                return v.replace(tzinfo=None)
            if v.tzinfo is None:
                return v.replace(tzinfo=datetime.timezone.utc)
        return v
    if isinstance(dt, T.DecimalType):
        # the column's precision, not the default context's 28 digits, so
        # a DECIMAL(38, 9) keeps all 38 and a value beyond them is refused
        ctx = decimal.Context(prec=dt.precision, rounding=decimal.ROUND_HALF_UP)
        try:
            # through str() so a float literal doesn't import binary noise
            d = v if isinstance(v, decimal.Decimal) else decimal.Decimal(str(v))
            return d.quantize(decimal.Decimal(f"1E-{dt.scale}"), context=ctx)
        except decimal.InvalidOperation:
            raise ValueError(
                f"{v!r} cannot be stored as {spark_to_bq(dt)} "
                f"(DECIMAL({dt.precision}, {dt.scale}))"
            ) from None
    if isinstance(dt, T.DayTimeIntervalType):
        if isinstance(v, datetime.timedelta):
            return v
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return datetime.timedelta(seconds=v)
        if isinstance(v, str):
            m = _INTERVAL_RE.match(v.strip())
            if not m:
                raise ValueError(
                    f"Malformed INTERVAL value {v!r} — expected "
                    "'[+-][D ]H:MM:SS[.ffffff]'"
                )
            sign = -1 if m.group(1) == "-" else 1
            td = datetime.timedelta(
                days=int(m.group(2) or 0),
                hours=int(m.group(3)),
                minutes=int(m.group(4)),
                seconds=int(m.group(5)),
                microseconds=int((m.group(6) or "0").ljust(6, "0")),
            )
            return sign * td
        return v
    if isinstance(dt, T.BinaryType):
        if isinstance(v, str):
            try:
                return base64.b64decode(v, validate=True)
            except binascii.Error as e:
                raise ValueError(f"{v!r} is not valid base64 for BYTES: {e}") from None
        return bytes(v)
    if isinstance(dt, T.ArrayType) and isinstance(v, (list, tuple)):
        return [json_to_spark_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.StructType):
        if isinstance(v, dict):
            return tuple(
                json_to_spark_value(v.get(f.name), f.dataType) for f in dt.fields
            )
        if isinstance(v, (list, tuple)):
            return tuple(
                json_to_spark_value(x, f.dataType) for x, f in zip(v, dt.fields)
            )
        return v
    if isinstance(v, bool) or not isinstance(v, int):
        return v
    if isinstance(dt, T.LongType) and not -(2**63) <= v < 2**63:
        raise ValueError(f"{v} is out of range for INT64")
    if isinstance(dt, T.DoubleType):
        return float(v)
    return v
