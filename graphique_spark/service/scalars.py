"""GraphQL scalars + Spark↔GraphQL type mapping.

Mirrors the reference's scalar registry (reference scalars.py:19-111):
GraphQL ``Int`` is 32-bit, so ``LongType`` gets a custom ``BigInt``;
``Decimal`` serializes as a string; date/time types serialize ISO;
``BinaryType`` is base64; structs serialize as JSON objects.
"""

from __future__ import annotations

import base64
import dataclasses
import datetime as dt
import decimal
import re
from typing import Any

from graphql import (
    GraphQLBoolean,
    GraphQLFloat,
    GraphQLInt,
    GraphQLScalarType,
    GraphQLString,
)
from pyspark.sql import Row, types as T

_INT32 = 2**31


def _serialize_big_int(value: Any) -> int:
    return int(value)


def _parse_big_int(value: Any) -> int:
    if not isinstance(value, int) or isinstance(value, bool):
        raise ValueError(f"BigInt cannot represent {value!r}")
    return value


BigInt = GraphQLScalarType(
    name="BigInt",
    description="64-bit integer (GraphQL Int is 32-bit; reference scalars.py:19-22)",
    serialize=_serialize_big_int,
    parse_value=_parse_big_int,
)

Decimal = GraphQLScalarType(
    name="Decimal",
    description="arbitrary-precision decimal, string-serialized",
    serialize=lambda v: str(v),
    parse_value=lambda v: decimal.Decimal(str(v)),
)

Date = GraphQLScalarType(
    name="Date",
    description="ISO-8601 date",
    serialize=lambda v: v.isoformat() if isinstance(v, dt.date) else str(v),
    parse_value=lambda v: dt.date.fromisoformat(v),
)

Datetime = GraphQLScalarType(
    name="Datetime",
    description="ISO-8601 timestamp",
    serialize=lambda v: v.isoformat() if isinstance(v, (dt.datetime, dt.date)) else str(v),
    parse_value=lambda v: dt.datetime.fromisoformat(v),
)

Time = GraphQLScalarType(
    name="Time",
    description="ISO-8601 time of day (reference scalars.py:76; Spark 4.1 "
    "native TIME, µs precision)",
    serialize=lambda v: v.isoformat() if isinstance(v, dt.time) else str(v),
    parse_value=lambda v: dt.time.fromisoformat(v),
)

Duration = GraphQLScalarType(
    name="Duration",
    description="ISO-8601 duration (reference scalars.py:25-42)",
    serialize=lambda v: _duration_isoformat(v),
    parse_value=lambda v: parse_duration(v),
)

Base64 = GraphQLScalarType(
    name="Base64",
    description="base64-encoded binary",
    serialize=lambda v: base64.b64encode(bytes(v)).decode(),
    parse_value=lambda v: base64.b64decode(v),
)


def _serialize_json(value: Any) -> Any:
    if isinstance(value, (dt.date, dt.datetime)):
        return value.isoformat()
    if isinstance(value, decimal.Decimal):
        return str(value)
    if isinstance(value, (bytes, bytearray)):
        return base64.b64encode(bytes(value)).decode()
    if isinstance(value, Row):  # a struct value: an object, not its field tuple
        value = value.asDict()
    if isinstance(value, dict):
        return {k: _serialize_json(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_serialize_json(v) for v in value]
    return value


JSON = GraphQLScalarType(
    name="JSON",
    description="arbitrary JSON value (structs, untyped literals)",
    serialize=_serialize_json,
    parse_value=lambda v: v,
)


@dataclasses.dataclass(frozen=True)
class MonthDayDuration:
    """Calendar duration with a year-month component — the analogue of the
    reference's ``pa.MonthDayNano`` (scalars.py:31): months can't fold
    into a ``timedelta`` (a month has no fixed length), so ``P1Y1M...``
    forms parse to this and compile to Spark ``make_interval``."""

    months: int = 0
    days: int = 0
    seconds: int = 0
    microseconds: int = 0


def _daytime_parts(days: int, seconds: int, micros: int) -> str:
    """Minimized ISO day-time rendering (isodate-compatible): only nonzero
    components, hours/minutes split out of seconds, fraction trimmed."""
    out = f"{days}D" if days else ""
    h, rem = divmod(seconds, 3600)
    m, s = divmod(rem, 60)
    t = ""
    if h:
        t += f"{h}H"
    if m:
        t += f"{m}M"
    if s or micros:
        frac = f".{micros:06d}".rstrip("0") if micros else ""
        t += f"{s}{frac}S"
    if t:
        out += "T" + t
    return out


def _duration_isoformat(value: Any) -> str:
    """ISO-8601 rendering matching the reference's isodate behavior
    (reference tests/test_core.py:16-31): zero timedelta -> ``P0D``;
    month-bearing durations keep an explicit months field even at zero
    (``P0M0D``), mirroring reference scalars.py:42."""
    if isinstance(value, MonthDayDuration):
        parts = (value.months, value.days, value.seconds, value.microseconds)
        if min(parts) < 0:
            # parse_duration only builds uniform-signed values; a leading
            # "-" applies to every component, so negate-all round-trips.
            if max(parts) > 0:
                raise ValueError(
                    f"mixed-sign duration is not ISO-8601 representable: {value!r}"
                )
            return "-" + _duration_isoformat(
                MonthDayDuration(*(-p for p in parts))
            )
        body = ""
        if value.months:
            body += f"{value.months}M"
        body += _daytime_parts(value.days, value.seconds, value.microseconds)
        if not body:
            body = "0D"
        rendered = "P" + body
        return rendered if value.months else rendered.replace("P", "P0M", 1)
    if isinstance(value, dt.timedelta):
        if value < dt.timedelta(0):
            return "-" + _duration_isoformat(-value)
        body = _daytime_parts(value.days, value.seconds, value.microseconds)
        return "P" + (body or "0D")
    return str(value)


_ISO_DURATION = re.compile(
    r"(?P<sign>-)?P(?:(?P<y>\d+)Y)?(?:(?P<mo>\d+)M)?(?:(?P<w>\d+)W)?(?:(?P<d>\d+)D)?"
    r"(?:T(?:(?P<h>\d+)H)?(?:(?P<mi>\d+)M)?(?:(?P<s>\d+(?:\.\d+)?)S)?)?"
)


def parse_duration(text: str) -> "dt.timedelta | MonthDayDuration":
    """Parse a full ISO-8601 duration. Pure day-time forms (no Y/M before
    the T) return a ``timedelta``; forms with year/month components —
    even zero ones like ``P0MT`` — return :class:`MonthDayDuration` with
    years folded into months, matching reference scalars.py:25-31 (its
    ``isodate``+``MonthDayNano`` behavior). ``T1H`` (no P) and ``P1H``
    (time unit outside T) are invalid."""
    m = _ISO_DURATION.fullmatch(text)
    if not m or not any(m.group(g) for g in ("y", "mo", "w", "d", "h", "mi", "s")):
        raise ValueError(f"invalid ISO duration: {text!r}")
    sign = -1 if m["sign"] else 1
    days = int(m["w"] or 0) * 7 + int(m["d"] or 0)
    secs = float(m["s"] or 0)
    whole = int(secs)
    micros = round((secs - whole) * 1_000_000)
    seconds = int(m["h"] or 0) * 3600 + int(m["mi"] or 0) * 60 + whole
    date_part = text.partition("T")[0]
    if set(date_part).isdisjoint("YM"):
        return sign * dt.timedelta(days=days, seconds=seconds, microseconds=micros)
    months = int(m["y"] or 0) * 12 + int(m["mo"] or 0)
    return MonthDayDuration(
        sign * months, sign * days, sign * seconds, sign * micros
    )


def graphql_type(spark_type: T.DataType) -> GraphQLScalarType | None:
    """Spark dtype → GraphQL scalar (None = non-scalar: array/struct/map).

    Mirrors reference ``py_type`` (scalars.py:59-87)."""
    if isinstance(spark_type, T.BooleanType):
        return GraphQLBoolean
    if isinstance(spark_type, (T.ByteType, T.ShortType, T.IntegerType)):
        return GraphQLInt
    if isinstance(spark_type, T.LongType):
        return BigInt
    if isinstance(spark_type, (T.FloatType, T.DoubleType)):
        return GraphQLFloat
    if isinstance(spark_type, T.DecimalType):
        return Decimal
    if isinstance(spark_type, T.DateType):
        return Date
    if isinstance(spark_type, (T.TimestampType, T.TimestampNTZType)):
        return Datetime
    if isinstance(spark_type, T.TimeType):
        return Time
    if isinstance(spark_type, T.DayTimeIntervalType):
        return Duration
    if isinstance(spark_type, T.BinaryType):
        return Base64
    if isinstance(spark_type, T.StringType):
        return GraphQLString
    return None


__all__ = [
    "Base64",
    "BigInt",
    "Date",
    "Datetime",
    "Decimal",
    "Duration",
    "JSON",
    "Time",
    "graphql_type",
    "parse_duration",
]
