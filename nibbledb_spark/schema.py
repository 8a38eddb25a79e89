"""Canonical point schema and ingest validation.

The reference's data model (SURVEY.md §1; reference src/shard.re:3-16,
src/timeseries.re:64-78) is a named time series of tagged float points:

    points(series STRING, ts BIGINT (epoch µs),
           tag MAP<STRING,STRING>, value DOUBLE)

Timestamps are int64 microseconds since the Unix epoch, server-assigned
when absent. Tags are an ordered assoc-list on the wire
(``[{"k":"v"}, ...]``); we canonicalize to a string->string map (the
duplicate-tag-name quirk of the reference's assoc list is not preserved
by default — last wins, documented).

Validation modes (quirk Q3, reference src/timeseries.re:64-78):
- ``lenient`` (default): accepts {value}, {tag,value}, {timestamp,value},
  {timestamp,tag,value} in ANY field order; unknown keys rejected.
- ``strict``: replicates the reference's field-order-sensitive check —
  only the four exact key ORDERS are accepted.
"""

from __future__ import annotations

import math
import time
from typing import Any

from pyspark.sql import types as T

# The engine's core table schema. ``ts`` stays BIGINT µs in the canonical
# store (exact int64 match with the reference); a TimestampType view is
# derived for windowing via F.timestamp_micros.
POINT_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType(), nullable=False),
        T.StructField("ts", T.LongType(), nullable=False),
        T.StructField("tag", T.MapType(T.StringType(), T.StringType()), nullable=True),
        T.StructField("value", T.DoubleType(), nullable=False),
    ]
)

# JSON wire-format schema for the streaming/batch ingest boundary
# (from_json target; reference src/timeseries.re:64-78).
WIRE_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType(), nullable=True),
        T.StructField("tag", T.ArrayType(T.MapType(T.StringType(), T.StringType())), True),
        T.StructField("value", T.DoubleType(), nullable=False),
    ]
)

# the range of a stored ts (a Spark LONG)
LONG_MIN, LONG_MAX = -(1 << 63), (1 << 63) - 1

_ALLOWED_KEY_ORDERS = (
    ("value",),
    ("tag", "value"),
    ("timestamp", "value"),
    ("timestamp", "tag", "value"),
)
_ALLOWED_KEY_SETS = tuple(frozenset(o) for o in _ALLOWED_KEY_ORDERS)


class ValidationError(ValueError):
    """Raised for a malformed ingest record (maps to HTTP 400 upstream)."""


def now_micros() -> int:
    """Server-assigned wall-clock timestamp in µs (reference
    src/timeseries.re:37-44)."""
    return time.time_ns() // 1000


def _coerce_tag(raw: Any) -> dict[str, str] | None:
    """Wire tag ``[{"k":"v"}, ...]`` (or a plain dict) -> string map."""
    if raw is None:
        return None
    if isinstance(raw, dict):
        return {str(k): str(v) for k, v in raw.items()}
    if isinstance(raw, list):
        out: dict[str, str] = {}
        for entry in raw:
            if not isinstance(entry, dict) or len(entry) != 1:
                raise ValidationError(f"bad tag entry: {entry!r}")
            ((k, v),) = entry.items()
            out[str(k)] = str(v)
        return out
    raise ValidationError(f"bad tag: {raw!r}")


def validate_point(
    record: dict[str, Any], *, strict: bool = False, default_ts: int | None = None
) -> tuple[int, dict[str, str] | None, float]:
    """Validate one wire record -> (ts_µs, tag_map, value).

    ``strict=True`` replicates the reference's exact-field-order check
    (quirk Q3); the default accepts any order of the allowed keys.
    Missing timestamp => ``default_ts`` or the wall clock.
    """
    keys = tuple(record.keys())
    if strict:
        if keys not in _ALLOWED_KEY_ORDERS:
            raise ValidationError(f"badly formatted json (strict order): {keys}")
    elif frozenset(keys) not in _ALLOWED_KEY_SETS:
        raise ValidationError(f"badly formatted json: {keys}")

    value = record["value"]
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        raise ValidationError(f"value must be numeric: {value!r}")

    raw_ts = record.get("timestamp")
    if raw_ts is None:
        ts = default_ts if default_ts is not None else now_micros()
    else:
        if isinstance(raw_ts, bool) or not isinstance(raw_ts, (int, float)):
            raise ValidationError(f"timestamp must be numeric: {raw_ts!r}")
        if isinstance(raw_ts, float) and not math.isfinite(raw_ts):
            raise ValidationError(f"timestamp must be finite: {raw_ts!r}")
        ts = int(raw_ts)  # reference coerces via Int64.of_float
        # checked here, before the point is buffered: the store rejects
        # it only at the flush, after the series' buffer was taken
        if not LONG_MIN <= ts <= LONG_MAX:
            raise ValidationError(f"timestamp out of the 64-bit range: {raw_ts!r}")

    return ts, _coerce_tag(record.get("tag")), float(value)


def validate_points(
    records: list[dict[str, Any]], *, strict: bool = False, default_ts: int | None = None
) -> list[tuple[int, dict[str, str] | None, float]]:
    """Validate a batch (the array form of POST, reference
    src/main.re:60-67). Any bad record rejects the whole batch."""
    return [validate_point(r, strict=strict, default_ts=default_ts) for r in records]
