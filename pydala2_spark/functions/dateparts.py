"""Date-part derivation columns.

Capability parity with the reference's ``with_datepart_columns`` /
``with_strftime_columns`` / ``with_truncated_columns`` verbs (re-exported
Polars helpers, `/root/reference/pydala/helpers/polars.py:2-15`, used for
derived hive partition columns at `/root/reference/pydala/io.py:261-320`).

All expressions are built-in Catalyst functions — they stay inside
whole-stage codegen and are usable as hive partition columns, so
partition pruning on e.g. ``year=2024/month=3`` is free at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# name -> expression factory (matches the reference's datepart vocabulary:
# year, month, week, yearday, monthday, weekday, day, hour, minute)
DATEPART_EXPRS: dict[str, callable] = {
    "year": F.year,
    "month": F.month,
    "week": F.weekofyear,
    "yearday": F.dayofyear,
    "monthday": F.dayofmonth,
    "day": F.dayofmonth,
    # weekday as short name string, like the reference's strftime("%a")
    "weekday": lambda c: F.date_format(c, "EEE"),
    "hour": F.hour,
    "minute": F.minute,
    "date": lambda c: F.to_date(c),
}


def with_datepart_columns(
    df: DataFrame,
    timestamp_column: str,
    parts: list[str] | None = None,
    only_missing: bool = True,
) -> DataFrame:
    """Add date-part columns derived from ``timestamp_column``.

    ``parts`` defaults to ``["year", "month"]`` (the common hive layout).
    With ``only_missing`` (default), existing columns are left untouched —
    mirroring the reference, which only derives parts named in
    ``partition_by`` that the data lacks.
    """
    parts = parts or ["year", "month"]
    out = df
    for p in parts:
        if p not in DATEPART_EXPRS:
            raise ValueError(f"unknown datepart {p!r}; choose from {sorted(DATEPART_EXPRS)}")
        if only_missing and p in out.columns:
            continue
        out = out.withColumn(p, DATEPART_EXPRS[p](F.col(timestamp_column)))
    return out


def with_strftime_columns(
    df: DataFrame, timestamp_column: str, formats: dict[str, str]
) -> DataFrame:
    """Add strftime-formatted string columns: {new_col: java_format}."""
    out = df
    for name, fmt in formats.items():
        out = out.withColumn(name, F.date_format(F.col(timestamp_column), fmt))
    return out


def with_truncated_columns(
    df: DataFrame, timestamp_column: str, unit: str, name: str | None = None
) -> DataFrame:
    """Add a timestamp column truncated to ``unit`` (year/month/week/day/hour/minute)."""
    name = name or f"{timestamp_column}_{unit}"
    return df.withColumn(name, F.date_trunc(unit, F.col(timestamp_column)))
