"""Loaders for the driver's synthetic star schema (/root/testdata/sf*).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each (TESTDATA.md).

``events.parquet`` has shipped with two physical ``ts`` encodings
across driver rounds, both normalized here to a session-UTC TIMESTAMP
so every downstream query sees one type:

- TIMESTAMP(NANOS): rejected by Spark's vectorized reader; with
  ``spark.sql.legacy.parquet.nanosAsLong`` (set in session.py) it
  arrives as int64 nanoseconds and is truncated to microseconds —
  the same truncation DuckDB applies casting ns → its us TIMESTAMP.
- TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
  TIMESTAMP_NTZ; cast to TIMESTAMP (session tz is pinned UTC, so the
  wall-clock value is preserved and DuckDB's naive TIMESTAMP agrees).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Session-scoped SCHEMA cache: re-opening the same source parquet
# re-reads a footer for schema inference — ~80-105 ms per open
# measured at sf0.1, and a full bench run performs ~900 opens
# (278 queries x ~1.5 tables x ~2.2 passes). Only the inferred schema
# (catalog metadata — what a table catalog exists to hold) is reused;
# every call still returns a FRESH relation with fresh expression ids,
# so two opens of one table join as two relations, never an ambiguous
# self-join (caching the DataFrame itself broke q8's nation-x-nation
# join), and every action still reads the parquet files. Keyed by
# applicationId so a new session never reuses another's metadata; the
# corpus tables are immutable for a session's lifetime (side-effecting
# queries write to app-scoped /tmp datasets, read back with fresh
# spark.read calls).
_SCHEMA_CACHE: dict[tuple[str, str, str], object] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        if len(_SCHEMA_CACHE) > 256:  # bound growth across many sessions
            _SCHEMA_CACHE.clear()
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = _fix_event_ts(df)
    return df


def _fix_event_ts(df: DataFrame) -> DataFrame:
    ts_type = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields).get("ts")
    if ts_type == "bigint":  # nanosAsLong path
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":  # micros, isAdjustedToUTC=false
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

