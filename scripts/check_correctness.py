"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 in Spark AND the
matching oracle_sql() in DuckDB, then compares row count, column-name
set, column TYPES, and order-insensitive values (columns sorted by
name, rows sorted, floats compared by exact repr).

This mirror must be strictly STRICTER than the driver: round 3 shipped
two queries whose oracle SQL widened integer sums to HUGEINT — every
value identical, but the driver's type-sensitive hash flagged them
while this script's old stringify-only compare passed them. Hence:

- oracle outputs typed HUGEINT / UHUGEINT / DECIMAL fail outright
  (CAST them to BIGINT / DOUBLE in the oracle SQL);
- raw TIMESTAMP outputs fail outright on either side (determinism
  rule: format timestamps to strings / epoch seconds);
- Spark dtypes and DuckDB types must agree at the class grain
  (int vs float vs str vs bool vs date) per sorted column;
- floats compare by exact repr (bit-level), not %.6g.

Usage: python scripts/check_correctness.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# executors' Python workers import pydala2_spark too; they inherit the
# PYTHONPATH of the JVM, which the session launch copies from this
# process — so the repo root must be on it before the session starts,
# whatever directory the script runs from
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# DuckDB output types the driver's hash is known (r3) or likely to
# encode differently from Spark's — ban outright, strictest-first.
_BANNED_DUCK = ("HUGEINT", "UHUGEINT", "DECIMAL", "TIMESTAMP", "TIME ")
_BANNED_SPARK = ("decimal", "timestamp")

_INTS = {"tinyint", "smallint", "int", "integer", "bigint",
         "utinyint", "usmallint", "uinteger", "ubigint"}
_FLOATS = {"float", "double", "real"}


def type_class(t: str) -> str:
    t = t.strip().lower()
    if t in _INTS:
        return "int"
    if t in _FLOATS:
        return "float"
    if t in ("string", "varchar", "text"):
        return "str"
    if t in ("boolean", "bool"):
        return "bool"
    if t == "date":
        return "date"
    return "other"


def banned_types(cols, types, banned) -> list[str]:
    return [
        f"{c}:{t}"
        for c, t in zip(cols, types)
        if any(b.lower() in str(t).lower() for b in banned)
    ]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # exact shortest-round-trip repr — bit-strict
        # (repr keeps -0.0 distinct from 0.0 — a byte-level hash would)
    return str(v)


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return sorted(cols), canon_rows


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from pydala2_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            spark_cols = sdf.columns
            spark_types = [t for _, t in sdf.dtypes]
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        bad_s = banned_types(spark_cols, spark_types, _BANNED_SPARK)
        if bad_s:
            failures.append(name)
            print(f"FAIL  {name}: banned Spark output types {bad_s}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(spark_rows)} rows")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = list(rel.columns)
            duck_types = [str(t) for t in rel.types]
            duck_rows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {type(e).__name__}: {e}")
            continue
        bad_d = banned_types(duck_cols, duck_types, _BANNED_DUCK)
        if bad_d:
            failures.append(name)
            print(
                f"FAIL  {name}: banned oracle output types {bad_d} "
                f"(CAST to BIGINT/DOUBLE in the oracle SQL — the driver "
                f"hash encodes these differently from Spark)"
            )
            continue
        sc, sr = frame_sig(spark_cols, spark_rows)
        dc, dr = frame_sig(duck_cols, duck_rows)
        if sc != dc:
            failures.append(name)
            print(f"FAIL  {name}: columns differ spark={sc} duck={dc}")
            continue
        s_tc = [
            type_class(t)
            for _, t in sorted(zip(spark_cols, spark_types), key=lambda p: p[0])
        ]
        d_tc = [
            type_class(t)
            for _, t in sorted(zip(duck_cols, duck_types), key=lambda p: p[0])
        ]
        if s_tc != d_tc:
            failures.append(name)
            diffs = [
                f"{c}: spark={a} duck={b}"
                for c, a, b in zip(sc, s_tc, d_tc)
                if a != b
            ]
            print(f"FAIL  {name}: column type classes differ: {diffs}")
            continue
        if len(sr) != len(dr):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(sr)} duck={len(dr)}")
            continue
        if sr != dr:
            failures.append(name)
            bad = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b][:3]
            print(f"FAIL  {name}: {len([1 for a,b in zip(sr,dr) if a!=b])} rows differ; first diffs:")
            for i in bad:
                print(f"    spark {sr[i]}")
                print(f"    duck  {dr[i]}")
            continue
        print(f"OK    {name}: {len(sr)} rows")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
