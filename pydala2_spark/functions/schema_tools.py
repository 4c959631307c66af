"""Schema unification, coercions, and dtype optimization.

Capability parity with the reference's schema toolkit
(`/root/reference/pydala/schema.py`):

- promotion ladder for unifying per-file schemas
  (`pydala/schema.py:296-342`): null < int8 < int16 < int32 < int64 <
  float32 < float64 < string; timestamp vs timestamp → µs (Spark's only
  unit); anything irreconcilable promotes to string.
- coercions used during repair/replace (`pydala/schema.py:178-293`):
  string→bool with a truthy vocabulary, int→timestamp (epoch µs),
  missing columns as typed nulls, extra columns dropped unless
  ``alter_schema`` (the last two live in
  :func:`pydala2_spark.sources.writer.cast_to_schema`).
- ``opt_dtype`` narrowing proposals from a bounded sample with a SAFE
  full-data validation pass (`pydala/dataset.py:2490-2603`).

Spark-first: proposals are computed with aggregate pushdown (min/max/
regexp checks run as ONE distributed job, not a driver loop), so the
SAFE policy's "validate over the full dataset" costs one scan even at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# promotion ladder (`pydala/schema.py:296-342`)
# ---------------------------------------------------------------------------

_LADDER = ["null", "byte", "short", "integer", "long", "float", "double", "string"]


def _rank(t: T.DataType) -> int:
    name = t.typeName()
    return _LADDER.index(name) if name in _LADDER else -1


def promote_types(a: T.DataType, b: T.DataType) -> T.DataType:
    """Resolve two field types to the narrower common supertype."""
    if a == b:
        return a
    ra, rb = _rank(a), _rank(b)
    if ra >= 0 and rb >= 0:
        winner = a if ra >= rb else b
        # int+float pairs promote to a float wide enough for the int
        if {a.typeName(), b.typeName()} & {"float", "double"} and {
            a.typeName(),
            b.typeName(),
        } & {"integer", "long"}:
            return T.DoubleType()
        return winner
    if isinstance(a, T.TimestampType) or isinstance(b, T.TimestampType):
        if isinstance(a, (T.TimestampType, T.DateType)) and isinstance(
            b, (T.TimestampType, T.DateType)
        ):
            return T.TimestampType()
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    return T.StringType()  # permissive fallback (`pydala/helpers/misc.py:336-370`)


def unify_schemas(schemas: list[T.StructType]) -> T.StructType:
    """Unify per-file schemas: union of fields in first-seen order,
    types resolved through the promotion ladder."""
    fields: dict[str, T.DataType] = {}
    nullable: dict[str, bool] = {}
    for s in schemas:
        for f in s.fields:
            if f.name in fields:
                fields[f.name] = promote_types(fields[f.name], f.dataType)
                nullable[f.name] = nullable[f.name] or f.nullable
            else:
                fields[f.name] = f.dataType
                nullable[f.name] = f.nullable
    return T.StructType([T.StructField(n, t, nullable[n]) for n, t in fields.items()])


# ---------------------------------------------------------------------------
# coercions (`pydala/schema.py:178-227`)
# ---------------------------------------------------------------------------

# truthy vocabulary from the reference (`pydala/schema.py:195-206`)
TRUE_WORDS = ("true", "wahr", "1", "yes", "ja", "ok", "y", "j", "t")
FALSE_WORDS = ("false", "falsch", "0", "no", "nein", "n", "f", "-")


def str_to_bool(col: str | Column) -> Column:
    """String → boolean with the reference's truthy vocabulary; unknown
    words become null."""
    c = F.lower(F.trim(F.col(col) if isinstance(col, str) else col))
    return (
        F.when(c.isin(*TRUE_WORDS), F.lit(True))
        .when(c.isin(*FALSE_WORDS), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


# ---------------------------------------------------------------------------
# opt_dtype (`pydala/dataset.py:2490-2603`)
# ---------------------------------------------------------------------------

_INT_BOUNDS = {
    "byte": (-(2**7), 2**7 - 1),
    "short": (-(2**15), 2**15 - 1),
    "integer": (-(2**31), 2**31 - 1),
    "long": (-(2**63), 2**63 - 1),
}
_INT_ORDER = ["byte", "short", "integer", "long"]
_INT_RE = r"^[+-]?\d+$"
_FLOAT_RE = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"


def _narrowest_int(lo: int, hi: int) -> str:
    for name in _INT_ORDER:
        b = _INT_BOUNDS[name]
        if lo >= b[0] and hi <= b[1]:
            return name
    return "long"


def propose_dtypes(
    df: DataFrame,
    sample_rows: int = 10_000,
    strict: bool = True,
    shrink_numerics: bool = True,
) -> dict[str, tuple[str, str]]:
    """Propose narrowing casts: ``{column: (current, proposed)}``.

    Policy (reference SAFE vs LOOSE, `pydala/dataset.py:2538-2560`):
    ``strict=True`` validates every proposal against the FULL dataset
    (one aggregate job) so the cast is value-preserving; ``strict=False``
    trusts the sample.
    """
    sample = df.limit(sample_rows)

    candidates: dict[str, dict] = {}
    aggs: list[Column] = []
    for f in df.schema.fields:
        name, t = f.name, f.dataType.typeName()
        if shrink_numerics and t in ("long", "integer", "short"):
            candidates[name] = {"kind": "int", "from": t}
            aggs += [F.min(name).alias(f"{name}__min"), F.max(name).alias(f"{name}__max")]
        elif t == "string":
            candidates[name] = {"kind": "string", "from": t}
            nn = F.sum(F.when(F.col(name).isNotNull(), 1).otherwise(0))
            aggs += [
                nn.alias(f"{name}__nn"),
                F.sum(
                    F.when(F.col(name).rlike(_INT_RE), 1).otherwise(0)
                ).alias(f"{name}__int"),
                F.sum(
                    F.when(F.col(name).rlike(_FLOAT_RE), 1).otherwise(0)
                ).alias(f"{name}__float"),
                F.sum(
                    F.when(
                        F.lower(F.trim(F.col(name))).isin(*TRUE_WORDS, *FALSE_WORDS), 1
                    ).otherwise(0)
                ).alias(f"{name}__bool"),
                F.min(F.when(F.col(name).rlike(_INT_RE), F.col(name).cast("long"))).alias(
                    f"{name}__imin"
                ),
                F.max(F.when(F.col(name).rlike(_INT_RE), F.col(name).cast("long"))).alias(
                    f"{name}__imax"
                ),
            ]
    if not candidates:
        return {}

    frame = df if strict else sample
    row = frame.agg(*aggs).first()

    plan: dict[str, tuple[str, str]] = {}
    for name, meta in candidates.items():
        if meta["kind"] == "int":
            lo, hi = row[f"{name}__min"], row[f"{name}__max"]
            if lo is None:
                continue
            target = _narrowest_int(int(lo), int(hi))
            if _INT_ORDER.index(target) < _INT_ORDER.index(
                meta["from"] if meta["from"] in _INT_ORDER else "long"
            ):
                plan[name] = (meta["from"], target)
        else:
            nn = row[f"{name}__nn"] or 0
            if nn == 0:
                continue
            if row[f"{name}__bool"] == nn:
                plan[name] = ("string", "boolean")
            elif row[f"{name}__int"] == nn:
                imin, imax = row[f"{name}__imin"], row[f"{name}__imax"]
                plan[name] = ("string", _narrowest_int(int(imin), int(imax)))
            elif row[f"{name}__float"] == nn:
                plan[name] = ("string", "double")
    return plan


def apply_dtype_plan(df: DataFrame, plan: dict[str, tuple[str, str]]) -> DataFrame:
    cols = []
    for f in df.schema.fields:
        if f.name in plan:
            target = plan[f.name][1]
            if target == "boolean" and f.dataType.typeName() == "string":
                cols.append(str_to_bool(f.name).alias(f.name))
            else:
                cols.append(F.col(f.name).cast(target).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# one-pass column profiling
# ---------------------------------------------------------------------------

_DEC38 = "decimal(38,6)"


def profile_dataframe(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One-row-per-column data profile: row count, null count, exact
    distinct count, and typed min/max — numerics land in
    ``min_num``/``max_num`` (double, rounded to 4), strings/booleans in
    ``min_str``/``max_str``, timestamps/dates as epoch seconds (with
    the sub-second fraction kept to exact microseconds) in the numeric
    pair. The split avoids cross-engine float→string formatting
    hazards entirely.

    Reference analogue: per-dataset metadata stats
    (`/root/reference/pydala/metadata.py` collects per-file min/max);
    this is the interactive "what's in this table" profile over the
    LIVE frame, computed distributedly.

    100 TB shape: TWO hash-aggregation passes, both map-side-combining.
    Pass 1 folds every count/min/max into one row (no distincts — that
    keeps it a plain HashAggregate). Pass 2 counts exact distincts for
    ALL columns at once: explode to (column, value-string) pairs,
    dedupe, count per column — string forms are injective for the
    supported types (shortest-repr doubles, integers, strings,
    formatted timestamps), so the counts are exact. Catalyst's
    multi-countDistinct Expand rewrite was measured 8x slower here: it
    re-keys the corpus on ALL profiled columns at once and falls back
    to a wide-key SortAggregate. For very wide tables pass a column
    subset — the explode factor is the cost knob.
    """
    cols = columns or df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    unknown = [c for c in cols if c not in schema]
    if unknown:
        raise ValueError(f"unknown columns: {unknown}")

    def _sform(c: str) -> Column:
        t = schema[c]
        if isinstance(t, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            # MICROsecond epoch, not seconds: event-grade timestamps
            # differ only in sub-second precision, and a whole-second
            # form would collapse them — breaking the documented
            # "exact distinct count" (ADVICE r7). unix_micros is the
            # same precision ladder the rest of the package uses.
            return F.unix_micros(F.col(c).cast("timestamp")).cast("string")
        return F.col(c).cast("string")

    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        t = schema[c]
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        if isinstance(t, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            # NTZ/date first cast to session-TZ timestamp (sessions here
            # pin UTC, matching the oracle's naive-as-UTC epoch()).
            # Epoch SECONDS with the sub-second fraction kept (micros /
            # 1e6, rounded to 6 — exact µs): unix_timestamp's whole
            # seconds lost event-grade precision (ADVICE r7).
            # Precision bound (ADVICE r8): the double is µs-exact only
            # while |epoch| < ~2^33 s (years ~±270000); beyond that the
            # ulp exceeds 1 µs and Spark's BigDecimal round vs DuckDB's
            # float round may differ in the last digit. If far-future/
            # ancient timestamps ever matter, emit integer epoch-micros
            # here instead of fractional seconds.
            num = (
                F.unix_micros(F.col(c).cast("timestamp")).cast("double")
                / F.lit(1_000_000.0)
            )
            nd_digits = 6
        elif isinstance(t, T.NumericType):
            num = F.col(c).cast("double")
            nd_digits = 4
        else:
            num = F.lit(None).cast("double")
            nd_digits = 4
        aggs.append(F.round(F.min(num), nd_digits).alias(f"__mn_{c}"))
        aggs.append(F.round(F.max(num), nd_digits).alias(f"__mx_{c}"))
        if isinstance(t, (T.StringType, T.BooleanType)):
            s = F.col(c).cast("string")
        else:
            s = F.lit(None).cast("string")
        aggs.append(F.min(s).alias(f"__sn_{c}"))
        aggs.append(F.max(s).alias(f"__sx_{c}"))

    one = df.agg(*aggs)
    stack_args: list[Column] = []
    for c in cols:
        stack_args.extend(
            [
                F.lit(c),
                F.col(f"__nn_{c}"),
                F.col(f"__mn_{c}"),
                F.col(f"__mx_{c}"),
                F.col(f"__sn_{c}"),
                F.col(f"__sx_{c}"),
            ]
        )
    metrics = one.select(
        F.col("__n").alias("n_rows"),
        F.stack(
            F.lit(len(cols)),
            *stack_args,
        ).alias("column_name", "n_non_null", "min_num", "max_num",
                "min_str", "max_str"),
    )
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("column_name"), _sform(c).alias("v"))
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column_name", "p.v")
    nd = (
        pairs.filter(F.col("v").isNotNull())
        .groupBy("column_name", "v")
        .agg(F.lit(1))
        .groupBy("column_name")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    return metrics.join(nd, "column_name", "left").select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_null"),
        F.coalesce(F.col("n_distinct"), F.lit(0)).alias("n_distinct"),
        "min_num",
        "max_num",
        "min_str",
        "max_str",
    )
