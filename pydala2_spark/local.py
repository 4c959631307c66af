"""Driver loops: the size rule and the arithmetic that keeps a loop
on the driver bit-identical to its distributed twin.

The size rule (F1 Query's choice between centralized and distributed
execution by input size): an iterative operator whose state per
iteration is its whole input (an edge list, a vector corpus)
materializes that input once, observing its size in the same job.
Below the operator family's budget — :data:`DRIVER_EDGE_BUDGET` edge
rows in :mod:`~pydala2_spark.operators.graph`,
:data:`DRIVER_VECTOR_BUDGET` values held (rows plus vector elements)
in :mod:`~pydala2_spark.operators.similarity` — it fetches the
checkpoint once through Arrow (:func:`_fetch_local`) and iterates in
numpy on the driver: one fetch job instead of one or more jobs per
iteration. At or above the budget it runs the distributed loop on the
checkpoint, and nothing is collected to the driver; a budget of 0
forces that path. Each budget's docstring carries its measured
driver-memory bound.

Both paths return the same rows bit for bit. The driver loop redoes
Spark's DOUBLE folds element by element in the same order, its
``round`` and DECIMAL steps in exact scaled integers (:func:`_half_up`,
:func:`_sum_by`, :func:`_to_double`), and its ties as Spark's
orderings break them; it returns a local relation
(:func:`_local_frame`). A fetched input whose semantics the driver
loop does not reproduce (each operator names these: nulls, non-finite
values, ragged vectors) runs the distributed loop on the checkpoint
instead.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pyarrow as pa
from pyspark.errors import PySparkTypeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from pydala2_spark.frames import job_description


def _fetch_local(df: DataFrame, label: str) -> pa.Table:
    """The one driver fetch: a single labeled job returning an Arrow
    table. Arrow keeps nullable ``long`` ids exact (``toPandas`` turns
    them into float64) and skips the pickled-Row gateway: at kcore's
    5M-row budget, ``collect()`` plus a per-Row dict build measured
    19.1 s against 5.2 s for an Arrow transfer plus a zip over the
    columns. Falls back to ``collect()`` if Arrow conversion refuses
    the column types."""
    with job_description(df.sparkSession, label):
        try:
            return df.toArrow()
        except PySparkTypeError:  # raised before any job runs
            rows = df.collect()
    return pa.table({c: [r[i] for r in rows] for i, c in enumerate(df.columns)})


def _half_up(x: np.ndarray, scale: int) -> np.ndarray:
    """Scaled integers of Spark's ``CAST(x AS DECIMAL(38, scale))`` for
    DOUBLE ``x`` (any shape) — also the digits ``round(x, scale)``
    keeps. Spark rounds HALF_UP on the double's shortest decimal string
    (``Double.toString``); numpy's ``round`` is half-even on the binary
    value and does not match. Vectorized: ``x * 10**scale`` is within
    ``tol`` of the scaled decimal string, so every element farther than
    ``tol`` from a half-integer rounds to the nearest integer; the rest
    (ties, near-ties, huge or non-finite values) go through
    ``Decimal(repr(x))`` exactly, and non-finite values raise. Returns
    int64, or Python ints once a value passes the int64 range."""
    p = 10.0**scale
    y = x * p
    tol = np.spacing(np.abs(y)) + np.spacing(np.abs(x)) * p
    with np.errstate(invalid="ignore"):
        clear = (np.abs(y - np.floor(y) - 0.5) > tol) & (np.abs(y) < 2.0**52)
    out = np.where(clear, np.rint(np.where(clear, y, 0.0)), 0.0).astype(np.int64)
    ctx = Context(prec=60)
    flat = x.reshape(-1)
    exact = {
        i: int(
            ctx.scaleb(Decimal(repr(float(flat[i]))), scale).quantize(
                Decimal(1), rounding=ROUND_HALF_UP, context=ctx
            )
        )
        for i in np.flatnonzero(~clear)
    }
    if any(abs(v) >= 2**63 for v in exact.values()):
        out = out.astype(object)  # DECIMAL(38, s) holds more than int64
    for i, v in exact.items():
        out.flat[i] = v
    return out


def _to_double(s: np.ndarray, scale: int) -> np.ndarray:
    """DOUBLE of DECIMAL(38, scale) values given as scaled integers
    (any shape), correctly rounded like Spark's
    ``BigDecimal.doubleValue``. Below 2^52 both operands of the
    division are exact doubles, so the IEEE quotient is the correctly
    rounded one; larger values divide as Python ints, which is
    correctly rounded too."""
    p = 10**scale
    if s.dtype == object:
        return np.array([int(v) / p for v in s.flat], np.float64).reshape(s.shape)
    out = s.astype(np.float64) / float(p)
    for i in np.flatnonzero(np.abs(s) >= 2**52):
        out.flat[i] = int(s.flat[i]) / p
    return out


def _round(x: np.ndarray, scale: int) -> np.ndarray:
    """Spark's ``round(x, scale)`` on DOUBLE: HALF_UP on the shortest
    string, then the correctly rounded double of the result."""
    return _to_double(_half_up(x, scale), scale)


def _sum_by(idx: np.ndarray, vals: np.ndarray, n: int) -> np.ndarray:
    """Exact sums of scaled decimals grouped by ``idx`` (one group
    index per row of ``vals``; a 2-D ``vals`` sums each column), as
    Spark's DECIMAL sum is exact: int64 while the total magnitude
    provably fits, Python ints otherwise. No float ever enters a sum,
    so summation order cannot move a bit."""
    shape = (n, *vals.shape[1:])
    if vals.dtype != object and float(np.abs(vals).sum(dtype=np.float64)) < 2.0**62:
        out = np.zeros(shape, np.int64)
    else:
        out = np.zeros(shape, object)
        vals = vals.astype(object)
    np.add.at(out, idx, vals)
    return out


def _total(vals: np.ndarray, scale: int) -> float:
    """DOUBLE of the exact DECIMAL sum of scaled integers (an empty
    sum is 0.0, as ``coalesce(sum, 0.0)`` gives)."""
    return int(_sum_by(np.zeros(len(vals), np.int64), vals, 1)[0]) / 10**scale


def _local_frame(spark: SparkSession, cols: dict) -> DataFrame:
    """A driver loop's result as a DataFrame: ``cols`` maps each output
    column to ``(Spark type, values)``. Built from an Arrow table, so
    it is a local relation — collecting it runs no Spark job."""
    schema = StructType([StructField(c, t) for c, (t, _) in cols.items()])
    table = pa.table({c: v for c, (_, v) in cols.items()})
    return spark.createDataFrame(table, schema)
