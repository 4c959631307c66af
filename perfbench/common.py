"""Pieces shared by the workloads: the run context, op timing with
untimed checks carved out, and file-level accounting of datasets."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from spans import Tracer


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool


@dataclass
class Round:
    """One pass of a workload's fixed op sequence. ``run_s`` is its wall
    time minus the untimed sections (output checks, file accounting)."""

    tracer: Tracer
    ops: list[Op] = field(default_factory=list)
    untimed_s: float = 0.0
    run_s: float = 0.0
    extra: dict[str, float] = field(default_factory=dict)  # counts, ratios, amplification
    _t0: float = field(default_factory=time.perf_counter)

    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one op. An exception fails the op and ends the round."""
        self.tracer.op_id = len(self.ops)
        t0 = time.perf_counter()
        try:
            yield
        except Exception:
            self.ops.append(Op(kind, time.perf_counter() - t0, False))
            raise
        finally:
            self.tracer.op_id = None
        self.ops.append(Op(kind, time.perf_counter() - t0, True))

    @contextlib.contextmanager
    def untimed(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> None:
        """Mark the last op wrong (it counts as failed) unless ``ok``."""
        if not ok:
            self.ops[-1].ok = False
            print(f"perfbench: wrong output: {what}", file=sys.stderr)

    def finish(self) -> "Round":
        self.run_s = time.perf_counter() - self._t0 - self.untimed_s
        return self

    def latencies(self, kind: str) -> list[float]:
        return [o.latency_s for o in self.ops if o.kind == kind]


@dataclass
class Context:
    spark: object
    root: str  # per-run temp root inside the checkout
    seed: int
    tracer: Tracer


def data_files(path: str) -> dict[str, int]:
    """``{file: bytes}`` of the parquet data files under ``path``;
    ``_``/``.``-prefixed entries (sidecars, staging) are skipped, as
    Spark's reader skips them."""
    out = {}
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


@dataclass
class FileDelta:
    created: dict[str, int]
    removed: dict[str, int]

    @property
    def bytes_created(self) -> int:
        return sum(self.created.values())


def parquet_rows(paths) -> int:
    """Rows in the given parquet files, from their footers."""
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def delta(before: dict[str, int], after: dict[str, int]) -> FileDelta:
    return FileDelta(
        {p: s for p, s in after.items() if p not in before},
        {p: s for p, s in before.items() if p not in after},
    )


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        return 0.0
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted mean of the order statistics. Over the few ops of a round
    it moves smoothly where the plain median jumps between the two op
    types that straddle the middle."""
    n = len(xs)
    if n < 3:
        return median(xs)
    a = (n + 1) / 2
    grid = np.linspace(0.0, 1.0, 20_001)
    pdf = (grid * (1 - grid)) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(np.dot(w, sorted(xs)))


def tail(xs: list[float]) -> tuple[float, str, int]:
    """``(value, how, n)``: the latency at the highest of p99, p95, p90
    and p75 with at least 10 samples beyond it. A round too short for
    any of them reports the mean of its slowest quarter instead, which
    unlike one order statistic does not jump between op types."""
    n = len(xs)
    pct = next((p for p in (99, 95, 90, 75) if n * (100 - p) / 100 >= 10), None)
    if pct is not None:
        return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1], f"p{pct}", n
    k = max(1, round(n / 4))
    return statistics.fmean(sorted(xs)[-k:]), f"mean of slowest {k}", n


def shuffle_exchanges(df) -> int:
    """Shuffle ``Exchange`` nodes in the executed plan (broadcasts and
    reused exchanges excluded), as ``bench.py`` counts them."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange") - plan.count("BroadcastExchange") - plan.count("ReusedExchange")


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-6)


def rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row compare (rows keyed by their strings);
    floats to 1e-9 relative."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple(v for v in r if isinstance(v, str))
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not close(float(x or 0.0), float(y or 0.0)):
                    return False
            elif x != y:
                return False
    return True


def holds(uri: str, column: str, pred) -> bool:
    """Whether the parquet file at ``uri`` has a row whose ``column``
    satisfies ``pred`` (a vectorized predicate over a numpy array)."""
    path = uri.removeprefix("file://").removeprefix("file:")
    return bool(np.any(pred(pq.read_table(path, columns=[column])[column].to_numpy())))


def log_exception(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc()
