"""``analytics_iter``: registry queries whose time is bound by driver
loops and Spark job counts.

The corpus tables these queries read are generated from the seed; the
queries run in a fixed order. A warm-up pass of every query precedes
the timed rounds. Each query is
split into construct time (``fn(spark, dir)``: the driver-side eager
work) and compute time (the final action). Every result is compared
with the query's registry oracle in DuckDB, by the canonical row
signature ``scripts/check_correctness.py`` uses; where the signatures
differ, the rows must still agree with floats one unit apart in their
4th decimal at most (see ``same_result``).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

import gen
from common import Context, Round, shuffle_exchanges

SCALE = 0.01
QUERIES = [
    "graph_hits",
    "graph_pagerank",
    "graph_label_prop",
    "emb_kmeans",
    "emb_kcenter_coreset",
    "emb_semantic_dedup",
    "dq_iqr_outliers",
    "doc_substring_search",
]


class AnalyticsIter:
    name = "analytics_iter"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.dir = os.path.join(ctx.root, "corpus")

    def setup(self, rep: int) -> None:
        """Write the corpus tables; rep 0 also routes the queries'
        scratch datasets into the run root and loads the oracles."""
        os.makedirs(self.dir, exist_ok=True)
        for name, make in gen.TABLES.items():
            pq.write_table(make(self.ctx.seed, SCALE), os.path.join(self.dir, f"{name}.parquet"))
        if rep:
            return
        from pydala2_spark.queries import oracle_sql, queries

        scratch = os.path.join(self.ctx.root, "query_scratch")

        def scoped_tmp(spark, sf_dir, prefix):
            path = os.path.join(scratch, prefix)
            os.makedirs(path, exist_ok=True)
            return path

        # side-effecting queries write their scratch datasets under
        # /tmp by default; keep every write inside the run root
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("pydala2_spark.queries") and hasattr(mod, "_app_scoped_tmp"):
                mod._app_scoped_tmp = scoped_tmp
        self.fns = queries()
        oracles = oracle_sql()
        self.oracles = {q: oracles[q] for q in QUERIES}

    def warmup(self, rnd: Round) -> Round:
        """One pass of every query, so the timed rounds do not pay
        first-use code generation."""
        return self.round(rnd, -1)

    def round(self, rnd: Round, k: int) -> Round:
        spark, tr = self.ctx.spark, self.ctx.tracer
        duck = None
        for q in QUERIES:
            with rnd.op(q):
                with tr.span(f"q.{q}.construct"):
                    df = self.fns[q](spark, self.dir)
                with tr.span(f"q.{q}.compute"):
                    rows = [tuple(r) for r in df.collect()]
            with rnd.untimed():
                if duck is None:
                    duck = duckdb.connect()
                    for t in gen.TABLES:
                        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.dir, t)}.parquet'")
                rel = duck.sql(self.oracles[q])
                ok = same_result(df.columns, rows, list(rel.columns), rel.fetchall())
                rnd.check(ok, f"{q}: result differs from its oracle")
                if tr.enabled:
                    rnd.extra[f"q.{q}.shuffle_exchanges"] = shuffle_exchanges(df)
        return rnd.finish()


def same_result(cols: list[str], rows: list[tuple], want_cols: list[str], want: list[tuple]) -> bool:
    """The query's rows equal its oracle's: bit-equal canonical
    signatures, or else the same rows with every float within one unit
    of the 4th decimal. The registry rounds floats to 4 decimals, and a
    value on a rounding boundary can land either side of it in the two
    engines (on some seeds ``emb_kmeans`` gives 0.9453 against 0.9454)."""
    from check_correctness import frame_sig

    if frame_sig(cols, rows) == frame_sig(want_cols, want):
        return True
    if sorted(cols) != sorted(want_cols) or len(rows) != len(want):
        return False

    def canonical(rs, cs):
        order = sorted(range(len(cs)), key=lambda i: cs[i])
        key = lambda r: tuple((isinstance(v, float), v if isinstance(v, float) else str(v)) for v in r)
        return sorted((tuple(r[i] for i in order) for r in rs), key=key)

    for a, b in zip(canonical(rows, cols), canonical(want, want_cols)):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1.0001e-4):
                    return False
            elif x != y:
                return False
    return True
