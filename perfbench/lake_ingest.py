"""``lake_ingest``: the write path under a CDC-style lifecycle.

The seed's ``orders`` are cut into time-ordered batches appended to a
``year``-partitioned dataset. After each append: an upsert on
``o_orderkey`` whose update keys are recency-skewed (batch age drawn
from an exponential, so recent batches are rewritten most) plus new
keys, an incremental ``StatsIndex.refresh``, and one freshness range
read through ``read_pruned``. Then one ``delete_where``, one
``update_where`` and ``compact_partitions``. The round ends by serving
the compacted lake: an ``o_custkey`` bloom sidecar is built and read by
Zipf-skewed point lookups through ``scan_point``, a partition-pruned
aggregate runs through ``Dataset.filter`` and a join/aggregate through
``Catalog.sql``. Every op is checked against a pandas model of the same
sequence (the serving reads through DuckDB over the model).
"""

from __future__ import annotations

import contextlib
import os
import shutil

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads

import gen
from common import Context, Round, close, data_files, delta, holds, parquet_rows, rows, same_rows, shuffle_exchanges

SCALE = 0.01  # 15k orders
BATCHES = 2
UPDATE_FRAC = 0.05  # update rows per upsert, as a share of a batch
NEW_FRAC = 0.02  # new keys per upsert
DELETE_WHERE = "o_orderpriority = '5-LOW' AND o_totalprice < 100000"
UPDATE_WHERE = "o_orderpriority = '1-URGENT' AND o_orderstatus = 'O'"
UPDATE_SET = {"o_totalprice": "o_totalprice + 1000.0", "o_orderstatus": "'F'"}
POINT_LOOKUPS = 2
POINT_KEYS = 2  # customer keys per lookup (fewer when the Zipf draw repeats one)
YEARS = list(range(1995, 2002))
SQL = (
    "SELECT o.o_orderpriority AS k, COUNT(*) AS n, SUM(o.o_totalprice) AS v FROM orders o "
    "JOIN (SELECT o_custkey FROM orders WHERE year = {year} GROUP BY o_custkey) c "
    "ON o.o_custkey = c.o_custkey WHERE o.o_totalprice > {price} GROUP BY o.o_orderpriority"
)
_TS_FMT = "%Y-%m-%d %H:%M:%S"
_PER_LAYER_COUNTS = [
    "writer.files_out", "writer.bytes_out",
    "merge.files_rewritten", "merge.bytes_written",
    "maintenance.files_in", "maintenance.files_out", "maintenance.bytes_rewritten",
]


class LakeIngest:
    name = "lake_ingest"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.plan = None

    def setup(self, rep: int) -> None:
        """Generate the append batches, upsert sources and read params."""
        self.plan = _plan(self.ctx.seed)

    def warmup(self, rnd: Round) -> Round:
        """A one-batch lifecycle: every op type once, so the timed
        rounds do not pay first-use code generation."""
        return self._run(rnd, "warmup", cycles=1)

    def round(self, rnd: Round, k: int) -> Round:
        return self._run(rnd, f"ingest_{k}", cycles=BATCHES)

    def _run(self, rnd: Round, name: str, cycles: int) -> Round:
        path = os.path.join(self.ctx.root, name)
        try:
            _lifecycle(self.ctx, self.plan, path, rnd, cycles)
        finally:
            with rnd.untimed():
                shutil.rmtree(path, ignore_errors=True)
                with contextlib.suppress(FileNotFoundError):
                    os.remove(path + ".catalog.yaml")
        return rnd.finish()


def _with_year(t: pa.Table) -> pa.Table:
    years = pa.array(t["o_orderdate"].to_numpy().astype("datetime64[Y]").astype(np.int64) + 1970, pa.int32())
    return t.append_column("year", years)


def _plan(seed: int) -> dict:
    """The round's inputs: time-ordered append batches, one upsert
    source per batch and the serving reads' parameters. Same seed, same
    plan."""
    orders = gen.orders(seed, SCALE).sort_by("o_orderdate")
    n = orders.num_rows
    cuts = np.linspace(0, n, BATCHES + 1).astype(int)
    batches = [orders.slice(a, b - a) for a, b in zip(cuts[:-1], cuts[1:])]
    rng = np.random.default_rng([seed, 11])
    upserts = []
    next_key = n
    for i, b in enumerate(batches):
        n_upd = int(UPDATE_FRAC * b.num_rows)
        age = np.minimum(rng.exponential(1.0, n_upd).astype(int), i)
        src_batch = i - age
        picked = [batches[j].slice(int(rng.integers(0, batches[j].num_rows)), 1) for j in src_batch]
        upd = pa.concat_tables(picked).to_pandas()
        upd = upd.drop_duplicates("o_orderkey", keep="last")
        upd["o_totalprice"] = np.round(rng.uniform(1000.0, 500_000.0, len(upd)), 2)
        upd["o_orderstatus"] = rng.choice(["F", "O", "P"], len(upd))
        n_new = int(NEW_FRAC * b.num_rows)
        new = b.slice(0, n_new).to_pandas()
        new["o_orderkey"] = np.arange(next_key, next_key + n_new, dtype=np.int64)
        next_key += n_new
        src = pa.Table.from_pandas(pd.concat([upd, new], ignore_index=True), schema=orders.schema, preserve_index=False)
        upserts.append(_with_year(src))
    return {"batches": batches, "upserts": upserts, **_serve_params(seed, orders)}


def _serve_params(seed: int, orders: pa.Table) -> dict:
    """Point-lookup keys by Zipf rank over the customers, and the
    filter and SQL parameters."""
    rng = np.random.default_rng([seed, 21])
    n_cust = int(orders["o_custkey"].to_numpy().max()) + 1
    zipf_order = rng.permutation(n_cust)  # rank -> customer key
    points = []
    for _ in range(POINT_LOOKUPS):
        ranks = np.minimum(rng.zipf(1.3, POINT_KEYS) - 1, n_cust - 1)
        points.append(sorted({int(zipf_order[r]) for r in ranks}))
    year, price = int(rng.choice(YEARS)), round(float(rng.uniform(1000, 450_000)), 2)
    sql = SQL.format(year=int(rng.choice(YEARS)), price=round(float(rng.uniform(1000, 450_000)), 2))
    return {"points": points, "filter": (year, price), "sql": sql}


def _lifecycle(ctx: Context, plan: dict, path: str, rnd: Round, cycles: int) -> None:
    from pydala2_spark.plans.stats import StatsIndex
    from pydala2_spark.sources.dataset import ParquetDataset

    spark, tr = ctx.spark, ctx.tracer
    ds = ParquetDataset(path, spark=spark, partitioning=["year"], timestamp_column="o_orderdate")
    idx = StatsIndex(spark, path)
    model = pd.DataFrame()
    files: dict[str, int] = {}
    kept_ratio, useful_ratio = [], []
    acc = dict.fromkeys(
        ["user_bytes", "created_bytes", "merge_source_rows", "merge_rows_written", *_PER_LAYER_COUNTS], 0
    )

    def account():
        """Diff the data files against the last op's: what it created and removed."""
        nonlocal files
        after = data_files(path)
        d = delta(files, after)
        files = after
        acc["created_bytes"] += d.bytes_created
        return d

    for i in range(cycles):
        batch, src = plan["batches"][i], plan["upserts"][i]
        with rnd.op("append"), tr.span("writer.write_to_dataset"):
            ds.write_to_dataset(batch, mode="append")
        with rnd.untimed():
            d = account()
            acc["user_bytes"] += batch.nbytes
            acc["writer.files_out"] += len(d.created)
            acc["writer.bytes_out"] += d.bytes_created
            model = pd.concat([model, batch.to_pandas().set_index("o_orderkey")])
            rnd.check(parquet_rows(d.created) == batch.num_rows, f"append {i}: rows written")

        with rnd.op("upsert"), tr.span("merge.merge"):
            res = ds.merge(src, strategy="upsert", key_columns=["o_orderkey"])
        with rnd.untimed():
            d = account()
            acc["user_bytes"] += src.nbytes
            acc["merge.files_rewritten"] += len(d.removed)
            acc["merge.bytes_written"] += d.bytes_created
            acc["merge_source_rows"] += res.source_count
            acc["merge_rows_written"] += parquet_rows(d.created)
            s = src.drop_columns(["year"]).to_pandas().set_index("o_orderkey")
            n_upd = int(s.index.isin(model.index).sum())
            model = pd.concat([model.drop(s.index, errors="ignore"), s])
            rnd.check(
                (res.updated, res.inserted) == (n_upd, len(s) - n_upd),
                f"upsert {i}: updated/inserted {res.updated}/{res.inserted}, model {n_upd}/{len(s) - n_upd}",
            )

        with rnd.op("refresh"), tr.span("stats.refresh"):
            out = idx.refresh()
        with rnd.untimed():
            rnd.check(out["total"] == len(files), f"refresh {i}: {out} vs {len(files)} files")

        lo = batch["o_orderdate"][0].as_py()
        hi = batch["o_orderdate"][-1].as_py()
        with rnd.op("range_read"):
            with tr.span("stats.read_pruned"):
                df = idx.read_pruned("o_orderdate", lo.strftime(_TS_FMT), hi.strftime(_TS_FMT))
            with tr.span("dataset.scan"):
                got = _range_agg(df, lo, hi)
        with rnd.untimed():
            m = model[(model["o_orderdate"] >= lo) & (model["o_orderdate"] <= hi)]
            rnd.check(
                got[0] == len(m) and close(got[1], float(m["o_totalprice"].sum())),
                f"freshness read {i}: {got} vs {(len(m), float(m['o_totalprice'].sum()))}",
            )
            if tr.enabled:
                kept = df.inputFiles()
                kept_ratio.append(len(kept) / len(files))
                lo64, hi64 = np.datetime64(lo), np.datetime64(hi)
                useful = sum(holds(f, "o_orderdate", lambda a: (a >= lo64) & (a <= hi64)) for f in kept)
                useful_ratio.append(useful / max(len(kept), 1))

    with rnd.op("delete"), tr.span("merge.delete_where"):
        ds.delete_where(DELETE_WHERE)
    with rnd.untimed():
        account()
        model = model[~((model["o_orderpriority"] == "5-LOW") & (model["o_totalprice"] < 100000))]
        rnd.check(parquet_rows(files) == len(model), "delete_where: row count")

    with rnd.op("update"), tr.span("merge.update_where"):
        ds.update_where(UPDATE_WHERE, set=UPDATE_SET)
    with rnd.untimed():
        account()
        hit = (model["o_orderpriority"] == "1-URGENT") & (model["o_orderstatus"] == "O")
        model = model.copy()
        model.loc[hit, "o_totalprice"] = model.loc[hit, "o_totalprice"] + 1000.0
        model.loc[hit, "o_orderstatus"] = "F"

    with rnd.op("compact"), tr.span("maintenance.compact_partitions"):
        ds.compact_partitions()
    with rnd.untimed():
        d = account()
        acc["maintenance.files_in"] += len(d.removed)
        acc["maintenance.files_out"] += len(d.created)
        acc["maintenance.bytes_rewritten"] += d.bytes_created
        _check_final(rnd, path, model)
        live = pa.Table.from_pandas(model.reset_index(), preserve_index=False)
        rnd.extra.update({k: acc[k] for k in _PER_LAYER_COUNTS})
        rnd.extra["merge.useful_row_ratio"] = acc["merge_source_rows"] / max(acc["merge_rows_written"], 1)
        rnd.extra["write_amp"] = acc["created_bytes"] / acc["user_bytes"]
        rnd.extra["space_amp"] = sum(files.values()) / live.nbytes
        if tr.enabled:
            rnd.extra["stats.files_kept_ratio"] = float(np.mean(kept_ratio))
            rnd.extra["stats.useful_file_ratio"] = float(np.mean(useful_ratio))
    _serve(ctx, plan, ds, path, files, model, rnd)


def _serve(ctx: Context, plan: dict, ds, path: str, files: dict, model: pd.DataFrame, rnd: Round) -> None:
    """Read the compacted lake as its users would: bloom point lookups,
    a partition-pruned aggregate and catalog SQL."""
    from pydala2_spark.plans.catalog import Catalog
    from pyspark.sql import functions as F

    tr = ctx.tracer
    with rnd.untimed():
        frame = model.reset_index()
        frame["year"] = frame["o_orderdate"].dt.year.astype("int32")
        duck = duckdb.connect()
        duck.register("orders", frame)
        catalog = Catalog(path + ".catalog.yaml", spark=ctx.spark)
        catalog.create_table("lake.orders", path, partitioning=["year"])

    with rnd.op("bloom_build"), tr.span("bloom.build_bloom_index"):
        ds.build_bloom_index("o_custkey")

    bloom_kept, bloom_fp = [], []
    for keys in plan["points"]:
        with rnd.op("point_read"):
            with tr.span("bloom.scan_point"):
                df = ds.scan_point("o_custkey", keys)
            with tr.span("dataset.scan"):
                got = rows(df.filter(F.col("o_custkey").isin(keys)).agg(F.count("*"), F.sum("o_totalprice")))
        with rnd.untimed():
            want = duck.sql(
                "SELECT COUNT(*), SUM(o_totalprice) FROM orders "
                f"WHERE o_custkey IN ({', '.join(map(str, keys))})"
            ).fetchall()
            rnd.check(same_rows(got, want), f"point read {keys}: {got} vs {want}")
            if tr.enabled:
                kept = df.inputFiles()
                bloom_kept.append(len(kept) / len(files))
                useful = sum(holds(f, "o_custkey", lambda a: np.isin(a, keys)) for f in kept)
                bloom_fp.append((len(kept) - useful) / max(len(kept), 1))

    year, price = plan["filter"]
    with rnd.op("filter"), tr.span("dataset.filter"):
        got = rows(
            ds.filter(f"year = {year} AND o_totalprice >= {price}")
            .groupBy("o_orderpriority")
            .agg(F.count("*"), F.sum("o_totalprice"))
        )
    with rnd.untimed():
        want = duck.sql(
            "SELECT o_orderpriority, COUNT(*), SUM(o_totalprice) FROM orders "
            f"WHERE year = {year} AND o_totalprice >= {price} GROUP BY o_orderpriority"
        ).fetchall()
        rnd.check(same_rows(got, want), f"filter {(year, price)}: {got} vs {want}")

    with rnd.op("sql"), tr.span("catalog.sql"):
        df = catalog.sql(plan["sql"])
        got = rows(df)
    with rnd.untimed():
        want = duck.sql(plan["sql"]).fetchall()
        rnd.check(same_rows(got, want), f"sql {plan['sql']!r}: {got} vs {want}")
        if tr.enabled:
            rnd.extra["catalog.shuffle_exchanges"] = shuffle_exchanges(df)
            rnd.extra["bloom.files_kept_ratio"] = float(np.mean(bloom_kept))
            rnd.extra["bloom.false_positive_ratio"] = float(np.mean(bloom_fp))
        duck.close()


def _range_agg(df, lo, hi) -> tuple[int, float]:
    from pyspark.sql import functions as F

    r = (
        df.filter(F.col("o_orderdate").between(F.lit(lo), F.lit(hi)))
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s"))
        .collect()[0]
    )
    return int(r["n"]), float(r["s"] or 0.0)


def _check_final(rnd: Round, path: str, model: pd.DataFrame) -> None:
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["o_orderkey", "o_totalprice"]
    )
    keys = t["o_orderkey"].to_numpy()
    got = (len(keys), len(np.unique(keys)), round(float(np.sum(t["o_totalprice"].to_numpy())), 2))
    want = (len(model), len(model), round(float(model["o_totalprice"].sum()), 2))
    rnd.check(
        got[:2] == want[:2] and abs(got[2] - want[2]) <= 0.01 + 1e-9 * abs(want[2]),
        f"final table: (rows, distinct keys, price sum) {got} vs {want}",
    )
