"""Dataset maintenance jobs: compaction, repartition, dtype optimization,
schema repair — each with a truthful dry-run plan.

Capability parity with the reference's maintenance surface
(`/root/reference/pydala/dataset.py:2098-2603`, `pydala/metadata.py:
626-758`, `pydala/schema.py:406-578`):

- M1 ``compact_partitions`` — rewrite small multi-file partitions
  (candidates: >1 file and < max_rows total; ``sort_by`` ⇒ every
  partition; ``unique`` dedup, exclusive with sort)
  (`pydala/dataset.py:2098-2191`).
- M2 ``compact_by_timeperiod`` — slice the dataset's time range into
  intervals, compact the files overlapping each
  (`pydala/dataset.py:2197-2347`).
- M3 ``compact_by_rows`` — non-partitioned row-count compaction
  (`pydala/dataset.py:2349-2390`).
- M4 ``repartition_dataset`` — rewrite into a new hive layout with
  optional derived date-part partition columns
  (`pydala/dataset.py:2392-2488`).
- M5 ``optimize_dtypes`` — sample-based narrowing proposal + rewrite
  (`pydala/dataset.py:2490-2603`).
- M6 ``repair_schema`` — unify per-file schemas, rewrite only
  non-conforming files (`pydala/metadata.py:626-758`).

Design notes (Spark-first, scale-first):

- **Planning never reads data.** Candidate selection runs on the
  footer-only stats table (:mod:`pydala2_spark.plans.stats`), whose
  collection is itself a distributed job — at 100 TB, planning cost is
  proportional to file COUNT, not byte size.
- **Dry-run shares code with execution**: ``dry_run=True`` returns the
  exact plan the executing branch consumes (reference invariant —
  `pydala/dataset.py:2122-2127`).
- **Rewrites are partition-scoped or file-scoped**, never
  whole-dataset unless semantics demand it (global dedup / layout
  change). Compactions (M1-M3) go through the package's one rewrite
  step, :func:`pydala2_spark.sources.writer.replace_files`: append the
  replacement files, then delete the replaced ones — the reference's
  write-new-then-delete-old discipline (`pydala/dataset.py:995-1003`);
  readers pinned to the old file list keep a consistent (stale) view,
  new readers see the compacted one. A delete that leaves a replaced
  file behind raises :class:`~pydala2_spark.errors.PartialMergeError`
  with the exact ``pending_deletes`` instead of silently leaving its
  rows duplicated next to their replacement.
- **Whole-dataset rewrites** (M4, z-order, M5) write a sibling staging
  directory and swap it in with :func:`pydala2_spark.plans.fs.replace_dir`.
"""

from __future__ import annotations

import math
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize
from pydala2_spark.functions.sortspec import SortSpec, to_sort_columns
from pydala2_spark.plans.fs import (
    delete_paths,
    input_file_col,
    list_files,
    partition_columns,
    rename,
    replace_dir,
    schemeless_col,
)
from pydala2_spark.plans.stats import collect_file_stats
from pydala2_spark.sources.writer import parquet_writer, replace_files

DEFAULT_MAX_ROWS_PER_FILE = 10_000_000  # reference default, pydala/dataset.py:2100


class CompactionPlan:
    """Per-group rewrite plan over ONE candidates frame: one row per
    group (``__key`` — partition path, interval label or "<all>"),
    its member ``files`` and their total ``rows``.

    The frame is materialized lazily: the first action pins the
    row set, so the plan stays readable after the compaction deletes
    its input files, and a dry-run plan nobody inspects costs no job.

    The execute paths read ONE flat list: :meth:`files_and_max_outputs`
    collects every candidate file next to its group's
    ``ceil(rows / max_rows_per_file)`` in a single job — the same
    metadata Spark's own FileIndex holds for the rewrite's scan.
    ``pairs_df`` is the (file, group) mapping as a join side. The
    per-group dicts ``groups``/``rows`` are memoized collects for
    inspection (dry runs, tests); the only execute path that reads them
    is M2's loop for intervals that need more than one output file.
    ``preview(limit)`` caps the collect for display at 10⁶ groups."""

    def __init__(self, candidates: DataFrame) -> None:
        self._df = materialize(candidates)
        self._groups: dict[str, list[str]] | None = None
        self._rows: dict[str, int] = {}

    def _materialize(self) -> None:
        if self._groups is not None:
            return
        got = sorted(
            (r["__key"], sorted(r["files"]), int(r["rows"] or 0))
            for r in self._df.select("__key", "files", "rows").collect()
        )
        self._groups = {k: fs for k, fs, _ in got}
        self._rows = {k: n for k, _, n in got}

    @property
    def groups(self) -> dict[str, list[str]]:
        self._materialize()
        return self._groups

    @property
    def rows(self) -> dict[str, int]:
        self._materialize()
        return self._rows

    def preview(self, limit: int = 20) -> dict[str, list[str]]:
        """First ``limit`` groups (by key) WITHOUT collecting the rest —
        the dry-run display path at millions of partitions."""
        return {
            r["__key"]: sorted(r["files"])
            for r in self._df.select("__key", "files").sort("__key").limit(limit).collect()
        }

    def files_and_max_outputs(self, max_rows_per_file: int) -> tuple[list[str], int]:
        """Every candidate file (sorted) and the max over groups of
        ``ceil(rows / max_rows_per_file)`` (at least 1), from ONE
        collect: ``explode(files)`` next to the group's ceil."""
        got = self._df.select(
            F.explode("files").alias("f"),
            F.ceil(F.col("rows") / F.lit(max_rows_per_file)).alias("n"),
        ).collect()
        return sorted(r["f"] for r in got), max([1] + [int(r["n"] or 1) for r in got])

    def pairs_df(self) -> DataFrame:
        """(__file, __grp) rows as a DataFrame — the join side for
        group-routed rewrites, never a driver-side dict."""
        return self._df.select(
            F.explode("files").alias("__file"), F.col("__key").alias("__grp")
        )


# ---------------------------------------------------------------------------
# M1: compact_partitions
# ---------------------------------------------------------------------------


def compaction_candidates(
    st: DataFrame,
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    sort_by: SortSpec = None,
) -> DataFrame:
    """Per-partition candidate selection as a DataFrame — the filter
    runs DISTRIBUTED, so at 100 TB (~10⁶ partitions) the driver only
    ever receives the partitions actually selected for rewrite, not
    the full partition list (same collect-the-selection-only shape as
    ``plans.stats.prune_files``).

    Reference candidates: >1 file and < max_rows total; ``sort_by`` ⇒
    ordered rewrite of every partition (`pydala/dataset.py:2140-2152`).
    """
    grouped = st.groupBy(
        F.sort_array(F.expr("map_entries(partitions)")).alias("pe")
    ).agg(
        F.collect_list("file_path").alias("files"),
        F.sum("num_rows").alias("rows"),
        F.count("*").alias("n_files"),
    )
    if sort_by:
        return grouped
    return grouped.filter(
        (F.col("n_files") > 1) & (F.col("rows") < max_rows_per_file)
    )


def plan_compact_partitions(
    spark: SparkSession,
    path: str,
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    sort_by: SortSpec = None,
    stats: DataFrame | None = None,
) -> CompactionPlan:
    st = stats if stats is not None else collect_file_stats(spark, path)
    cand = compaction_candidates(st, max_rows_per_file, sort_by)
    # group key as an expression ("k=v/..." or "<root>") — the plan
    # stays a DataFrame; nothing per-partition reaches the driver until
    # a caller inspects .groups (see CompactionPlan)
    key = F.array_join(
        F.transform("pe", lambda e: F.concat(e["key"], F.lit("="), e["value"])), "/"
    )
    keyed = cand.select(
        F.when(F.size("pe") > 0, key).otherwise(F.lit("<root>")).alias("__key"),
        "files",
        "rows",
    )
    return CompactionPlan(keyed)


def compact_partitions(
    spark: SparkSession,
    path: str,
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    sort_by: SortSpec = None,
    unique: bool | list[str] = False,
    dry_run: bool = False,
    compression: str = "zstd",
) -> CompactionPlan:
    if sort_by and unique:
        raise ValueError("sort_by and unique are mutually exclusive")  # pydala/dataset.py:2110
    plan = plan_compact_partitions(spark, path, max_rows_per_file, sort_by)
    if dry_run:
        return plan
    all_files, _ = plan.files_and_max_outputs(max_rows_per_file)
    if not all_files:
        return plan

    # ONE scan → shuffle → append rewrites every selected group,
    # partitioned or not: a backlogged dataset with 10⁴–10⁶ candidate
    # partitions pays one job's scheduling latency instead of one PER
    # GROUP. Write-new-then-delete-old, so concurrent appends into the
    # same partitions survive (dynamic partition OVERWRITE would delete
    # files the planning snapshot never saw).
    part_cols = partition_columns(spark, path)
    df = spark.read.option("basePath", path).parquet(*all_files)
    if sort_by:
        # a sort_by rewrite selects EVERY partition: one range shuffle
        # on (partition cols, sort cols) gives each task a contiguous
        # key range, sortWithinPartitions orders it, and partitionBy
        # routes rows to their hive dirs — files come out sorted with
        # (near-)non-overlapping ranges; max_rows_per_file bounds them
        range_cols = [F.col(c) for c in part_cols] + list(to_sort_columns(sort_by))
        df = df.repartitionByRange(*range_cols).sortWithinPartitions(*range_cols)
    else:
        if unique:
            # per-partition dedup semantics: a subset key is widened
            # with the partition columns so rows in different partitions
            # never collapse; unique=True compares all columns, which
            # already include the partition columns
            subset = unique if isinstance(unique, list) else None
            df = (
                df.dropDuplicates(list(dict.fromkeys(subset + part_cols)))
                if subset
                else df.dropDuplicates()
            )
        # the candidate rule (rows < max_rows_per_file) makes one output
        # file per group correct: hash on the partition columns puts
        # each hive partition on one task; the unpartitioned dataset is
        # a single group
        df = df.repartition(*[F.col(c) for c in part_cols]) if part_cols else df.coalesce(1)
    replace_files(
        df, path, all_files, "compact_partitions", part_cols, compression, max_rows_per_file
    )
    return plan


# ---------------------------------------------------------------------------
# M2: compact_by_timeperiod
# ---------------------------------------------------------------------------

_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def _interval_seconds(interval: str) -> int:
    """Parse '1d' / '6h' / '30m' style interval strings
    (`pydala/helpers/datetime.py` get_timedelta_str parity)."""
    num, unit = interval[:-1], interval[-1].lower()
    if unit not in _UNIT_SECONDS or not num.isdigit():
        raise ValueError(f"invalid interval {interval!r}; use e.g. '1d', '6h', '30m'")
    return int(num) * _UNIT_SECONDS[unit]


def plan_compact_by_timeperiod(
    spark: SparkSession,
    path: str,
    interval: str,
    timestamp_column: str,
    stats: DataFrame | None = None,
) -> CompactionPlan:
    """Group files by the interval bucket of their min(ts) footer stat.
    Each candidate file lands in exactly one group (no double rewrite);
    groups with >1 file are compacted."""
    # the footer scan feeds TWO actions (the stat-less probe below and
    # the candidate materialization) — one lazy materialization runs it once
    st = stats if stats is not None else materialize(collect_file_stats(spark, path))
    step = _interval_seconds(interval)
    # bucket + candidate selection stay DISTRIBUTED (same rationale as
    # compaction_candidates): the driver receives one row per
    # multi-file interval, never the full file list. The footer min is
    # a JSON-encoded ISO string; strip quotes, normalize Z, parse in
    # the session's UTC timezone — byte-for-byte the old driver-side
    # fromisoformat path.
    cs = F.col("column_stats").getItem(timestamp_column)
    ts_str = F.regexp_replace(
        F.regexp_replace(cs.getField("min"), '^"|"$', ""), "Z$", "+00:00"
    )
    min_ts = F.to_timestamp(ts_str)
    # A file without footer stats for the timestamp column (INT96
    # timestamps carry none) must NOT silently fall out of the plan —
    # that turns the operator into a no-op that reports success. Get
    # loud and derive the per-file min from a data scan instead — of
    # ONLY the stat-less files (r14 verdict #4: the fallback re-read
    # the ts column of EVERY file whenever ANY lacked stats; at 100 TB
    # one bad legacy file must not force a full-dataset scan). The
    # collect is the stat-less file list, which is exactly the set the
    # scan must open anyway — and it replaces the old counting
    # aggregate, so the no-fallback common case pays ONE metadata job.
    statless = [
        r["file_path"]
        for r in st.filter(cs.isNull() | cs.getField("min").isNull())
        .select("file_path")
        .collect()
    ]
    if statless:
        import warnings

        from pydala2_spark.errors import MissingFooterStatsWarning

        warnings.warn(
            f"{len(statless)} parquet file(s) "
            f"under {path!r} have no footer min/max for "
            f"{timestamp_column!r} (INT96 timestamps and hive partition "
            "columns carry none); "
            "falling back to a data scan of that column to bucket them",
            MissingFooterStatsWarning,
            stacklevel=2,
        )
        # basePath keeps hive partition columns in the scan (a dataset
        # partitioned by its timestamp column has no footer stats for it)
        scanned = (
            spark.read.option("basePath", path)
            .parquet(*statless)
            .select(input_file_col().alias("__f"), F.col(timestamp_column).alias("__ts"))
            .groupBy("__f")
            .agg(F.min("__ts").alias("__scan_min"))
        )
        st = st.join(scanned, schemeless_col(F.col("file_path")) == F.col("__f"), "left")
        min_ts = F.coalesce(min_ts, F.col("__scan_min"))
    bucket = F.floor(F.unix_timestamp(min_ts) / step)
    per_bucket = (
        st.filter(min_ts.isNotNull())
        .withColumn("__bucket", bucket)
        .filter(F.col("__bucket").isNotNull())
        .groupBy("__bucket")
        .agg(
            F.collect_list("file_path").alias("files"),
            F.sum("num_rows").alias("rows"),
            F.count("*").alias("n_files"),
        )
        .filter(F.col("n_files") > 1)
        .select(
            F.concat(
                F.lit("t"), (F.col("__bucket") * F.lit(step)).cast("long").cast("string")
            ).alias("__key"),
            "files",
            "rows",
        )
    )
    return CompactionPlan(per_bucket)


def compact_by_timeperiod(
    spark: SparkSession,
    path: str,
    interval: str,
    timestamp_column: str,
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    sort_by: SortSpec = None,
    dry_run: bool = False,
    compression: str = "zstd",
) -> CompactionPlan:
    plan = plan_compact_by_timeperiod(spark, path, interval, timestamp_column)
    if dry_run:
        return plan
    all_files, max_outputs = plan.files_and_max_outputs(max_rows_per_file)
    if not all_files:
        return plan
    part_cols = partition_columns(spark, path)
    # partition columns lead the order, so the partitioned writer's
    # required ordering is already met and adds no re-sort
    order = [F.col(c) for c in part_cols] + list(
        to_sort_columns(sort_by or timestamp_column)
    )
    if max_outputs == 1:
        # single-job fast path: rows rejoin their file's interval
        # bucket through a broadcast equi-join against the plan's
        # (file → group) frame, then ONE shuffle on (bucket, partition
        # cols) puts each (interval, partition) on one task, so no
        # interval is split across files. A task can hold SEVERAL
        # intervals, which then share one file. One scan + one append
        # replaces 10⁴–10⁶ serial driver-looped jobs on a backlogged
        # dataset; write-new-then-delete-old as everywhere here.
        fmap = plan.pairs_df().select(
            schemeless_col(F.col("__file")).alias("__file"), "__grp"
        )
        df = (
            spark.read.option("basePath", path)
            .parquet(*all_files)
            .withColumn("__file", input_file_col())
            .join(F.broadcast(fmap), "__file")
            .drop("__file")
        )
        df = df.repartition(
            F.col("__grp"), *[F.col(c) for c in part_cols]
        ).sortWithinPartitions(*order)
        replace_files(
            df.drop("__grp"),
            path,
            all_files,
            "compact_by_timeperiod",
            part_cols,
            compression,
            max_rows_per_file,
        )
        return plan

    # some interval needs several output files: one write per interval,
    # coalesced to its file count FIRST — sorting before the coalesce
    # would concatenate separately sorted partitions into unsorted files
    for key, files in plan.groups.items():
        n_out = max(1, math.ceil(plan.rows[key] / max_rows_per_file))
        df = spark.read.option("basePath", path).parquet(*files)
        replace_files(
            df.coalesce(n_out).sortWithinPartitions(*order),
            path,
            files,
            "compact_by_timeperiod",
            part_cols,
            compression,
            max_rows_per_file,
        )
    return plan


# ---------------------------------------------------------------------------
# M3: compact_by_rows
# ---------------------------------------------------------------------------


def compact_by_rows(
    spark: SparkSession,
    path: str,
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    unique: bool | list[str] = False,
    sort_by: SortSpec = None,
    dry_run: bool = False,
    compression: str = "zstd",
) -> CompactionPlan:
    """Non-partitioned row-count compaction; delegates to M1 when the
    dataset is hive-partitioned (`pydala/dataset.py:2349-2390`)."""
    if partition_columns(spark, path):
        return compact_partitions(
            spark,
            path,
            max_rows_per_file=max_rows_per_file,
            unique=unique,
            sort_by=sort_by,
            dry_run=dry_run,
            compression=compression,
        )
    # the whole dataset is one "<all>" group, kept only when the rewrite
    # changes something: more files than ceil(rows / cap), or a dedup
    # or sort was asked for
    cand = collect_file_stats(spark, path).agg(
        F.lit("<all>").alias("__key"),
        F.collect_list("file_path").alias("files"),
        F.sum("num_rows").alias("rows"),
    )
    if not (unique or sort_by):
        n_out = F.ceil(F.col("rows") / F.lit(max_rows_per_file))
        cand = cand.filter(F.size("files") > F.greatest(n_out, F.lit(1)))
    plan = CompactionPlan(cand)
    if dry_run:
        return plan
    files, n_target = plan.files_and_max_outputs(max_rows_per_file)
    if not files:
        return plan

    df = spark.read.parquet(*files)
    if unique:
        subset = unique if isinstance(unique, list) else None
        df = df.dropDuplicates(subset) if subset else df.dropDuplicates()
    df = df.repartition(n_target)
    if sort_by:
        df = df.sortWithinPartitions(*to_sort_columns(sort_by))
    replace_files(df, path, files, "compact_by_rows", None, compression, max_rows_per_file)
    return plan


# ---------------------------------------------------------------------------
# M4: repartition_dataset
# ---------------------------------------------------------------------------


def repartition_dataset(
    spark: SparkSession,
    path: str,
    partitioning_columns: list[str] | None = None,
    timestamp_column: str | None = None,
    unique: bool | list[str] = False,
    sort_by: SortSpec = None,
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    compression: str = "zstd",
) -> list[str]:
    """Rewrite the dataset into a new hive layout
    (`pydala/dataset.py:2392-2488`). Missing partition columns that are
    date-parts (year/month/...) are derived from ``timestamp_column``.

    The rewrite stages into a sibling directory and swaps via rename —
    the whole-dataset analogue of the reference's per-file atomic swap
    (`pydala/schema.py:453-475`). Returns the new file list.
    """
    from pydala2_spark.functions.dateparts import DATEPART_EXPRS, with_datepart_columns

    df = spark.read.parquet(path)
    part_cols = list(partitioning_columns or [])
    missing = [c for c in part_cols if c not in df.columns]
    derivable = [c for c in missing if c in DATEPART_EXPRS]
    if derivable:
        ts = timestamp_column or _first_timestamp_col(df)
        if ts is None:
            raise ValueError(f"cannot derive {derivable} without a timestamp column")
        df = with_datepart_columns(df, ts, derivable)
    still = [c for c in part_cols if c not in df.columns]
    if still:
        raise ValueError(f"partition columns not in data: {still}")

    if unique:
        subset = unique if isinstance(unique, list) else None
        df = df.dropDuplicates(subset) if subset else df.dropDuplicates()
    if part_cols:
        # co-locate rows of each output partition to avoid tiny files
        df = df.repartition(*[F.col(c) for c in part_cols])
    if sort_by:
        df = df.sortWithinPartitions(*to_sort_columns(sort_by))

    staging = f"{path.rstrip('/')}__staging_{uuid.uuid4().hex[:8]}"
    parquet_writer(df, "overwrite", compression, max_rows_per_file, part_cols).parquet(staging)
    replace_dir(spark, staging, path)
    return list_files(spark, path)


# ---------------------------------------------------------------------------
# Z-order clustering rewrite (scale extension — no reference analogue)
# ---------------------------------------------------------------------------


def _footer_minmax(
    spark: SparkSession, path: str, cols: list[str]
) -> dict[str, tuple[float, float]] | None:
    """Global (min, max) per column from parquet FOOTERS only — no data
    pages touched. Returns ``None`` when any file lacks min/max for any
    requested column (caller falls back to a data-scan aggregate, the
    M2 loud-fallback pattern). Driver-side for small file lists, a
    distributed footer scan above that — metadata cost either way."""
    import json as _json

    from pydala2_spark.plans.fs import list_files
    from pydala2_spark.plans.stats import footer_stats

    files = list_files(spark, path, suffixes=(".parquet",))
    if not files:
        return None
    per_file = [
        r["column_stats"] for r in footer_stats(spark, path, files).select("column_stats").collect()
    ]
    out: dict[str, tuple[float, float]] = {}
    for c in cols:
        mn = mx = None
        for cs in per_file:
            s = cs.get(c)
            if s is None or s["min"] is None or s["max"] is None:
                return None  # a stat-less file makes the footer answer partial
            lo, hi = _json.loads(s["min"]), _json.loads(s["max"])
            if not isinstance(lo, (int, float)) or not isinstance(hi, (int, float)):
                return None
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        out[c] = (float(mn), float(mx))
    return out


def zorder_expr(
    df: DataFrame,
    cols: list[str],
    bits: int = 12,
    mins_maxs: dict[str, tuple[float, float]] | None = None,
):
    """Interleaved-bit (Morton) key over ``cols``.

    Each column maps to a ``2^bits``-bucket id via ``width_bucket`` over
    its [min, max] (one tiny agg job — no per-column global sort), then
    the bucket bits interleave into one BIGINT. Pure Catalyst
    expressions end to end. Numeric columns only; rank/dictionary-encode
    categoricals first. ``mins_maxs`` supplies precomputed per-column
    (min, max) — e.g. from parquet footers — skipping the scan job.
    """
    if not cols:
        raise ValueError("zorder_expr needs at least one column")
    # a 64-bit signed key holds at most 63 interleaved bits: clamp the
    # per-column resolution rather than let shiftleft wrap mod 64 in
    # the JVM and silently corrupt the Morton key (e.g. default
    # bits=12 with 6+ columns)
    max_bits = 63 // len(cols)
    if max_bits < 1:
        raise ValueError(f"too many z-order columns ({len(cols)}): max 63")
    bits = min(bits, max_bits)
    if mins_maxs is None:
        row = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in cols],
            *[F.max(c).alias(f"mx_{c}") for c in cols],
        ).first()
        mins_maxs = {
            c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols
        }
    n = 1 << bits
    bucket_exprs = []
    for c in cols:
        # an all-null column has null min/max: give it the degenerate
        # [0, 1] range (every row lands in bucket 0 — no clustering
        # signal, but no crash and the other columns still interleave)
        mn_raw, mx_raw = mins_maxs[c]
        mn = float(mn_raw) if mn_raw is not None else 0.0
        mx = float(mx_raw) if mx_raw is not None else 1.0
        if mx <= mn:
            mx = mn + 1.0
        b = F.width_bucket(F.col(c).cast("double"), F.lit(mn), F.lit(mx), F.lit(n)) - 1
        # coalesce FIRST: least/greatest skip null operands, so a null
        # bucket would otherwise silently become n-1 (top bucket);
        # pinning nulls to bucket 0 keeps them co-located and matches
        # the degenerate-range rationale above
        b = F.coalesce(b, F.lit(0))
        bucket_exprs.append(F.greatest(F.lit(0), F.least(b, F.lit(n - 1))))
    d = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(bucket_exprs):
            z = z + F.shiftleft(
                F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)), i * d + j
            )
    return z


def zorder_rewrite(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bits: int = 12,
    target_file_count: int | None = None,
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    compression: str = "zstd",
) -> list[str]:
    """Rewrite a dataset clustered on a Z-order (Morton) key so file
    min/max stats prune for predicates on ANY of ``cols`` — linear
    sort-at-write only skips on its leading column.

    Shape: one range shuffle on the z-key (``repartitionByRange``
    gives equal-size files AND disjoint z-ranges per file) + a local
    sort; each output file then covers a small hyper-rectangle in
    col-space. At 100 TB this is the standard layout maintenance pass
    between a time-partitioned ingest and multi-dimension analytics.
    Swap is staged + atomic, same as ``repartition_dataset``.
    """
    df = spark.read.parquet(path)
    # min/max from parquet footers when every file carries exact stats
    # for every z-column (integral columns only — float stats carry a
    # NaN hazard, strings truncate): a metadata-only job replaces the
    # full-table min/max scan. Falls back to the scan aggregate when
    # stats are partial (e.g. INT96 data), the M2 loud-fallback shape.
    dtypes = dict(df.dtypes)
    mm = None
    if all(dtypes.get(c) in ("tinyint", "smallint", "int", "bigint") for c in cols):
        mm = _footer_minmax(spark, path, cols)
    z = zorder_expr(df, cols, bits, mins_maxs=mm).alias("__z")
    clustered = df.select("*", z)
    if target_file_count:
        clustered = clustered.repartitionByRange(target_file_count, F.col("__z"))
    else:
        clustered = clustered.repartitionByRange(F.col("__z"))
    clustered = clustered.sortWithinPartitions("__z").drop("__z")

    staging = f"{path.rstrip('/')}__staging_{uuid.uuid4().hex[:8]}"
    parquet_writer(clustered, "overwrite", compression, max_rows_per_file).parquet(staging)
    replace_dir(spark, staging, path)
    return list_files(spark, path)


# ---------------------------------------------------------------------------
# M5: optimize_dtypes
# ---------------------------------------------------------------------------


def optimize_dtypes(
    spark: SparkSession,
    path: str,
    sample_rows: int = 10_000,
    strict: bool = True,
    shrink_numerics: bool = True,
    dry_run: bool = False,
    compression: str = "zstd",
) -> dict[str, tuple[str, str]]:
    """Propose (and optionally apply) narrowing casts
    (`pydala/dataset.py:2490-2603`). Returns the plan
    ``{column: (from, to)}``; with ``dry_run=False`` the dataset is
    rewritten in place via staging-dir swap."""
    from pydala2_spark.functions.schema_tools import apply_dtype_plan, propose_dtypes

    df = spark.read.parquet(path)
    plan = propose_dtypes(df, sample_rows=sample_rows, strict=strict, shrink_numerics=shrink_numerics)
    if dry_run or not plan:
        return plan

    part_cols = partition_columns(spark, path)
    out = apply_dtype_plan(df, plan)
    staging = f"{path.rstrip('/')}__staging_{uuid.uuid4().hex[:8]}"
    parquet_writer(out, "overwrite", compression, partition_by=part_cols).parquet(staging)
    replace_dir(spark, staging, path)
    return plan


# ---------------------------------------------------------------------------
# M6: repair_schema
# ---------------------------------------------------------------------------


def plan_repair_schema(spark: SparkSession, path: str) -> dict[str, Any]:
    """Snapshot per-file schemas (footer-only, distributed), unify with
    the promotion ladder, and list non-conforming files
    (`pydala/metadata.py:626-758`)."""
    from pydala2_spark.functions.schema_tools import unify_schemas

    files = list_files(spark, path, suffixes=(".parquet",))
    per_file: dict[str, Any] = {}
    schemas = []
    for f in files:  # schema read per file via Spark (footer only)
        s = spark.read.parquet(f).schema
        per_file[f] = s
        schemas.append(s)
    if not schemas:
        return {"files": [], "schema": None}
    target = unify_schemas(schemas)
    bad = [f for f, s in per_file.items() if s != target]
    return {"files": sorted(bad), "schema": target}


def repair_schema(spark: SparkSession, path: str, dry_run: bool = False) -> dict[str, Any]:
    """Rewrite only the files whose physical schema differs from the
    unified target; each file is replaced atomically (write sibling,
    delete original) — `pydala/schema.py:499-578` semantics."""
    from pydala2_spark.sources.writer import cast_to_schema

    plan = plan_repair_schema(spark, path)
    if dry_run or not plan["files"]:
        return plan
    target = plan["schema"]
    for f in plan["files"]:
        df = cast_to_schema(spark.read.parquet(f), target)
        parent, name = f.rsplit("/", 1)
        tok = uuid.uuid4().hex[:8]
        # hidden ('_'-prefixed) staging dir: readers never pick it up,
        # even if a crash strands it
        tmp_dir = f"{parent}/_repair_{tok}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
        new_file = next(p for p in list_files(spark, tmp_dir) if p.endswith(".parquet"))
        # crash-safe ordering: original → hidden backup, replacement
        # in, backup dropped LAST — at every instant the row data
        # exists either as the visible file or the recoverable backup
        # (the old delete-then-rename order lost the file outright if
        # the rename failed)
        backup = f"{parent}/._repair_bak_{tok}_{name}"
        rename(spark, f, backup)
        if not rename(spark, new_file, f):
            rename(spark, backup, f)  # roll back
            delete_paths(spark, [tmp_dir])
            raise IOError(f"repair_schema: replacement rename failed for {f}")
        delete_paths(spark, [backup, tmp_dir])
    return plan


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _first_timestamp_col(df: DataFrame) -> str | None:
    for f in df.schema.fields:
        if f.dataType.typeName().startswith("timestamp"):
            return f.name
    return None
