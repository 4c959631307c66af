"""Keyed merge (insert / update / upsert) for path-addressed Parquet datasets.

Capability parity with ``ParquetDataset.merge`` in the reference
(`/root/reference/pydala/dataset.py:1549-1777`; contract frozen by
`/root/reference/tests/test_dataset_merge.py`):

- strategies ``insert`` (new keys only), ``update`` (matched keys only),
  ``upsert`` (both); anything else → ``ValueError``;
- ``key_columns`` explicit, or inferred as the whole source row
  (all source∩target columns); explicitly empty → ``ValueError``;
- **null-safe key equality** (null == null for identity);
- duplicate source keys (within a batch or across a list of batches)
  resolve **last-row-wins**;
- a list input is ONE logical batch, not sequential merges;
- source cast to the target schema (extra source columns dropped unless
  ``alter_schema``); missing columns become typed nulls;
- empty source → typed no-op result;
- partition columns are immutable: an update that would move a key to a
  different partition raises ``ValueError`` before any write;
- selective rewrite: updates rewrite only the physical files holding
  matched keys; untouched files are preserved; inserts append new files.

Spark-first design (NOT the reference's pyarrow/duckdb transport): the
match is a null-safe join (`<=>`); matched-file discovery uses the
``_metadata.file_path`` hidden column so the "which files hold these
keys" probe is itself a distributed join. At 100 TB an update touching
0.1% of keys rewrites only the matched files, not the dataset.

Job accounting of one upsert into an existing target. Before, six
queries each paid their own broadcast and AQE stage jobs: a source
count, a target count, a grouped per-file collect, a matched-keys
checkpoint, a partition-immutability join count and a split aggregate
(25 jobs on a 3-append ``year``-partitioned layout, 4 cores). Now
(12 jobs on that layout), each phase under its own job description:

- ``merge: source`` — one job materializes the deduplicated source;
  its row count and the raw ``source_count`` (observed before the
  dedup window) come from that job;
- ``merge: discovery`` — the target's schema read, then one scan of
  the target's keys, moving partition columns and
  ``_metadata.file_path`` joined to the broadcast source keys,
  materialized as the matched rows ``(keys, file, moved)``; the
  target row count is observed on the scan, and the job's metrics give
  the matched row count, the moved count (the immutability guard) and
  the matched file set (bounded by the listing the driver holds);
- ``merge: split`` — the distinct matched keys over that small
  checkpoint: each is one deduplicated source row, so the
  update/insert split costs no second target pass;
- ``merge: insert`` and ``merge: rewrite`` — the two writes; their
  semi- and anti-joins read the checkpoint's keys.

A missing target keeps its own two counts (source rows, deduplicated
rows) before its one insert.

Every file rewrite here — ``merge``'s update half, ``delete_where`` and
``update_where`` — goes through ONE step,
:func:`pydala2_spark.sources.writer.replace_files` (append the
replacement, then delete the replaced files through the Hadoop
FileSystem API, the same code path on file:// and s3a/hdfs), and so
shares one failure contract: a
:class:`~pydala2_spark.errors.PartialMergeError` whose
``pending_deletes`` completes the mutation. ``delete_where`` and
``update_where`` are one core, :func:`_rewrite_where`, that differs
only in the replacement rows (:func:`_replacement`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from pydala2_spark.frames import (
    job_description,
    materialize,
    materialize_counted,
    materialize_observed,
)

VALID_STRATEGIES = ("insert", "update", "upsert")

_ORD = "__pydala_ord"
_BATCH = "__pydala_batch"
_FILE = "__pydala_file"

# Above this many matched files, an IN literal built on the driver
# stops being a filter and becomes a multi-megabyte plan string (a
# predicate touching ~10^5 files at 100 TB); switch to a broadcast
# file-list semi-join — same semantics, bounded plan size.
_FILE_LITERAL_LIMIT = 1_000


def _filter_to_files(tagged: DataFrame, files: list[str], col: str = _FILE) -> DataFrame:
    """Restrict the file-tagged target frame to rows whose ``col`` is
    in ``files``. Small sets inline as an IN literal (cheap,
    scan-evaluable); large sets join against a broadcast single-column
    DataFrame so the plan stays O(1) in the file count."""
    if len(files) <= _FILE_LITERAL_LIMIT:
        return tagged.filter(F.col(col).isin(files))
    spark = tagged.sparkSession
    flist = spark.createDataFrame([(f,) for f in files], f"`{col}` string")
    return tagged.join(F.broadcast(flist), on=[col], how="left_semi")


def _replacement(
    touched: DataFrame, pred: Column, assigns: dict | None, helpers: list[str]
) -> DataFrame:
    """The rows that replace the touched files of a row-level DELETE
    (``assigns`` None: keep the rows where ``pred`` is not TRUE) or
    UPDATE (``assigns``: apply every SET where ``pred`` is TRUE).
    ``helpers`` are the file-tag columns, dropped from the output.

    All assignments evaluate against the PRE-update row: every new
    value is built from the original columns, then projected — a SET
    that swaps two columns stays correct (SQL UPDATE rules)."""
    hit = F.coalesce(pred, F.lit(False))
    if assigns is None:
        return touched.filter(~hit).drop(*helpers)
    built = {c: (F.expr(e) if isinstance(e, str) else e) for c, e in assigns.items()}
    return touched.select(
        *[
            F.when(hit, built[c]).otherwise(F.col(c)).alias(c) if c in built else F.col(c)
            for c in touched.columns
            if c not in helpers
        ]
    )


@dataclass
class MergeResult:
    """Typed merge outcome (reference: fsspeckit ``MergeResult`` as pinned
    by `tests/test_dataset_merge.py:185-203`)."""

    strategy: str
    source_count: int = 0
    inserted: int = 0
    updated: int = 0
    deleted: int = 0
    target_count_before: int = 0
    target_count_after: int = 0
    rewritten_files: list[str] = field(default_factory=list)
    preserved_files: list[str] = field(default_factory=list)
    inserted_files: list[str] = field(default_factory=list)

    @property
    def files(self) -> list[str]:
        return sorted(set(self.rewritten_files) | set(self.inserted_files))

    @property
    def counts(self) -> dict[str, int]:
        return {
            "inserted": self.inserted,
            "updated": self.updated,
            "deleted": self.deleted,
            "source": self.source_count,
            "target_before": self.target_count_before,
            "target_after": self.target_count_after,
        }


def _normalize_source(spark: SparkSession, source: Any) -> DataFrame:
    """Input families → one DataFrame with a deterministic order column.

    ``_BATCH`` preserves list order; ``_ORD`` (monotonically increasing,
    assigned before any shuffle) preserves row order inside a batch —
    together they define "last row" for last-row-wins dedup.
    """
    from pydala2_spark.sources.writer import to_spark_df

    batches = source if isinstance(source, (list, tuple)) else [source]
    parts = []
    for i, b in enumerate(batches):
        df = to_spark_df(spark, b)
        parts.append(
            df.withColumn(_BATCH, F.lit(i)).withColumn(_ORD, F.monotonically_increasing_id())
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _dedup_last_wins(source: DataFrame, keys: list[str]) -> DataFrame:
    """Window groups null keys together → dedup is null-safe for free."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(_BATCH).desc(), F.col(_ORD).desc()
    )
    return (
        source.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", _BATCH, _ORD)
    )


# Above this many source rows, skip the broadcast hint and let the
# planner pick a shuffle join: key tuples at ~50 B/row put 2M rows near
# 100 MB — about the largest broadcast a healthy driver should carry.
BROADCAST_ROW_LIMIT = 2_000_000


def _hint_small(df: DataFrame, n_rows: int) -> DataFrame:
    """Broadcast hint gated on a known row count (size-gate per the
    reference's large-batch behavior: small batches broadcast, backfill
    batches shuffle)."""
    return F.broadcast(df) if n_rows <= BROADCAST_ROW_LIMIT else df


def _null_safe_cond(left: DataFrame, right: DataFrame, keys: list[str]):
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else (cond & c)
    return cond


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    strategy: str = "upsert",
) -> DataFrame:
    """Pure relational core of the merge: combine target and source by
    the reference's key semantics WITHOUT touching storage — null-safe
    key equality, last-row-wins source dedup
    (`pydala/dataset.py:1549-1777`). ``merge`` applies the same
    semantics file-selectively; this form is the oracle-checkable one.

    - ``insert``: target ∪ (source rows whose keys are absent);
    - ``update``: matched target rows replaced by source, unmatched kept;
    - ``upsert``: update + insert.
    """
    if strategy not in VALID_STRATEGIES:
        raise ValueError(f"invalid merge strategy {strategy!r}; choose from {VALID_STRATEGIES}")
    src = source.withColumn(_BATCH, F.lit(0)).withColumn(_ORD, F.monotonically_increasing_id())
    deduped = _dedup_last_wins(src, keys).select(*target.columns)
    if strategy == "insert":
        new_rows = deduped.join(target.select(*keys), on=_null_safe_cond(deduped, target, keys), how="left_anti")
        return target.unionByName(new_rows)
    survivors = target.join(
        deduped.select(*keys), on=_null_safe_cond(target, deduped, keys), how="left_anti"
    )
    if strategy == "update":
        replacements = deduped.join(
            target.select(*keys), on=_null_safe_cond(deduped, target, keys), how="left_semi"
        )
        return survivors.unionByName(replacements)
    return survivors.unionByName(deduped)  # upsert


def _scd2_delta(
    history: DataFrame,
    source: DataFrame,
    keys: list[str],
    ts,
    tracked: list[str],
    valid_from: str,
    valid_to: str,
) -> DataFrame:
    """The SCD2 change set for one batch: closed-out versions of open
    rows whose tracked attributes differ from the source, plus new
    current rows for changed or unseen keys. Unchanged keys produce
    nothing. Output columns = history columns: attributes OUTSIDE
    ``tracked`` never trigger a change and carry forward from the
    closed row into the new version (NULL for brand-new keys).

    One shuffle: source × current-rows join on the keys (source side
    broadcast-gated by the caller's join planner). The delta is
    batch-sized, never history-sized.
    """
    vf_type = dict(history.dtypes)[valid_from]
    vt_type = dict(history.dtypes)[valid_to]
    untracked = [
        c for c in history.columns
        if c not in (*keys, *tracked, valid_from, valid_to)
    ]

    src = source.withColumn(_BATCH, F.lit(0)).withColumn(_ORD, F.monotonically_increasing_id())
    src = _dedup_last_wins(src, keys).select(*keys, *tracked).alias("s")
    cur = (
        history.filter(F.col(valid_to).isNull())
        .select(*keys, *tracked, *untracked, valid_from, F.lit(True).alias("__has_cur"))
        .alias("c")
    )

    cond = None
    for k in keys:
        e = F.col(f"s.{k}").eqNullSafe(F.col(f"c.{k}"))
        cond = e if cond is None else (cond & e)
    diff = None
    for t in tracked:
        e = ~F.col(f"s.{t}").eqNullSafe(F.col(f"c.{t}"))
        diff = e if diff is None else (diff | e)

    affected = src.join(cur, on=cond, how="left").filter(
        F.col("c.__has_cur").isNull() | (diff if diff is not None else F.lit(False))
    )

    new_rows = affected.select(
        *[F.col(f"s.{k}").alias(k) for k in keys],
        *[F.col(f"s.{t}").alias(t) for t in tracked],
        # untracked attrs carry forward (left join → NULL for new keys)
        *[F.col(f"c.{u}").alias(u) for u in untracked],
        F.lit(ts).cast(vf_type).alias(valid_from),
        F.lit(None).cast(vt_type).alias(valid_to),
    )
    closed = affected.filter(F.col("c.__has_cur").isNotNull()).select(
        *[F.col(f"s.{k}").alias(k) for k in keys],
        *[F.col(f"c.{t}").alias(t) for t in tracked],  # historic values
        *[F.col(f"c.{u}").alias(u) for u in untracked],
        F.col(f"c.{valid_from}").alias(valid_from),
        F.lit(ts).cast(vt_type).alias(valid_to),
    )
    return closed.unionByName(new_rows).select(*history.columns)


def scd2_frames(
    history: DataFrame,
    source: DataFrame,
    keys: list[str],
    ts,
    tracked: list[str] | None = None,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Pure relational SCD2 (slowly-changing-dimension type 2) apply:
    given a history frame (``keys + tracked + valid_from + valid_to``,
    open rows have NULL ``valid_to``) and a source batch of current
    attribute values at time ``ts``, return the new history.

    Semantics (null-safe everywhere, like the keyed merge above):

    - key unseen in history        → new open row at ``ts``;
    - tracked attrs changed        → open row closed at ``ts`` (its
      historic values preserved) + new open row at ``ts``;
    - tracked attrs identical      → untouched;
    - keys absent from the source  → untouched (no implicit deletes).

    The reference's merge stops at upsert (`pydala/dataset.py:
    1549-1777`) — SCD2 is the history-keeping extension a training-
    data lineage store needs (which sample used which version of a
    document). Implemented BY the same upsert: the change set keys on
    ``(keys..., valid_from)``, so closing a row is an update and the
    new version is an insert — one machinery, audited once.
    """
    tracked = tracked or [
        c for c in history.columns if c not in (*keys, valid_from, valid_to)
    ]
    _validate_keys(keys, history.columns, "history")
    _validate_keys(tracked, source.columns, "source")
    # the delta is referenced twice by the upsert below (anti-join
    # probe + union); it is batch-sized, so materializing it once is
    # cheap at any scale and stops its source×current join from
    # running per branch. History itself stays lazy: at 100 TB a
    # second scan beats a full materialized copy, and chained
    # in-memory applies should materialize between batches themselves.
    delta = materialize(_scd2_delta(history, source, keys, ts, tracked, valid_from, valid_to))
    return merge_frames(history, delta, keys=[*keys, valid_from], strategy="upsert")


def merge_scd2(
    spark: SparkSession,
    target_path: str,
    source: Any,
    key_columns: list[str],
    ts,
    tracked: list[str] | None = None,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    **merge_kwargs,
) -> MergeResult:
    """Storage form of :func:`scd2_frames`: applies one SCD2 batch to a
    path-addressed dataset via the file-selective keyed merge — only
    files holding a changed key's open row are rewritten; new versions
    append. On a missing/empty target every source row becomes an open
    row at ``ts``.

    ``ts`` must be strictly greater than any previously applied batch's
    (monotone batch clock); equal timestamps would collide on the
    ``(key, valid_from)`` upsert key.
    """
    from pydala2_spark.plans.fs import list_files, path_exists
    from pydala2_spark.sources.writer import to_spark_df

    src = to_spark_df(spark, source)
    exists = path_exists(spark, target_path) and bool(list_files(spark, target_path))
    if not exists:
        tracked = tracked or [c for c in src.columns if c not in key_columns]
        first = src.select(*key_columns, *tracked, F.lit(ts).alias(valid_from))
        # valid_to mirrors valid_from's type (whatever ts's literal is)
        vf_type = first.schema[valid_from].dataType.simpleString()
        first = first.withColumn(valid_to, F.lit(None).cast(vf_type))
        return merge(
            spark,
            target_path,
            first,
            "upsert",
            key_columns=[*key_columns, valid_from],
            **merge_kwargs,
        )

    history = spark.read.parquet(target_path)
    tracked = tracked or [
        c for c in history.columns if c not in (*key_columns, valid_from, valid_to)
    ]
    delta = _scd2_delta(history, src, key_columns, ts, tracked, valid_from, valid_to)
    return merge(
        spark,
        target_path,
        delta,
        "upsert",
        key_columns=[*key_columns, valid_from],
        **merge_kwargs,
    )


def merge(
    spark: SparkSession,
    target_path: str,
    source: Any,
    strategy: str = "upsert",
    key_columns: list[str] | None = None,
    partition_by: list[str] | None = None,
    alter_schema: bool = False,
    compression: str = "zstd",
    max_rows_per_file: int = 10_000_000,
) -> MergeResult:
    from pydala2_spark.errors import PartialMergeError
    from pydala2_spark.plans.fs import decoded_path, list_files, partition_columns, path_exists
    from pydala2_spark.sources.writer import cast_to_schema, parquet_writer, replace_files

    if strategy not in VALID_STRATEGIES:
        raise ValueError(f"invalid merge strategy {strategy!r}; choose from {VALID_STRATEGIES}")
    if key_columns is not None and len(key_columns) == 0:
        raise ValueError("key_columns must be None (infer) or a non-empty list")

    src = _normalize_source(spark, source)
    src_cols = [c for c in src.columns if c not in (_BATCH, _ORD)]

    # one listing serves the existence check AND the pre-merge file
    # set below — nothing writes to the target in between
    files_at_entry = (
        list_files(spark, target_path) if path_exists(spark, target_path) else []
    )
    if files_at_entry and not partition_by:
        partition_by = partition_columns(spark, target_path, files_at_entry) or None

    # -- missing / empty target: every strategy but update inserts all ---
    if not files_at_entry:
        with job_description(spark, "merge: source"):
            source_count = src.count()
        result = MergeResult(strategy=strategy, source_count=source_count)
        if strategy == "update" or source_count == 0:
            return result
        keys = key_columns or src_cols
        _validate_keys(keys, src_cols, "source")
        deduped = _dedup_last_wins(src, keys)
        with job_description(spark, "merge: source"):
            result.inserted = deduped.count()
        with job_description(spark, "merge: insert"):
            parquet_writer(
                deduped, "append", compression, max_rows_per_file, partition_by
            ).parquet(target_path)
        result.inserted_files = list_files(spark, target_path)
        result.target_count_after = result.inserted
        return result

    with job_description(spark, "merge: discovery"):
        target = spark.read.parquet(target_path)
    target_cols = target.columns

    def unchanged() -> MergeResult:
        with job_description(spark, "merge: discovery"):
            n = target.count()
        return MergeResult(
            strategy=strategy,
            target_count_before=n,
            target_count_after=n,
            preserved_files=files_at_entry,
        )

    keys = key_columns or [c for c in src_cols if c in target_cols]
    try:
        if not keys:
            raise ValueError(f"source columns {src_cols} share no column with the target")
        _validate_keys(keys, src_cols, "source")
        _validate_keys(keys, target_cols, "target")
    except ValueError:
        with job_description(spark, "merge: source"):
            if not src.isEmpty():
                raise
        return unchanged()  # an empty source is a no-op whatever its keys

    # -- source job: conform to the target schema, dedup, materialize ----
    # cast common columns to target types, add typed nulls for missing
    # ones, keep extra source columns only under alter_schema, and keep
    # the ordering columns through the cast. The raw row count is
    # observed before the dedup window, in the same job.
    extra_cols = [c for c in src_cols if c not in target_cols] if alter_schema else []
    src_conformed = cast_to_schema(src, target.schema, alter_schema=True).select(
        *target_cols, *extra_cols, _BATCH, _ORD
    )
    raw = Observation()
    deduped, n_deduped = materialize_counted(
        _dedup_last_wins(src_conformed.observe(raw, F.count(F.lit(1)).alias("n")), keys),
        "merge: source",
    )
    source_count = int(raw.get["n"])
    if source_count == 0:
        return unchanged()
    if extra_cols:
        target = target.select(
            "*", *[F.lit(None).cast(dict(deduped.dtypes)[c]).alias(c) for c in extra_cols]
        )
        target_cols = target.columns

    # -- discovery job: the matched target rows, materialized ------------
    # _FILE keeps Spark's URI-encoded spelling (no per-row decode on the
    # target scan); the few collected names decode to the listing's
    # spelling before any filesystem call or listing comparison
    tagged = target.withColumn(_FILE, F.col("_metadata.file_path"))
    # partition columns outside the key can move under an update: the
    # source side carries them, renamed, into the same join
    moved_cols = (
        [c for c in partition_by or [] if c not in keys] if strategy != "insert" else []
    )
    alias = {c: f"__s{i}" for i, c in enumerate([*keys, *moved_cols])}

    def same(cols: list[str]) -> Column:
        return reduce(Column.__and__, [F.col(c).eqNullSafe(F.col(alias[c])) for c in cols])

    def renamed(df: DataFrame, cols: list[str]) -> DataFrame:
        return df.select(*[F.col(c).alias(alias[c]) for c in cols])

    key_cond = same(keys)
    # the broadcast is ALWAYS on the source side (merge batches are small
    # relative to the target at scale) and size-gated, so a huge
    # backfill batch degrades to a shuffle join instead of OOMing the
    # driver. The target count is observed on the scan, so the one
    # target pass also sizes it. The eager checkpoint pins the
    # PRE-append match: the appends below trigger refreshByPath, which
    # would re-resolve a lazy plan against the new file list.
    scanned = Observation()
    matched, found = materialize_observed(
        tagged.select(*keys, *moved_cols, _FILE)
        .observe(scanned, F.count(F.lit(1)).alias("n"))
        .join(_hint_small(renamed(deduped, list(alias)), n_deduped), key_cond, "inner")
        .select(*keys, _FILE, (~same(moved_cols) if moved_cols else F.lit(False)).alias("__moved")),
        "merge: discovery",
        rows=F.count(F.lit(1)),
        moved=F.count(F.when(F.col("__moved"), 1)),
        files=F.collect_set(_FILE),
    )
    target_count_before = int(scanned.get["n"])
    # -- partition immutability guard ------------------------------------
    if found["moved"]:
        raise ValueError(
            f"update would change partition column(s) {partition_by} for {found['moved']} "
            "matched row(s); partition columns are immutable under merge"
        )
    raw_files = sorted(found["files"]) if strategy != "insert" else []
    matched_files = [decoded_path(f) for f in raw_files]

    # -- split: each distinct matched key is one deduped source row ------
    matched_keys = 0
    if found["rows"]:
        with job_description(spark, "merge: split"):
            matched_keys = matched.select(*keys).distinct().count()
    updated = matched_keys if strategy != "insert" else 0
    inserted = n_deduped - matched_keys if strategy != "update" else 0
    result = MergeResult(
        strategy=strategy,
        source_count=source_count,
        inserted=inserted,
        updated=updated,
        target_count_before=target_count_before,
        target_count_after=target_count_before,
    )

    # the semi/anti joins read the checkpoint's keys: bounded by the
    # source batch, so the broadcast stays on the small side
    mkeys = _hint_small(renamed(matched, keys), found["rows"])
    # built before any write: the rewrite's plan reads the pre-merge
    # file set (the DataFrame's FileIndex was pinned at load)
    replacement = (
        _filter_to_files(tagged, raw_files)
        .join(mkeys, key_cond, "left_anti")
        .drop(_FILE)
        .unionByName(deduped.join(mkeys, key_cond, "left_semi").select(*target_cols))
        if updated
        else None
    )

    # Inserts append first, the rewrite deletes the replaced files
    # last. A failure after the insert append raises PartialMergeError
    # carrying this result, so the caller can finish (or undo) the
    # mutation deliberately. The entry listing is still current:
    # nothing has written to the target since the existence check.
    files_after_inserts = files_at_entry
    if inserted:
        try:
            with job_description(spark, "merge: insert"):
                parquet_writer(
                    deduped.join(mkeys, key_cond, "left_anti").select(*target_cols),
                    "append",
                    compression,
                    max_rows_per_file,
                    partition_by,
                ).parquet(target_path)
            files_after_inserts = list_files(spark, target_path)
        except Exception as e:
            raise PartialMergeError(
                f"merge mutated {target_path!r} but failed before completing: {e}",
                merge_result=result,
            ) from e
        before = set(files_at_entry)
        result.inserted_files = [f for f in files_after_inserts if f not in before]

    # -- rewrite matched files: (their unmatched rows) ∪ (matched source)
    if replacement is not None:
        with job_description(spark, "merge: rewrite"):
            result.rewritten_files = replace_files(
                replacement,
                target_path,
                matched_files,
                "merge",
                partition_by,
                compression,
                max_rows_per_file,
                listing=files_after_inserts,
                merge_result=result,
            )

    matched_set = set(matched_files)
    result.preserved_files = [f for f in files_at_entry if f not in matched_set]
    # the rewrite collapses every matched target row (duplicates
    # included — plain appends can leave several rows per key) into one
    # source row, so the post-merge count subtracts what matched
    result.target_count_after = (
        target_count_before - (found["rows"] if updated else 0) + updated + inserted
    )
    return result


def _validate_keys(keys: list[str], cols: list[str], side: str) -> None:
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"key column(s) {missing} not present in {side} columns {cols}")


def delete_where(
    spark: SparkSession,
    target_path: str,
    predicate: str | Column,
    partition_by: list[str] | None = None,
    compression: str = "zstd",
    max_rows_per_file: int = 10_000_000,
) -> dict:
    """Row-level predicate DELETE with file-selective rewrite — the
    managed-dataset counterpart of SQL ``DELETE FROM t WHERE p``.

    Semantics: rows where ``predicate`` is TRUE are removed; rows
    where it is FALSE **or NULL** survive (the SQL DELETE rule —
    three-valued logic never deletes on unknown). Only files that
    actually CONTAIN a matching row are rewritten; the predicate
    reaches the parquet scan, so min/max row-group pruning skips
    non-matching files without reading data. Untouched files keep
    their names — time travel over snapshots and downstream file-based
    caches stay valid for them.

    Shares its core, :func:`_rewrite_where`, with :func:`update_where`
    and its failure contract with every file rewrite
    (:func:`pydala2_spark.sources.writer.replace_files`): replacements
    append BEFORE originals delete; a failure after the append raises
    :class:`~pydala2_spark.errors.PartialMergeError` whose
    ``pending_deletes`` completes the operation.

    Reference analogue: none — pydala2 deletes whole files/datasets
    (`pydala/dataset.py` vacuum/delete); row-level delete is part of
    the managed-table surface users expect from Delta/Iceberg.

    100 TB shape: one pushed-down scan finds touched files, one scan
    of ONLY those files writes replacements; cost scales with the data
    under the predicate, not the dataset. Returns a dict with
    ``deleted_rows``, ``matched_files``, ``rewritten_files``,
    ``preserved_files``.
    """
    return _rewrite_where(
        spark, target_path, predicate, None, partition_by, compression, max_rows_per_file
    )


def _delete_discovery(tagged: DataFrame, pred: Column) -> DataFrame:
    """The touched-row frame the row-level DML scans: TRUE-only match
    (coalesce keeps NULL-predicate rows alive) over the file-tagged
    target. Factored out so plan tests exercise the REAL discovery
    expression, not a re-implementation."""
    return tagged.filter(F.coalesce(pred, F.lit(False)))


def update_where(
    spark: SparkSession,
    target_path: str,
    predicate: str | Column,
    set: dict[str, "str | Column"],
    partition_by: list[str] | None = None,
    compression: str = "zstd",
    max_rows_per_file: int = 10_000_000,
) -> dict:
    """Row-level predicate UPDATE with file-selective rewrite — the
    managed-dataset counterpart of SQL ``UPDATE t SET c = e WHERE p``.
    One core with :func:`delete_where` (:func:`_rewrite_where`: same
    discovery, same failure contract, same file economics); only the
    replacement rows differ.

    Semantics: rows where ``predicate`` is TRUE take the ``set``
    assignments (expressions may reference the row's OLD values, all
    assignments evaluate against the pre-update row — SQL UPDATE
    rules); rows where it is FALSE **or NULL** are byte-preserved.
    Only files CONTAINING a matching row rewrite; untouched files keep
    their names, so snapshots and file-based caches stay valid.

    Reference analogue: none — pydala2 updates by whole-key merge
    (`pydala/dataset.py` upsert); predicate UPDATE is managed-table
    surface users expect from Delta/Iceberg.

    Returns ``updated_rows`` / ``matched_files`` / ``rewritten_files``
    / ``preserved_files``.
    """
    if not set:
        raise ValueError("update_where needs at least one SET assignment")
    return _rewrite_where(
        spark, target_path, predicate, set, partition_by, compression, max_rows_per_file
    )


def _rewrite_where(
    spark: SparkSession,
    target_path: str,
    predicate: str | Column,
    assigns: dict | None,
    partition_by: list[str] | None,
    compression: str,
    max_rows_per_file: int,
) -> dict:
    """The row-level DML core: a DELETE when ``assigns`` is None, an
    UPDATE otherwise. One listing, one grouped collect over the
    discovery frame (touched files and the row count together), one
    rewrite of only the touched files through ``replace_files``."""
    from pydala2_spark.plans.fs import decoded_path, list_files, partition_columns, path_exists
    from pydala2_spark.sources.writer import replace_files

    op, count_key = (
        ("delete_where", "deleted_rows") if assigns is None else ("update_where", "updated_rows")
    )
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    all_before = (
        list_files(spark, target_path) if path_exists(spark, target_path) else []
    )
    untouched = {
        count_key: 0,
        "matched_files": [],
        "rewritten_files": [],
        "preserved_files": all_before,
    }
    if not all_before:
        return untouched
    if partition_by is None:
        partition_by = partition_columns(spark, target_path, all_before) or None

    target = spark.read.parquet(target_path)
    missing = [c for c in assigns or [] if c not in target.columns]
    if missing:
        raise ValueError(f"SET columns not in target: {missing}")
    tagged = target.withColumn(_FILE, F.col("_metadata.file_path"))
    # ONE job yields both the touched-file set and the row count
    # (per-file partial counts collapse map-side; the predicate is
    # pushed to the scan, so min/max row-group pruning skips clean
    # files without reading data)
    per_file = _delete_discovery(tagged, pred).groupBy(_FILE).count().collect()
    if not per_file:
        return untouched
    raw_files = [r[_FILE] for r in per_file]
    matched_files = [decoded_path(f) for f in raw_files]
    rewritten = replace_files(
        _replacement(_filter_to_files(tagged, raw_files), pred, assigns, [_FILE]),
        target_path,
        matched_files,
        op,
        partition_by,
        compression,
        max_rows_per_file,
        listing=all_before,
    )
    matched_set = frozenset(matched_files)
    return {
        count_key: int(sum(r["count"] for r in per_file)),
        "matched_files": matched_files,
        "rewritten_files": rewritten,
        "preserved_files": [f for f in all_before if f not in matched_set],
    }
