"""Writer — normalization pipeline + physical parquet/csv/json write.

Capability parity with the reference's ``Writer.prepare`` /
``Writer.write_to_dataset`` (`/root/reference/pydala/io.py:125-523,
533-664`): normalize the input family, cast to a target schema, sort,
dedup, derive date-part partition columns, then write hive-partitioned
zstd parquet with bounded file sizes.

Spark-first realization:
- input families → ``spark.createDataFrame`` (Arrow path) + ``unionByName``
  for list-of-batches;
- sort before write → ``sortWithinPartitions`` (no global shuffle; files
  are locally ordered, which is what row-group min/max pruning wants);
- ``max_rows_per_file`` → ``spark.sql.files.maxRecordsPerFile`` option;
- overwrite of partitioned data → dynamic partition overwrite (only the
  partitions present in the batch are replaced), the job-level analogue
  of the reference's write-new-then-delete-old (`pydala/dataset.py:995-1003`).

Every other module writes parquet through the functions below:
:func:`parquet_writer` (mode, compression, ``maxRecordsPerFile``,
``partitionBy``); :func:`replace_files`, the one rewrite step that
row DML, merge and compaction share — append the replacement, then
delete the replaced files, with one partial-failure contract; and
:func:`publish_staged`, the one stage-and-move publish that appends
and snapshot commits share.

At 100 TB the same code holds: the write is a distributed job, file
sizing is per-task, and derived date-part partition columns give
partition pruning on every later time-ranged query.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterable

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pydala2_spark.errors import PartialMergeError
from pydala2_spark.functions.dateparts import DATEPART_EXPRS, with_datepart_columns
from pydala2_spark.functions.sortspec import SortSpec, to_sort_columns

if TYPE_CHECKING:  # pragma: no cover
    from pydala2_spark.operators.merge import MergeResult

DEFAULT_MAX_ROWS_PER_FILE = 10_000_000  # reference default, pydala/dataset.py:886
DEFAULT_COMPRESSION = "zstd"  # reference default, pydala/dataset.py:888


def parquet_writer(
    df: DataFrame,
    mode: str = "error",
    compression: str = DEFAULT_COMPRESSION,
    max_rows_per_file: int | None = None,
    partition_by: list[str] | None = None,
) -> DataFrameWriter:
    """The parquet write builder: ``mode`` + ``compression``, a
    per-file row cap when ``max_rows_per_file`` is set, and hive
    ``partitionBy`` when ``partition_by`` is non-empty. The caller
    ends it with ``.parquet(path)`` or ``.save(path)``."""
    w = df.write.format("parquet").mode(mode).option("compression", compression)
    if max_rows_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_rows_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w


def replace_files(
    df: DataFrame,
    path: str,
    replaced: list[str],
    op: str,
    partition_by: list[str] | None = None,
    compression: str = DEFAULT_COMPRESSION,
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    listing: list[str] | None = None,
    merge_result: "MergeResult | None" = None,
) -> list[str]:
    """Replace the files ``replaced`` under ``path`` by ``df``'s rows:
    append ``df``, then delete ``replaced`` — the reference's
    write-new-then-delete-old order (`pydala/dataset.py:995-1003`).
    ``df``'s plan must have been built over the pre-append file set,
    which is what readers pinned to the old listing keep seeing until
    the delete.

    With ``listing`` (the target's files before the append), the target
    is listed once after the append and the files it wrote are
    returned; without it nothing is listed and ``[]`` is returned.

    Failure contract (``op`` names the mutation in the message):
    :class:`~pydala2_spark.errors.PartialMergeError` carrying
    ``merge_result`` (with its ``rewritten_files`` set once the append
    is listed) and ``pending_deletes``:

    - the append fails → nothing is pending (Spark's committer stages
      job output in ``_temporary``, so a failed append publishes no
      file);
    - anything fails after the append → every replaced file is pending;
    - the delete reports fewer removals than asked (``fs.delete``
      returning False is otherwise silent: the replaced file stays
      next to its replacement and its rows are duplicated) → each
      replaced file is re-checked and the ones still present are
      pending.

    Deleting ``pending_deletes`` completes the mutation.
    """
    # looked up per call, so a patched plans.fs (tests, perfbench's
    # fs tracing) takes effect here
    from pydala2_spark.plans.fs import delete_paths, list_files, path_exists

    spark = df.sparkSession
    appended = False
    try:
        parquet_writer(df, "append", compression, max_rows_per_file, partition_by).parquet(path)
        appended = True
        written: list[str] = []
        if listing is not None:
            before = frozenset(listing)
            written = [f for f in list_files(spark, path) if f not in before]
            if merge_result is not None:
                merge_result.rewritten_files = written
        deleted = delete_paths(spark, replaced)
    except Exception as e:
        raise PartialMergeError(
            f"{op} mutated {path!r} but failed before completing: {e}",
            merge_result=merge_result,
            pending_deletes=replaced if appended else [],
        ) from e
    if deleted != len(replaced):
        still = [f for f in replaced if path_exists(spark, f)]
        if still:
            raise PartialMergeError(
                f"{op} rewrote {path!r} but {len(still)} replaced file(s) "
                f"could not be deleted",
                merge_result=merge_result,
                pending_deletes=still,
            )
    return written


def publish_staged(spark: SparkSession, w: DataFrameWriter, root: str) -> list[str]:
    """Save ``w`` into a hidden staging dir under ``root``, move each
    staged file to the same relative path under ``root``, and return
    the root-relative paths published — the one publish step of
    appends (:meth:`Writer.write`) and snapshot commits
    (``plans/snapshots``).

    A failed save leaves data only under ``_staging_<token>`` (readers
    skip ``_``-prefixed paths); it is deleted and the save retried
    once, so a retry can never double-append (the failure mode of a
    naive save-again retry). The moves are renames of names, not data:
    one listing of the staging dir, one ``mkdirs`` per distinct
    partition directory, one rename per file. If a move fails,
    :class:`~pydala2_spark.errors.PartialWriteError` carries the files
    already moved and the staging dir still holding the rest
    (reference contract, `pydala/io.py:41-55`).
    """
    import posixpath
    import uuid

    from pydala2_spark.errors import PartialWriteError
    from pydala2_spark.plans.fs import delete_paths, list_files, mkdirs, rename

    root = root.rstrip("/")
    token = uuid.uuid4().hex[:12]
    staging = f"{root}/_staging_{token}"
    # error mode: a retry never saves into a half-written staging dir
    w = w.mode("error")
    for attempt in (1, 2):
        try:
            w.save(staging)
            break
        except Exception:
            delete_paths(spark, [staging])
            if attempt == 2:
                raise
    published: list[str] = []
    try:
        sep = f"/_staging_{token}/"
        moves = [(f, f.split(sep, 1)[1]) for f in list_files(spark, staging)]
        for d in sorted({posixpath.dirname(rel) for _, rel in moves} - {""}):
            mkdirs(spark, f"{root}/{d}")
        for f, rel in moves:
            if not rename(spark, f, f"{root}/{rel}"):
                raise IOError(f"rename failed: {f} -> {root}/{rel}")
            published.append(rel)
    except Exception as e:
        raise PartialWriteError(
            f"staged write to {root!r} failed during publish: {e}",
            files=[f"{root}/{rel}" for rel in published],
            staging_dir=staging,
        ) from e
    delete_paths(spark, [staging])
    return published


def to_spark_df(spark: SparkSession, data: Any) -> DataFrame:
    """Normalize the reference's accepted input families to a DataFrame.

    Accepted (`pydala/dataset.py:865-882`, `pydala/io.py:114-122`):
    Spark DataFrame, pandas DataFrame, pyarrow Table/RecordBatch/
    RecordBatchReader, list/tuple of any of those (= one logical batch).
    """
    import pandas as pd
    import pyarrow as pa

    if isinstance(data, DataFrame):
        return data
    if isinstance(data, (list, tuple)):
        parts = [to_spark_df(spark, d) for d in data]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out
    if isinstance(data, pa.RecordBatchReader):
        data = data.read_all()
    if isinstance(data, pa.RecordBatch):
        data = pa.Table.from_batches([data])
    if isinstance(data, pa.Table):
        # normalize large_string/large_binary like the reference
        # (`pydala/schema.py:14`, applied at io.py:344) — Spark's Arrow
        # schema conversion folds them; carrying the schema explicitly
        # also keeps empty batches typed (no inference on zero rows).
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = from_arrow_schema(data.schema)
        return spark.createDataFrame(data.to_pandas(), schema=schema)
    if isinstance(data, pd.DataFrame):
        return spark.createDataFrame(data)
    for attr in ("to_arrow", "to_arrow_table", "arrow"):  # polars / duckdb relations
        if hasattr(data, attr):
            return to_spark_df(spark, getattr(data, attr)())
    if hasattr(data, "collect"):  # polars LazyFrame
        return to_spark_df(spark, data.collect())
    raise TypeError(f"unsupported input type: {type(data)!r}")


def cast_to_schema(
    df: DataFrame,
    target: T.StructType,
    alter_schema: bool = False,
) -> DataFrame:
    """Conform ``df`` to ``target``: missing columns become typed nulls,
    extra columns are dropped unless ``alter_schema``, matching columns
    are cast (`pydala/schema.py:230-293` semantics)."""
    existing = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in existing:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    if alter_schema:
        for f in df.schema.fields:
            if f.name not in {t.name for t in target.fields}:
                cols.append(F.col(f.name))
    return df.select(*cols)


class Writer:
    def __init__(self, spark: SparkSession, path: str, format: str = "parquet") -> None:
        self.spark = spark
        self.path = str(path)
        self.format = format

    # -- prepare: the normalization pipeline -----------------------------

    def prepare(
        self,
        data: Any,
        schema: T.StructType | None = None,
        alter_schema: bool = False,
        sort_by: SortSpec = None,
        unique: bool | list[str] = False,
        partition_by: list[str] | None = None,
        timestamp_column: str | None = None,
        ts_unit: str | None = None,  # accepted for API parity; Spark is µs-native
    ) -> tuple[DataFrame, list[str] | None]:
        """Run the reference's prepare pipeline order
        (`pydala/io.py:381-437`): normalize → cast schema → derive
        date-part partition columns → dedup → (sort applied at write).
        Returns (df, partition_columns)."""
        df = to_spark_df(self.spark, data)

        if schema is not None:
            df = cast_to_schema(df, schema, alter_schema=alter_schema)

        partition_cols: list[str] | None = None
        if partition_by:
            partition_cols = list(partition_by)
            missing = [c for c in partition_cols if c not in df.columns]
            derivable = [c for c in missing if c in DATEPART_EXPRS]
            if derivable:
                if not timestamp_column:
                    ts_fields = [
                        f.name
                        for f in df.schema.fields
                        if f.dataType.typeName().startswith("timestamp")
                    ]
                    if not ts_fields:
                        raise ValueError(
                            f"cannot derive partition columns {derivable} without a timestamp column"
                        )
                    timestamp_column = ts_fields[0]
                df = with_datepart_columns(df, timestamp_column, derivable)
            still_missing = [c for c in partition_cols if c not in df.columns]
            if still_missing:
                raise ValueError(f"partition columns not in data: {still_missing}")

        if unique:
            subset = unique if isinstance(unique, list) else None
            df = df.dropDuplicates(subset) if subset else df.dropDuplicates()

        return df, partition_cols

    # -- execute: the physical write -------------------------------------

    def write(
        self,
        data: Any,
        mode: str = "append",
        schema: T.StructType | None = None,
        alter_schema: bool = False,
        sort_by: SortSpec = None,
        unique: bool | list[str] = False,
        partition_by: list[str] | None = None,
        timestamp_column: str | None = None,
        max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
        compression: str = DEFAULT_COMPRESSION,
        target_file_count: int | None = None,
        bloom_filter_columns: list[str] | None = None,
        bloom_filter_ndv: "int | dict[str, int] | None" = None,
        **_: Any,
    ) -> None:
        if mode not in ("append", "overwrite", "error", "ignore"):
            raise ValueError(f"invalid write mode {mode!r}")
        df, partition_cols = self.prepare(
            data,
            schema=schema,
            alter_schema=alter_schema,
            sort_by=sort_by,
            unique=unique,
            partition_by=partition_by,
            timestamp_column=timestamp_column,
        )
        if target_file_count:
            df = (
                df.repartition(target_file_count, *partition_cols)
                if partition_cols
                else df.repartition(target_file_count)
            )
        if sort_by:
            # local order inside each output file → tight row-group
            # min/max stats for later pruning; no global shuffle.
            df = df.sortWithinPartitions(*to_sort_columns(sort_by))

        w = df.write.format(self.format).option("maxRecordsPerFile", str(max_rows_per_file))
        if self.format == "parquet":
            w = w.option("compression", compression)
            # NATIVE parquet bloom filters: written into each
            # row group's metadata, so ANY parquet reader (Spark,
            # DuckDB, Trino) prunes row groups on point lookups —
            # the in-file complement to plans/bloom.py's per-FILE
            # sidecars (those skip whole files without opening
            # them; these skip row groups inside opened files).
            # expected.ndv sizes the filter (default 1M NDV writes
            # ~1 MiB per column per row group — pass the real
            # cardinality to shrink it ~NDV/1M-fold)
            for c in bloom_filter_columns or []:
                w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
                ndv = (
                    bloom_filter_ndv.get(c)
                    if isinstance(bloom_filter_ndv, dict)
                    else bloom_filter_ndv
                )
                if ndv:
                    w = w.option(f"parquet.bloom.filter.expected.ndv#{c}", str(int(ndv)))
        if self.format == "csv":
            w = w.option("header", "true")
        if partition_cols:
            w = w.partitionBy(*partition_cols)

        # Retry policy (reference retries dataset writes x2,
        # `pydala/io.py:624-664`), made IDEMPOTENT per mode:
        # - overwrite: re-running is a full replace → one retry;
        # - ignore: retried ONLY if the path pre-existed (then the
        #   retry's no-op is the correct outcome anyway). If the path
        #   did NOT pre-exist, the failed first attempt itself created
        #   it (the committer mkdirs the target), so SaveMode.Ignore
        #   would see "exists" and silently no-op — reporting success
        #   with no (or partial) data. Re-raise instead;
        # - error: never retried — after a failed first attempt the
        #   path may exist, and the retry would bury the real error
        #   under path-already-exists;
        # - append: staged (publish_staged) — a naive re-run after a
        #   partial commit would double-append.
        from pyspark.errors import AnalysisException

        from pydala2_spark.plans.fs import path_exists

        if mode == "append":
            publish_staged(self.spark, w, self.path)
            return
        pre_existing = mode == "ignore" and path_exists(self.spark, self.path)
        w = w.mode(mode)
        try:
            w.save(self.path)
        except AnalysisException:
            raise  # deterministic (schema/path) — retrying can't help
        except Exception:
            if mode == "error":
                raise
            if mode == "ignore" and not pre_existing:
                raise
            w.save(self.path)

    execute = write


# -- bucketed write (co-located joins) --------------------------------


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str] | str,
    num_buckets: int = 32,
    path: str | None = None,
    sort_by: SortSpec = None,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) table so later
    equi-joins / aggregations on ``bucket_by`` skip their shuffle.

    The reference has no co-location concept — every pydala join pays
    DuckDB's hash repartition each run. Bucketing is the Spark-native
    amortization: pay one shuffle at write time, then every join
    between two tables bucketed on the same key with the same bucket
    count is exchange-free (and sort-free if ``sort_by`` covers the
    join key). At 100 TB this is the difference between re-shuffling
    the fact table per query and never shuffling it.

    Bucketing metadata lives in the session catalog, so reads must go
    through ``spark.table(table)`` — reading the parquet path directly
    loses the bucket spec. ``path`` makes it an external table (data
    survives catalog loss; re-register with the same spec to restore
    co-location).
    """
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = df.write.format(format).mode(mode).bucketBy(num_buckets, *cols)
    w = w.sortBy(*to_sort_columns_names(sort_by) if sort_by else cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def to_sort_columns_names(sort_by: SortSpec) -> list[str]:
    """Column names only (bucket sortBy takes names, not expressions)."""
    if isinstance(sort_by, str):
        return [s.strip().split()[0] for s in sort_by.split(",")]
    return [s if isinstance(s, str) else s[0] for s in sort_by]
