"""Dataset facade — path-addressed datasets with a DataFrame-first API.

Capability parity with the reference's dataset classes
(`/root/reference/pydala/dataset.py:310-405` BaseDataset,
`:1010-1098` ParquetDataset, `:2656-2700` CSVDataset,
`:2750-2774` JSONDataset, `:2606-2653` PyarrowDataset) and its
dual-backend `PydalaTable` (`/root/reference/pydala/table.py:15-51`).

Design (Spark-first, not a port):
- A Dataset is identity (path + format + options); ``.df`` is the lazy
  DataFrame. All query verbs (`filter`, `select`, `sort`, `distinct`,
  `limit`, `sql`) return DataFrames and compile to one Catalyst plan, so
  predicate pushdown / partition pruning / column pruning replace the
  reference's metadata-sidecar file pruning (`pydala/dataset.py:1200-1246`).
- The reference's pyarrow/duckdb/polars routing (`pydala/table.py:68-120`)
  collapses: one engine. Export verbs (`to_pandas`, `to_arrow`,
  `to_duckdb`) cover its conversion surface via Arrow.
- Writes go through :class:`pydala2_spark.sources.writer.Writer`, which
  reproduces the normalization pipeline (sort → dedup → schema cast →
  derived date-part partitions) of `pydala/io.py:381-437`.
"""

from __future__ import annotations

import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydala2_spark.functions.sortspec import SortSpec, to_sort_columns


class BaseDataset:
    """A path-addressed dataset of files in one format.

    Parameters mirror the reference's ``BaseDataset`` where they still
    make sense on Spark; filesystem objects are replaced by Hadoop FS
    URIs (``s3a://…``, ``file://…``) configured on the session.
    """

    format: str = "parquet"

    def __init__(
        self,
        path: str,
        spark: SparkSession | None = None,
        schema: Any | None = None,
        partitioning: list[str] | None = None,
        timestamp_column: str | None = None,
        name: str | None = None,
        read_options: dict[str, str] | None = None,
    ) -> None:
        if spark is None:
            from pydala2_spark.session import get_spark

            spark = get_spark()
        self.spark = spark
        self.path = str(path)
        self._schema = schema
        self.partitioning = list(partitioning or [])
        self._timestamp_column = timestamp_column
        self.name = name or os.path.basename(os.path.normpath(self.path)) or "dataset"
        self.read_options = dict(read_options or {})
        self._df: DataFrame | None = None

    # -- loading ---------------------------------------------------------

    def _reader(self):
        reader = self.spark.read.format(self.format)
        for k, v in self.read_options.items():
            reader = reader.option(k, v)
        if self._schema is not None:
            reader = reader.schema(self._schema)
        return reader

    def load(self, reload: bool = False) -> "BaseDataset":
        """Materialize the lazy DataFrame handle (schema resolution only)."""
        if self._df is None or reload:
            self._df = self._reader().load(self.path)
            if self._timestamp_column is None:
                self._timestamp_column = _detect_timestamp_column(self._df)
        return self

    @property
    def timestamp_column(self) -> str | None:
        """Explicit or auto-detected timestamp column (detection needs
        the schema, so first access resolves the DataFrame handle; a
        not-yet-written dataset simply has none)."""
        if self._timestamp_column is None and self._df is None:
            try:
                self.load()
            except Exception:
                return None
        return self._timestamp_column

    @timestamp_column.setter
    def timestamp_column(self, value: str | None) -> None:
        self._timestamp_column = value

    def clear_cache(self) -> None:
        """Invalidate cached file listing / footers after external mutation.

        Counterpart of the reference's ``clear_cache`` discipline
        (`pydala/dataset.py:248-307`): Spark caches its FileIndex per
        DataFrame, so we drop the handle and refresh the path.
        """
        self._df = None
        self.spark.catalog.refreshByPath(self.path)

    @property
    def df(self) -> DataFrame:
        self.load()
        return self._df

    @property
    def exists(self) -> bool:
        try:
            self.load(reload=self._df is None)
            return True
        except Exception:
            return False

    # -- schema / shape --------------------------------------------------

    @property
    def schema(self):
        return self.df.schema

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def count_rows(self) -> int:
        return self.df.count()

    @property
    def num_columns(self) -> int:
        return len(self.df.columns)

    def files(self) -> list[str]:
        return self.df.inputFiles()

    @property
    def tz(self) -> str | None:
        """Timezone of the dataset's timestamp column (reference parity:
        `pydala/dataset.py:1160-1175` reads the parquet field's tz and
        applies it to the engine connection).

        Resolution order: the Arrow footer's explicit tz string when a
        file is locally readable (full fidelity — e.g. ``+02:00``),
        else Spark's logical type: TIMESTAMP (instant, adjusted-to-UTC)
        → ``UTC``; TIMESTAMP_NTZ (wall clock, no zone) → ``None``.
        """
        if self.timestamp_column is None:
            return None
        for f in self.files()[:1]:
            try:
                import pyarrow.parquet as pq

                from pydala2_spark.plans.stats import _pa_fs

                fs, inner = _pa_fs(f)
                with fs.open_input_file(inner) as fh:
                    field = pq.read_schema(fh).field(self.timestamp_column)
                if hasattr(field.type, "tz"):
                    return field.type.tz
            except Exception:
                pass
        dt = dict(self.df.dtypes).get(self.timestamp_column, "")
        if dt == "timestamp":
            return "UTC"
        return None  # timestamp_ntz or non-timestamp column

    def apply_session_timezone(self) -> str | None:
        """Set ``spark.sql.session.timeZone`` to this dataset's tz —
        the Spark analogue of the reference's per-connection
        ``SET TimeZone`` (`pydala/dataset.py:1171-1172`). Session-wide
        by Spark's design (display/parse conversions happen at the
        session boundary), so this is an explicit verb rather than an
        implicit load side-effect. Returns the tz applied, if any."""
        tz = self.tz
        if tz:
            self.spark.conf.set("spark.sql.session.timeZone", tz)
        return tz

    # -- query verbs (each returns a DataFrame — one Catalyst plan) ------

    def filter(self, predicate: str | F.Column) -> DataFrame:
        """SQL-string or Column predicate; pushdown is automatic.

        Replaces the reference's three-way filter routing
        (`pydala/table.py:68-120`) and its SQL→pyarrow-expression
        compiler (`pydala/helpers/sql.py`): Catalyst parses the SQL
        string and pushes eligible predicates into the Parquet scan.
        String predicates get the reference's hygiene pass
        (`pydala/helpers/security.py:118-140`) first.
        """
        if isinstance(predicate, str):
            from pydala2_spark.functions.safety import check_predicate

            predicate = check_predicate(predicate)
        return self.df.filter(predicate)

    # the reference exposes `scan()` as the stats-pruned variant of
    # filter (`pydala/dataset.py:1200-1246`); on Spark the same filter
    # call prunes partitions + row groups, so scan is an alias.
    scan = filter

    def select(self, *columns: str) -> DataFrame:
        cols: list[str] = []
        for c in columns:
            if isinstance(c, str) and "," in c:
                cols.extend(x.strip() for x in c.split(","))
            else:
                cols.append(c)
        return self.df.select(*cols)

    def sort(self, sort_by: SortSpec) -> DataFrame:
        return self.df.orderBy(*to_sort_columns(sort_by))

    def distinct(self, subset: list[str] | None = None) -> DataFrame:
        return self.df.dropDuplicates(subset) if subset else self.df.distinct()

    def limit(self, n: int) -> DataFrame:
        return self.df.limit(n)

    def head(self, n: int = 10):
        return self.df.limit(n).toPandas()

    def sql(self, query: str) -> DataFrame:
        """Run SQL with this dataset registered under its name."""
        self.register()
        return self.spark.sql(query)

    def register(self, name: str | None = None) -> str:
        name = name or self.name
        self.df.createOrReplaceTempView(name)
        return name

    # -- exports (the reference's conversion surface, one engine) --------

    def to_pandas(self, columns: list[str] | None = None):
        df = self.df.select(*columns) if columns else self.df
        return df.toPandas()

    def to_arrow(self, columns: list[str] | None = None):
        df = self.df.select(*columns) if columns else self.df
        return df.toArrow()

    def to_batch_reader(
        self,
        columns: list[str] | None = None,
        batch_size: int = 131_072,
        filter: str | F.Column | None = None,
        sort_by: SortSpec = None,
        prefetch_partitions: bool = True,
    ):
        """Streaming pyarrow RecordBatchReader (S7 parity: the
        reference's ``to_batch_reader``, `pydala/table.py:538-589`,
        batch size default `pydala/constants.py:23`; ``filter`` /
        ``sort_by`` knobs per `pydala/table.py:547-556`).

        Readahead mapping: the reference exposes ``batch_readahead`` /
        ``fragment_readahead`` Arrow-scanner knobs
        (`pydala/table.py:538-589`, `pydala/constants.py:24-28`). On
        Spark the unit of readahead is the PARTITION, not the fragment
        — ``prefetch_partitions`` (default on, = Spark's
        ``toLocalIterator(prefetchPartitions=True)``) computes the
        next partition while the current one streams, the engine-level
        equivalent of both reference knobs; per-file parallelism
        inside a partition is Spark's scan concurrency, not a reader
        option. Pass ``False`` to cap driver memory at exactly one
        partition when the consumer is slower than the cluster.

        TRUE streaming, matching the reference's semantics: partitions
        are pulled to the driver one at a time (``toLocalIterator``)
        and re-chunked into ``batch_size`` record batches, so driver
        memory is O(batch_size + one partition) — never the whole
        result. The filter applies BEFORE projection (it may reference
        dropped columns) and pushes down into the scan; a sort runs as
        one distributed total order whose partitions then stream back
        in range order. For bulk one-shot export prefer
        :meth:`to_arrow` (vectorized transfer); this verb is for
        consumers that process incrementally or stop early.
        """
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        df = self.filter(filter) if filter is not None else self.df
        if sort_by:
            df = df.orderBy(*to_sort_columns(sort_by))
        if columns:
            df = df.select(*columns)
        schema = to_arrow_schema(df.schema)

        def batches():
            buf: list[dict] = []
            for row in df.toLocalIterator(prefetchPartitions=prefetch_partitions):
                buf.append(row.asDict(recursive=True))
                if len(buf) >= batch_size:
                    yield pa.RecordBatch.from_pylist(buf, schema=schema)
                    buf = []
            if buf:
                yield pa.RecordBatch.from_pylist(buf, schema=schema)

        return pa.RecordBatchReader.from_batches(schema, batches())

    def to_polars(self, columns: list[str] | None = None):
        """Polars DataFrame export (reference `.pl`, `pydala/table.py:810-870`);
        gated on polars availability — Arrow is the interchange."""
        try:
            import polars as pl
        except ImportError as e:  # pragma: no cover
            raise ImportError("polars is not installed in this environment") from e
        df = self.df.select(*columns) if columns else self.df
        return pl.from_arrow(df.toArrow())

    def to_duckdb(self, con=None, name: str | None = None):
        """Register this dataset's files with a DuckDB connection.

        Zero-copy at the storage layer: DuckDB scans the same parquet
        files (parity with `pydala/dataset.py:1151-1177` registration).
        """
        import duckdb

        con = con or duckdb.connect()
        name = name or self.name
        glob = os.path.join(self.path, "**", f"*.{self.format}")
        con.sql(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{glob}', hive_partitioning=true)"
            if self.format == "parquet"
            else f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{glob}'"
        )
        return con

    # -- partitions ------------------------------------------------------

    def partition_names(self) -> list[str]:
        """Hive partition columns discovered in the layout."""
        if self.partitioning:
            return list(self.partitioning)
        first = (self.files() or [None])[0]
        if not first:
            return []
        from pydala2_spark.plans.fs import schemeless

        names = []
        p = self.path
        if "://" not in p and not p.startswith("file:"):
            p = os.path.abspath(p)
        base = schemeless(p).rstrip("/")
        rel = schemeless(first)
        # boundary-safe strip: '/data/ds' must not match '/data/ds2/x'
        if rel.startswith(base + "/"):
            rel = rel[len(base) + 1:]
        for seg in rel.split("/"):
            if "=" in seg:
                names.append(seg.split("=", 1)[0])
        return names

    def partitions(self) -> DataFrame:
        """Distinct partition values — `SHOW PARTITIONS` equivalent."""
        names = self.partition_names()
        if not names:
            raise ValueError(f"dataset at {self.path} is not partitioned")
        return self.df.select(*names).distinct()

    @property
    def partitioning_schema(self):
        """Schema of just the partition columns (reference
        `pydala/dataset.py:641-656`), as inferred by the scan."""
        names = set(self.partition_names())
        from pyspark.sql import types as T

        return T.StructType([f for f in self.df.schema.fields if f.name in names])

    # -- write / delete --------------------------------------------------

    def write_to_dataset(self, data, mode: str = "append", **kwargs) -> None:
        """Append/overwrite write with the normalization pipeline.

        Accepts a Spark DataFrame, pandas DataFrame, pyarrow Table /
        RecordBatch, or a list of those treated as one logical batch —
        the reference's input families (`pydala/dataset.py:865-882`).

        ``update_metadata=True`` (the reference's write-through sidecar
        contract, `pydala/dataset.py:1479-1530`) folds the written
        files into the skipping sidecars in the same call: StatsIndex
        always, plus any bloom / NDV sidecars the layout already
        carries — new files' data is scanned once, shared across
        sidecars. Parquet datasets only (sidecars are footer-derived).
        """
        from pydala2_spark.sources.writer import Writer

        if kwargs.get("update_metadata") and self.format != "parquet":
            raise ValueError(
                "update_metadata=True requires a parquet dataset (the "
                f"skipping sidecars are parquet-footer-derived); format={self.format!r}"
            )
        self._mutate(
            Writer(self.spark, self.path, format=self.format).write,
            data,
            mode=mode,
            partition_by=kwargs.pop("partition_by", None) or self.partitioning or None,
            timestamp_column=kwargs.pop("timestamp_column", None) or self.timestamp_column,
            **kwargs,
        )

    write = write_to_dataset

    def _mutate(self, op, *args, **kw):
        """The tail every mutating facade call shares: run ``op`` with
        ``kw`` minus ``update_metadata``, drop the cached frame, and
        with ``update_metadata=True`` fold the touched files into the
        skipping sidecars (`pydala/dataset.py:1479-1530`)."""
        update_metadata = bool(kw.pop("update_metadata", False))
        out = op(*args, **kw)
        self.clear_cache()
        if update_metadata:
            from pydala2_spark.plans.analyze import refresh_metadata

            refresh_metadata(self.spark, self.path)
        return out

    def vacuum(self) -> None:
        """Delete every data file of the dataset (`pydala/dataset.py:607-638`).
        Goes through the Hadoop FS so remote (s3a/hdfs) datasets vacuum
        the same way local ones do."""
        from pydala2_spark.plans.fs import delete_paths, path_exists

        if path_exists(self.spark, self.path):
            delete_paths(self.spark, [self.path])
        self._df = None

    def delete_files(self, files: str | list[str] | None = None) -> None:
        """Delete specific data files — or everything when ``files`` is
        omitted (reference `pydala/dataset.py:607-638`)."""
        if files is None:
            return self.vacuum()
        from pydala2_spark.plans.fs import delete_paths

        delete_paths(self.spark, [files] if isinstance(files, str) else list(files))
        self.clear_cache()

    # -- reference drop-in surface (naming parity) -----------------------

    @property
    def has_files(self) -> bool:
        """`pydala/dataset.py:463-469`."""
        try:
            return bool(self.files())
        except Exception:
            return False

    @property
    def is_loaded(self) -> bool:
        """`pydala/dataset.py:529-533`."""
        return self._df is not None

    @property
    def num_rows(self) -> int:
        """`pydala/dataset.py:580-590`."""
        return self.count_rows()

    @property
    def t(self) -> DataFrame:
        """The table handle (`pydala/dataset.py:556-562`) — here, the
        DataFrame IS the table."""
        return self.df

    def load_files(self) -> list[str]:
        """Refresh and return the file listing (`pydala/dataset.py:420-430`)."""
        self.clear_cache()
        return self.files()

    @property
    def partition_values(self) -> dict[str, list]:
        """Distinct value list per partition column
        (`pydala/dataset.py:680-700`). Driver-side dict — partition
        cardinality is metadata-sized by construction."""
        names = self.partition_names()
        if not names:
            return {}
        rows = self.df.select(*names).distinct().collect()
        return {n: sorted({r[n] for r in rows}) for n in names}

    def registered_tables(self) -> list[str]:
        """Temp views visible to ``spark.sql`` (`pydala/dataset.py:770-777`)."""
        return [t.name for t in self.spark.catalog.listTables()]

    def compact_small_files(self, **kw):
        """Reference declares this surface but leaves it a placeholder
        (`pydala/dataset.py:2193-2195`); here it actually compacts —
        row-count-bounded rewrite of undersized files."""
        return self.compact_by_rows(**kw)

    def __repr__(self) -> str:  # pragma: no cover
        return f"{type(self).__name__}(path={self.path!r}, format={self.format!r})"


class ParquetDataset(BaseDataset):
    """Managed Parquet dataset.

    The reference adds `_metadata` / `_file_metadata` sidecars for
    footer-free loading and min/max file pruning
    (`pydala/metadata.py:261-396`). Spark's Parquet source already
    caches file listings and prunes row groups from footers; the
    100 TB-scale file-level analogue is the optional stats table in
    :mod:`pydala2_spark.plans.stats`.
    """

    format = "parquet"

    def merge(
        self,
        data,
        strategy: str = "upsert",
        key_columns: list[str] | None = None,
        partition_by: list[str] | None = None,
        **kw,
    ):
        """Keyed insert/update/upsert — see :func:`pydala2_spark.operators.merge.merge`.
        ``update_metadata=True`` additionally folds the touched files
        (added AND rewritten-away) into the existing skipping sidecars."""
        from pydala2_spark.operators.merge import merge as _merge

        result = self._mutate(
            _merge,
            self.spark,
            target_path=self.path,
            source=data,
            strategy=strategy,
            key_columns=key_columns,
            partition_by=partition_by or self.partitioning or None,
            **kw,
        )
        if partition_by and not self.partitioning:
            self.partitioning = list(partition_by)
        return result

    def delete_where(self, predicate, **kw) -> dict:
        """Row-level predicate DELETE with file-selective rewrite —
        see :func:`pydala2_spark.operators.merge.delete_where` (rows
        where the predicate is NULL survive, SQL DELETE semantics).
        ``update_metadata=True`` folds the rewrite into the existing
        skipping sidecars in the same call."""
        from pydala2_spark.operators.merge import delete_where as _dw

        return self._mutate(
            _dw, self.spark, self.path, predicate, partition_by=self.partitioning or None, **kw
        )

    def update_where(self, predicate, set: dict, **kw) -> dict:
        """Row-level predicate UPDATE with file-selective rewrite —
        see :func:`pydala2_spark.operators.merge.update_where` (SET
        expressions evaluate against the pre-update row; NULL
        predicates preserve the row, SQL UPDATE semantics).
        ``update_metadata=True`` folds the rewrite into the existing
        skipping sidecars in the same call."""
        from pydala2_spark.operators.merge import update_where as _uw

        return self._mutate(
            _uw,
            self.spark,
            self.path,
            predicate,
            set=set,
            partition_by=self.partitioning or None,
            **kw,
        )

    def refresh_metadata(self) -> dict:
        """Explicit sidecar sync — the same fused refresh that
        ``update_metadata=True`` runs per write (StatsIndex + every
        existing bloom/NDV sidecar, one shared data scan), callable on
        its own after out-of-band file changes (reference
        `pydala/dataset.py:1479-1530`'s standalone
        ``update_file_metadata`` shape)."""
        from pydala2_spark.plans.analyze import refresh_metadata

        return refresh_metadata(self.spark, self.path)

    # -- maintenance (M1-M8; `pydala/dataset.py:2033-2603`) --------------

    def file_stats(self) -> DataFrame:
        """Footer-only per-file stats table (distributed collection)."""
        from pydala2_spark.plans.stats import collect_file_stats

        return collect_file_stats(self.spark, self.path)

    def collect_stats(self) -> dict:
        from pydala2_spark.plans.stats import dataset_stats

        return dataset_stats(self.spark, self.path)

    def scan(self, column: str, lo=None, hi=None) -> DataFrame:
        """File-pruned scan on min/max stats (`pydala/dataset.py:1200-1246`);
        hive partition columns are kept, and the caller still applies
        the row-level filter."""
        from pydala2_spark.plans.stats import read_pruned

        return read_pruned(self.spark, self.path, column, lo, hi)

    def snapshots(self, commit_publisher=None):
        """Snapshot view over this dataset's directory (plans/
        snapshots.py): atomic commits, time travel, rollback, vacuum.
        ``commit_publisher`` is the object-store commit hook (see
        ``plans/snapshots.py`` — required to commit on s3a/gs/abfs;
        dropped automatically on atomic-rename filesystems)."""
        from pydala2_spark.plans.snapshots import SnapshotDataset

        return SnapshotDataset.for_path(
            self.spark, self.path, commit_publisher=commit_publisher
        )

    def build_bloom_index(self, column: str, **kw) -> dict:
        """Per-file bloom sidecar for point-lookup file skipping —
        the range-stats complement (plans/bloom.py); min/max cannot
        prune ``col = v`` on high-cardinality unclustered columns."""
        from pydala2_spark.plans.bloom import build_bloom_index

        return build_bloom_index(self.spark, self.path, column, **kw)

    def scan_point(self, column: str, values: list) -> DataFrame:
        """Bloom-pruned scan for ``column IN (values)``; hive partition
        columns are kept, and the caller still applies the row-level
        filter (no false negatives)."""
        from pydala2_spark.plans.bloom import read_bloom_pruned

        return read_bloom_pruned(self.spark, self.path, column, values)

    def explain_pruning(
        self,
        column: str,
        lo=None,
        hi=None,
        values: list | None = None,
    ) -> dict:
        """Skipping report BEFORE running a query: how many files each
        sidecar would eliminate for a range (``lo``/``hi`` → min/max
        stats) or point (``values`` → bloom) predicate on ``column``.

        Returns ``{"total_files": n, "stats_kept": a, "bloom_kept": b,
        "files_to_scan": k, "skipped_pct": p}`` where the final scan
        set is the INTERSECTION of the applicable sidecars' keep lists
        (each is conservative — no false negatives — so intersecting
        stays correct). Counts follow the pruned reads' one skip rule
        (``plans/stats.kept_files``), so they name the files
        ``StatsIndex.read_pruned`` / ``scan_point`` read (partition
        columns kept). A sidecar that does not exist keeps everything
        and reports ``None`` for its count, which is itself the
        actionable signal: "this predicate would skip nothing until
        you ANALYZE". Metadata-only — no data files are opened.
        """
        from pydala2_spark.plans.bloom import _bloom_sidecar_path, bloom_prune
        from pydala2_spark.plans.fs import path_exists
        from pydala2_spark.plans.stats import StatsIndex, kept_files, listing, survival

        total = sorted(listing(self.spark, self.path).values())
        keep = set(total)
        stats_kept = bloom_kept = None
        idx = StatsIndex(self.spark, self.path)
        if (lo is not None or hi is not None) and idx.exists():
            kept = kept_files(total, survival(idx.stats(), column, lo, hi))
            stats_kept = len(kept)
            keep &= set(kept)
        if values is not None and path_exists(
            self.spark, _bloom_sidecar_path(self.path, column)
        ):
            kept = bloom_prune(self.spark, self.path, column, values)
            bloom_kept = len(kept)
            keep &= set(kept)
        n = len(total)
        return {
            "total_files": n,
            "stats_kept": stats_kept,
            "bloom_kept": bloom_kept,
            "files_to_scan": len(keep),
            "skipped_pct": round(100.0 * (n - len(keep)) / n, 1) if n else 0.0,
        }

    def compact_partitions(self, **kw):
        from pydala2_spark.operators.maintenance import compact_partitions

        plan = compact_partitions(self.spark, self.path, **kw)
        self.clear_cache()
        return plan

    def compact_by_time_period(self, interval: str, timestamp_column: str | None = None, **kw):
        from pydala2_spark.operators.maintenance import compact_by_timeperiod

        ts = timestamp_column or self.timestamp_column
        if not ts:
            raise ValueError("no timestamp column detected; pass timestamp_column")
        plan = compact_by_timeperiod(self.spark, self.path, interval, ts, **kw)
        self.clear_cache()
        return plan

    compact_by_timeperiod = compact_by_time_period  # reference spelling

    def compact_by_rows(self, **kw):
        from pydala2_spark.operators.maintenance import compact_by_rows

        plan = compact_by_rows(self.spark, self.path, **kw)
        self.clear_cache()
        return plan

    def repartition(self, partitioning_columns: list[str] | None = None, **kw):
        from pydala2_spark.operators.maintenance import repartition_dataset

        files = repartition_dataset(
            self.spark,
            self.path,
            partitioning_columns=partitioning_columns,
            timestamp_column=kw.pop("timestamp_column", None) or self.timestamp_column,
            **kw,
        )
        if partitioning_columns:
            self.partitioning = list(partitioning_columns)
        self.clear_cache()
        return files

    def zorder(self, cols: list[str], **kw):
        """Cluster the dataset on a Z-order key over ``cols`` so file
        stats prune for predicates on any of them (maintenance.zorder_rewrite)."""
        from pydala2_spark.operators.maintenance import zorder_rewrite

        files = zorder_rewrite(self.spark, self.path, cols, **kw)
        self.clear_cache()
        return files

    def optimize_dtypes(self, **kw):
        from pydala2_spark.operators.maintenance import optimize_dtypes

        plan = optimize_dtypes(self.spark, self.path, **kw)
        self.clear_cache()
        return plan

    def repair_schema(self, dry_run: bool = False):
        from pydala2_spark.operators.maintenance import repair_schema

        plan = repair_schema(self.spark, self.path, dry_run=dry_run)
        self.clear_cache()
        return plan


# `Dataset` is the friendly default (parquet), like the reference's README
Dataset = ParquetDataset


class CSVDataset(BaseDataset):
    format = "csv"

    def __init__(self, path: str, spark: SparkSession | None = None, **kw) -> None:
        opts = {"header": "true", "inferSchema": "true"}
        opts.update(kw.pop("read_options", {}))
        super().__init__(path, spark, read_options=opts, **kw)


class JSONDataset(BaseDataset):
    format = "json"


class ORCDataset(BaseDataset):
    """Columnar ORC dataset — same verbs as parquet, minus the
    parquet-only sidecar indexes. ORC is a built-in Spark source, so
    predicate pushdown / column pruning / partition discovery all work
    through the identical ``spark.read.format("orc")`` path.

    Reference analogue: the reference reads parquet/csv/json via its
    generic pyarrow path (`pydala/dataset.py:2606-2653`); ORC is
    extension surface a Spark shop expects (Hive-era warehouses are
    ORC-heavy)."""

    format = "orc"


class AvroDataset(BaseDataset):
    """Row-oriented Avro dataset. Avro has been an EXTERNAL Spark
    module since 2.4 (``spark-avro`` jar); when the jar is absent this
    class still constructs (identity is path+format) but the first
    load/write raises a clear, actionable error instead of Spark's
    generic "Failed to find data source"."""

    format = "avro"

    _HINT = (
        "the spark-avro module is not on this session's classpath; "
        "start Spark with --packages org.apache.spark:spark-avro_2.13:<spark-version> "
        "(Avro is an external data source module since Spark 2.4)"
    )

    @classmethod
    def available(cls, spark: SparkSession) -> bool:
        """True when the spark-avro data source is on the classpath.
        Probes Spark's own DataSource registry — Class.forName is NOT
        sufficient (sql/core ships shadow classes purely to produce
        the 'external module' error message, so forName succeeds even
        when the source can't load)."""
        try:
            jvm = spark._jvm  # noqa: SLF001 — classpath probe, no data path
            jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", spark._jsparkSession.sessionState().conf()
            )
            return True
        except Exception:
            return False

    def load(self, reload: bool = False) -> "BaseDataset":
        if not self.available(self.spark):
            raise RuntimeError(self._HINT)
        return super().load(reload=reload)

    def write_to_dataset(self, data, mode: str = "append", **kwargs) -> None:
        if not self.available(self.spark):
            raise RuntimeError(self._HINT)
        return super().write_to_dataset(data, mode=mode, **kwargs)

    write = write_to_dataset


class PyarrowDataset(BaseDataset):
    """Generic format passthrough (`pydala/dataset.py:2606-2653`)."""

    def __init__(self, path: str, spark: SparkSession | None = None, format: str = "parquet", **kw):
        self.format = format
        super().__init__(path, spark, **kw)


def _detect_timestamp_column(df: DataFrame) -> str | None:
    """First timestamp-typed column (reference: sampled head detection,
    `pydala/dataset.py:497-509` — here the schema is authoritative)."""
    for f in df.schema.fields:
        if f.dataType.typeName().startswith("timestamp"):
            return f.name
    return None
