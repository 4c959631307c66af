"""Per-file statistics table — footer-only, collected as a Spark job.

The reference maintains two metadata sidecars per dataset and a DuckDB
``metadata_table`` view with one row per row-group carrying per-column
min/max/null-count structs (`/root/reference/pydala/metadata.py:261-396,
1130-1221`), used for file-level pruning (`pydala/dataset.py:1200-1246`)
and compaction planning (`pydala/dataset.py:2140-2152`).

Spark-first realization: Catalyst already prunes partitions and row
groups natively, so the stats table here serves the two remaining jobs:

1. **maintenance planning** — file/row/size counts per partition drive
   the compaction candidate selection without reading data;
2. **file-level skipping at 100 TB** — when a dataset has millions of
   files, pre-filtering the *file list* on min/max stats and loading
   only survivors avoids even opening the losers' footers. That is
   `prune_files` + `read_pruned` below.

Footers are read on the EXECUTORS (``mapPartitions`` over the file
list), never the driver — at 1M files this is a 1M-task-free, evenly
distributed metadata scan; the result is small (one row per file) and
can itself be persisted as a parquet "stats dataset" and refreshed
incrementally after writes, like the reference's
``update_file_metadata`` (`pydala/metadata.py:398-439`).
"""

from __future__ import annotations

import json
import os
import posixpath
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATS_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType(), False),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("num_rows", T.LongType(), True),
        T.StructField("num_row_groups", T.IntegerType(), True),
        # partition values parsed from hive dirs, e.g. {"year": "1996"}
        T.StructField("partitions", T.MapType(T.StringType(), T.StringType()), True),
        # column -> {"min": ..., "max": ..., "nulls": ...} (values JSON-encoded
        # strings; typed comparisons re-cast on use)
        T.StructField(
            "column_stats",
            T.MapType(
                T.StringType(),
                T.StructType(
                    [
                        T.StructField("min", T.StringType(), True),
                        T.StructField("max", T.StringType(), True),
                        T.StructField("nulls", T.LongType(), True),
                    ]
                ),
            ),
            True,
        ),
        T.StructField("schema_json", T.StringType(), True),
    ]
)


def _hive_partitions(base: str, file_path: str) -> dict[str, str]:
    rel = file_path
    if rel.startswith(base):
        rel = rel[len(base) :].lstrip("/")
    out: dict[str, str] = {}
    for seg in posixpath.dirname(rel).split("/"):
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = v
    return out


def _stat_value(v) -> str | None:
    if v is None:
        return None
    try:
        return json.dumps(v, default=str)
    except TypeError:
        return json.dumps(str(v))


def _pa_fs(path: str, registry: dict | None = None):
    """``(pyarrow.fs.FileSystem, fs-internal path)`` for any URI scheme
    the engine supports — executor-safe (pure pyarrow, no JVM gateway).

    Hadoop qualifies local paths as ``file:/x`` (one slash); ``s3a://``
    is Hadoop's S3 connector name for what pyarrow calls ``s3://``
    (credentials resolve from the environment/instance profile on the
    executors). Scheme-less and ``file:`` paths go straight to
    LocalFileSystem, with no URI parsing. ``registry``
    (default: the process-global :func:`register_scheme_filesystem`
    table) is the explicit-filesystem override, passed BY VALUE into
    executor closures by the distributed footer scans."""
    from pyarrow import fs as pafs

    p = _normalize_uri(path)
    if "://" not in p:
        return pafs.LocalFileSystem(), os.path.abspath(p)
    scheme = p.split("://", 1)[0].lower()
    reg = _SCHEME_FILESYSTEMS if registry is None else registry
    fs = reg.get(scheme)
    if fs is not None:
        return fs, p.split("://", 1)[1]
    if scheme == "file":
        # a Hadoop path is literal, not percent-encoded: from_uri would
        # reject a space and decode a hive dir's "%3A" into ":"
        return pafs.LocalFileSystem(), p[len("file://"):]
    filesystem, inner = pafs.FileSystem.from_uri(p)
    return filesystem, inner


# scheme (lower-case) -> explicitly constructed pyarrow FileSystem.
# Consulted BEFORE FileSystem.from_uri, so deployments can route a
# scheme through an endpoint-configured filesystem (MinIO-style S3
# endpoints, credentialed HDFS, test doubles) instead of from_uri's
# environment defaults.
_SCHEME_FILESYSTEMS: dict = {}


# Hadoop scheme spellings that _normalize_uri rewrites BEFORE the
# registry lookup — registrations under either spelling must hit
_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}


def register_scheme_filesystem(scheme: str, filesystem) -> None:
    """Route footer/sidecar I/O for ``scheme://`` URIs through an
    explicitly constructed ``pyarrow.fs.FileSystem``.

    Hadoop's ``s3a``/``s3n`` spellings register under the same key as
    ``s3`` (lookups happen after URI normalization, so an ``s3a``
    registration would otherwise be silently ignored — MinIO-endpoint
    deployments hit exactly that).

    The filesystem must be PICKLABLE (pyarrow filesystems are): footer
    scans run on the EXECUTORS, and each scan captures the registry by
    value into its closure — a registration made after a scan's
    closure was built does not retroactively apply to it."""
    s = scheme.lower()
    _SCHEME_FILESYSTEMS[_SCHEME_ALIASES.get(s, s)] = filesystem


def unregister_scheme_filesystem(scheme: str) -> None:
    s = scheme.lower()
    _SCHEME_FILESYSTEMS.pop(_SCHEME_ALIASES.get(s, s), None)


def _normalize_uri(path: str) -> str:
    """Rewrite Hadoop URI spellings to pyarrow's: ``file:/x`` (Hadoop's
    qualified local form) → ``file:///x``; ``s3a://`` (Hadoop's S3
    connector scheme) → ``s3://``. Scheme-less paths pass through.

    ``file://host/path`` (an authority component) is rejected
    explicitly: folding the host into the path would resolve to a
    WRONG local path, and pyarrow has no remote-local-file transport.
    """
    import re as _re

    if _re.match(r"^file://(?!/)[^/]", path):
        raise ValueError(
            f"file URI with an authority component is not supported: {path!r}"
        )
    p = _re.sub(r"^file:/{1,3}", "file:///", path)
    return _re.sub(r"^s3[an]://", "s3://", p)


def _read_footer(path: str, registry: dict | None = None):
    """``(FileMetaData, size_bytes)`` of one parquet file on ANY
    supported filesystem — footer pages only, no data read."""
    import pyarrow.parquet as pq

    filesystem, inner = _pa_fs(path, registry)
    info = filesystem.get_file_info(inner)
    if info.size is None:
        raise FileNotFoundError(f"no parquet file at {path!r} (resolved to {inner!r})")
    size = int(info.size)
    with filesystem.open_input_file(inner) as f:
        md = pq.ParquetFile(f).metadata
    return md, size


def _read_footers(base: str, paths: Iterable[str], registry: dict | None = None):
    """Executor-side: read parquet footers only (no data pages)."""
    for p in paths:
        md, size = _read_footer(p, registry)
        col_stats: dict[str, dict] = {}
        arrow_schema = md.schema.to_arrow_schema()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                s = c.statistics
                if s is None or not s.has_min_max:
                    continue
                cur = col_stats.setdefault(name, {"min": None, "max": None, "nulls": 0})
                if cur["min"] is None or s.min < cur["min"]:
                    cur["min"] = s.min
                if cur["max"] is None or s.max > cur["max"]:
                    cur["max"] = s.max
                cur["nulls"] += s.null_count or 0
        yield (
            p,
            size,
            int(md.num_rows),
            int(md.num_row_groups),
            _hive_partitions(base, p),
            {
                k: (_stat_value(v["min"]), _stat_value(v["max"]), int(v["nulls"]))
                for k, v in col_stats.items()
            },
            arrow_schema.to_string(),
        )


def collect_file_stats(
    spark: SparkSession,
    path: str,
    parallelism: int | None = None,
    files: list[str] | None = None,
) -> DataFrame:
    """Build the stats table for a parquet dataset with a distributed
    footer scan. One output row per data file. ``files`` restricts the
    scan to an explicit subset (e.g. one snapshot version's manifest)
    instead of the directory listing."""
    from pydala2_spark.plans.fs import list_files

    if files is None:
        files = list_files(spark, path, suffixes=(".parquet",))
    if not files:
        return spark.createDataFrame([], STATS_SCHEMA)
    base = path if "://" in path else "file:" + os.path.abspath(path.removeprefix("file:"))
    n = parallelism or min(len(files), spark.sparkContext.defaultParallelism)
    rdd = spark.sparkContext.parallelize(files, n).mapPartitions(
        # registry captured BY VALUE: executors re-import this module
        # with an empty global table, so the driver's registrations
        # must ride in the closure
        lambda it, b=base, reg=dict(_SCHEME_FILESYSTEMS): _read_footers(b, it, reg)
    )
    return spark.createDataFrame(rdd, STATS_SCHEMA)


def dataset_stats(spark: SparkSession, path: str) -> dict:
    """Aggregate dataset stats (`pydala/dataset.py:2033-2041` parity):
    file count, row count, total bytes, per-partition breakdown."""
    agg = collect_file_stats(spark, path).agg(
        F.count("*").alias("files"),
        F.sum("num_rows").alias("rows"),
        F.sum("size_bytes").alias("bytes"),
    ).first()
    return {"files": agg["files"], "rows": agg["rows"] or 0, "bytes": agg["bytes"] or 0}


def prune_files(
    stats: DataFrame,
    column: str,
    lo=None,
    hi=None,
) -> list[str]:
    """Conservative file-level pruning on min/max stats: keep a file
    unless its stats PROVE no row can match (reference semantics:
    `pydala/helpers/metadata.py:145-213` — unknown stats ⇒ keep).

    ``lo``/``hi`` bound the wanted value range (inclusive). Values are
    compared through the JSON-string encoding, cast to the literal's
    type — callers pass numbers for numeric columns.
    """
    s = stats.withColumn("__st", F.col("column_stats").getItem(column))
    cmin = F.get_json_object(F.col("__st.min"), "$")
    cmax = F.get_json_object(F.col("__st.max"), "$")
    keep = F.col("__st").isNull()  # no stats → must keep
    cond = F.lit(True)
    # each bound check is NULL-tolerant: if the stat can't cast to the
    # probe's type (e.g. numeric probe on a string/timestamp column) the
    # comparison is NULL, and "unknown ⇒ keep" demands the file survive
    if lo is not None:
        t = "double" if isinstance(lo, (int, float)) else "string"
        cond = cond & F.coalesce(cmax.try_cast(t) >= F.lit(lo), F.lit(True))
    if hi is not None:
        t = "double" if isinstance(hi, (int, float)) else "string"
        cond = cond & F.coalesce(cmin.try_cast(t) <= F.lit(hi), F.lit(True))
    return [r["file_path"] for r in s.filter(keep | cond).select("file_path").collect()]


class StatsIndex:
    """Persistent, incrementally-refreshed stats table — the Spark
    rebirth of the reference's metadata-sidecar lifecycle
    (`pydala/metadata.py:105-145, 341-439`: collect footers in
    parallel, diff new/removed files, append or rebuild).

    The index lives as parquet under ``<dataset>/_stats_index`` (the
    leading underscore hides it from Spark's file listing, exactly like
    the reference's ``_metadata`` sidecar convention). ``refresh()``
    footer-scans ONLY files added since the last refresh — at 100 TB
    with millions of files, a refresh after an append touches just the
    appended files' footers, distributed across executors.
    """

    def __init__(self, spark: SparkSession, dataset_path: str, index_path: str | None = None):
        self.spark = spark
        self.dataset_path = dataset_path.rstrip("/")
        self.index_path = index_path or f"{self.dataset_path}/_stats_index"

    def exists(self) -> bool:
        from pydala2_spark.plans.fs import list_files, path_exists

        return path_exists(self.spark, self.index_path) and bool(
            list_files(self.spark, self.index_path)
        )

    def stats(self) -> DataFrame:
        if not self.exists():
            self.refresh()
        return self.spark.read.schema(STATS_SCHEMA).parquet(self.index_path)

    def refresh(self) -> dict:
        """Bring the index in sync with the physical file list.
        Returns ``{"added": n, "removed": m, "total": k}``; only the
        added files' footers are read."""
        from pydala2_spark.plans.fs import list_files, replace_dir

        current = set(list_files(self.spark, self.dataset_path, suffixes=(".parquet",)))
        if self.exists():
            old = self.spark.read.schema(STATS_SCHEMA).parquet(self.index_path)
            indexed = {r["file_path"] for r in old.select("file_path").collect()}
        else:
            old, indexed = None, set()

        added = sorted(current - indexed)
        removed = indexed - current

        base = (
            self.dataset_path
            if "://" in self.dataset_path
            else "file:" + os.path.abspath(self.dataset_path.removeprefix("file:"))
        )
        parts = []
        if old is not None and (indexed - removed):
            parts.append(old.filter(~F.col("file_path").isin(list(removed)) if removed else F.lit(True)))
        if added:
            if len(added) <= 32:
                # small append (the write-through common case): footers
                # are kilobytes — reading them on the driver skips a
                # whole parallelize/mapPartitions job round-trip
                rows = list(_read_footers(base, added, dict(_SCHEME_FILESYSTEMS)))
                parts.append(self.spark.createDataFrame(rows, STATS_SCHEMA))
            else:
                n = min(len(added), self.spark.sparkContext.defaultParallelism)
                rdd = self.spark.sparkContext.parallelize(added, n).mapPartitions(
                    lambda it, b=base, reg=dict(_SCHEME_FILESYSTEMS): _read_footers(
                        b, it, reg
                    )
                )
                parts.append(self.spark.createDataFrame(rdd, STATS_SCHEMA))
        new_index = parts[0] if parts else self.spark.createDataFrame([], STATS_SCHEMA)
        for p in parts[1:]:
            new_index = new_index.unionByName(p)

        staging = f"{self.index_path}__staging"
        # repartition(1), NOT coalesce(1): coalescing a plan whose leaves
        # include driver-local rows makes ONE task iterate every
        # pickled slice through the Python gateway — measured 4.2 s for
        # a 4-row index vs 0.5 s through the shuffle (r9); the shuffle
        # moves kilobytes here
        new_index.repartition(1).write.mode("overwrite").parquet(staging)
        replace_dir(self.spark, staging, self.index_path)
        return {"added": len(added), "removed": len(removed), "total": len(current)}

    def prune(self, column: str, lo=None, hi=None) -> list[str]:
        """Index-side survivors only — files the INDEX cannot rule
        out. Files the index has never seen are not returned here;
        ``read_pruned`` adds them back (staleness-safe reads)."""
        return prune_files(self.stats(), column, lo, hi)

    def read_pruned(self, column: str, lo=None, hi=None) -> DataFrame:
        """Pruned scan that is SAFE under a stale index: survivors
        from the min/max sidecar, UNIONED with every live file the
        index has not seen (one extra directory listing — metadata
        cost). A file missing from the sidecar (append since the last
        refresh, or a lost write-through race) is scanned, never
        silently skipped — the same unknown ⇒ keep rule prune_files
        applies to missing column stats, applied at the file level.
        Rows outside [lo, hi] still need the caller's row filter."""
        from pydala2_spark.plans.fs import list_files

        files = set(self.prune(column, lo, hi))
        indexed = {
            r["file_path"] for r in self.stats().select("file_path").collect()
        }
        current = list_files(self.spark, self.dataset_path, suffixes=(".parquet",))
        files.update(f for f in current if f not in indexed)
        if not files:
            return self.spark.read.parquet(self.dataset_path).limit(0)
        return self.spark.read.parquet(*sorted(files))


def import_legacy_file_metadata(
    spark: SparkSession,
    dataset_path: str,
    index_path: str | None = None,
    allow_pickle: bool = False,
) -> dict:
    """One-shot migration of a reference ``_file_metadata`` sidecar
    into a :class:`StatsIndex` — so an existing pydala2 dataset's
    footer cache carries over instead of being re-scanned.

    Reference format (`/root/reference/pydala/metadata.py:50-102,
    274-300`): a single ``<dataset>/_file_metadata`` file holding
    brotli-compressed JSON (plain JSON fallback; legacy pickle) that
    maps each file path to a base64-encoded parquet ``FileMetaData``
    blob plus summary fields. Each blob round-trips through
    ``pq.read_metadata``, from which the same per-file stats row as a
    live footer scan is derived. Pickle payloads are refused unless
    ``allow_pickle=True`` (arbitrary code execution risk; the
    reference itself warns the format is deprecated).

    Driver-side by design: legacy sidecars are single-node artifacts
    (the reference builds them in one process) — a dataset big enough
    to need distributed conversion should just ``StatsIndex.refresh()``
    from scratch. Returns ``{"imported": n, "missing": m}`` where
    ``missing`` counts sidecar entries whose data file no longer
    exists (skipped, exactly like refresh() would drop them).
    """
    import base64

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pydala2_spark.plans.fs import path_exists, qualified, replace_dir

    dataset_path = dataset_path.rstrip("/")
    sidecar = f"{dataset_path}/_file_metadata"
    if not path_exists(spark, sidecar):
        raise FileNotFoundError(f"no legacy sidecar at {sidecar}")
    side_fs, side_inner = _pa_fs(sidecar)
    with side_fs.open_input_stream(side_inner) as f:
        raw = f.read()

    data = None
    try:  # the reference writes brotli-compressed JSON by default
        import brotli

        data = json.loads(brotli.decompress(raw).decode("utf-8"))
    except Exception:
        pass
    if data is None:
        try:
            data = json.loads(raw.decode("utf-8"))
        except Exception:
            pass
    if data is None:
        if not allow_pickle:
            raise ValueError(
                f"{sidecar} is not (brotli-)JSON; if it is a legacy "
                f"pickle sidecar, re-run with allow_pickle=True"
            )
        import pickle

        data = {
            p: m for p, m in pickle.loads(raw).items()
        }  # {path: pq.FileMetaData}

    base = qualified(spark, dataset_path)
    rows, missing = [], 0
    for rel, entry in data.items():
        if isinstance(entry, dict):
            md = pq.read_metadata(
                pa.BufferReader(base64.b64decode(entry["serialized_metadata_b64"]))
            )
        else:  # pickle path: the value IS the FileMetaData
            md = entry
        fpath = rel if "://" in rel or rel.startswith("/") else f"{dataset_path}/{rel}"
        qpath = qualified(spark, fpath)
        dfs, dinner = _pa_fs(qpath)
        from pyarrow import fs as _pafs

        finfo = dfs.get_file_info(dinner)
        if finfo.type == _pafs.FileType.NotFound:
            missing += 1
            continue
        col_stats: dict[str, dict] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                s = c.statistics
                if s is None or not s.has_min_max:
                    continue
                cur = col_stats.setdefault(
                    c.path_in_schema, {"min": None, "max": None, "nulls": 0}
                )
                if cur["min"] is None or s.min < cur["min"]:
                    cur["min"] = s.min
                if cur["max"] is None or s.max > cur["max"]:
                    cur["max"] = s.max
                cur["nulls"] += s.null_count or 0
        rows.append(
            (
                qpath,
                int(finfo.size),
                int(md.num_rows),
                int(md.num_row_groups),
                _hive_partitions(base, qpath),
                {
                    k: (_stat_value(v["min"]), _stat_value(v["max"]), int(v["nulls"]))
                    for k, v in col_stats.items()
                },
                md.schema.to_arrow_schema().to_string(),
            )
        )

    idx = StatsIndex(spark, dataset_path, index_path)
    staging = f"{idx.index_path}__staging"
    spark.createDataFrame(rows, STATS_SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).parquet(staging)  # repartition not coalesce: see StatsIndex.refresh
    replace_dir(spark, staging, idx.index_path)
    return {"imported": len(rows), "missing": missing}


def export_legacy_file_metadata(
    spark: SparkSession,
    dataset_path: str,
    compress: bool = True,
    max_files: int = 100_000,
) -> dict:
    """Write a reference-format ``_file_metadata`` sidecar for this
    dataset — the inverse of :func:`import_legacy_file_metadata`, so
    migration works BOTH ways: a dataset written or compacted here can
    hand its footer cache straight back to a pydala2 reader.

    Format (`/root/reference/pydala/metadata.py:50-72,385-396`): JSON
    mapping each data file's path (relative to the dataset root) to
    ``{serialized_metadata_b64, num_rows, num_columns, created_by,
    format_version}``, where the blob is the parquet ``FileMetaData``
    re-serialized via ``write_metadata_file`` and base64-encoded;
    brotli-compressed when the codec is available (the reference's
    reader falls back to plain JSON when decompression fails, so
    ``compress=False`` or a missing brotli still round-trips).

    The footer scan is DISTRIBUTED (``mapPartitions`` over the file
    list through the same filesystem-agnostic reader as StatsIndex);
    the kilobyte-scale b64 blobs reach the driver one partition at a
    time (``toLocalIterator`` over a path-sorted frame, not a single
    ``collect``), which matches the single-file sidecar's own
    driver-side nature. The format itself is O(files × footer) in one
    JSON document, so the export REFUSES above ``max_files`` (default
    10⁵ ≈ a few hundred MB of sidecar) with a pointer at the
    partitioned StatsIndex, which has no such ceiling — raise
    ``max_files`` explicitly to accept the memory bill.
    Returns ``{"files": n, "bytes": sidecar_size, "compressed": bool}``.
    """
    from pydala2_spark.plans.fs import list_files, qualified, schemeless

    path = dataset_path.rstrip("/")
    files = list_files(spark, path, suffixes=(".parquet",))
    if len(files) > max_files:
        raise ValueError(
            f"export_legacy_file_metadata: dataset has {len(files)} data files, "
            f"over max_files={max_files}. The legacy _file_metadata sidecar is a "
            "single JSON document holding every footer — O(files) memory for "
            "whoever writes or reads it, by format. Pass a larger max_files to "
            "accept that, or stay on the partitioned StatsIndex sidecar "
            "(pydala2_spark.plans.stats.StatsIndex), which scales past this."
        )
    base = schemeless(qualified(spark, path)).rstrip("/")

    reg = dict(_SCHEME_FILESYSTEMS)  # by value: closure ships to executors

    def _blobs(paths):
        import base64 as _b64

        import pyarrow as pa

        for p in paths:
            md, _size = _read_footer(p, reg)
            sink = pa.BufferOutputStream()
            md.write_metadata_file(sink)
            yield (
                p,
                _b64.b64encode(sink.getvalue().to_pybytes()).decode("ascii"),
                int(md.num_rows),
                len(md.schema),
                md.created_by,
                md.format_version,  # "1.0"-style string, stored verbatim
            )

    entries: dict[str, dict] = {}
    if files:
        n = min(len(files), spark.sparkContext.defaultParallelism)
        # partition-streamed: the driver holds at most one partition of
        # blobs beyond the entries dict itself (no collect double-buffer)
        blob_df = spark.createDataFrame(
            spark.sparkContext.parallelize(files, n).mapPartitions(_blobs),
            schema=(
                "path string, b64 string, num_rows long, num_cols int, "
                "created_by string, fmt string"
            ),
        ).orderBy("path")
        for p, b64, num_rows, num_cols, created_by, fmt in blob_df.toLocalIterator():
            rel = schemeless(qualified(spark, p))
            # boundary-safe strip: '/data/ds' must not match '/data/ds2/x'
            if rel.startswith(base.rstrip("/") + "/"):
                rel = rel[len(base.rstrip("/")) + 1:]
            entries[rel] = {
                "serialized_metadata_b64": b64,
                "num_rows": num_rows,
                "num_columns": num_cols,
                "created_by": created_by,
                "format_version": fmt,
            }

    payload = json.dumps(entries, indent=2).encode("utf-8")
    compressed = False
    if compress:
        try:
            import brotli

            payload = brotli.compress(payload, quality=5)
            compressed = True
        except ImportError:
            pass  # plain JSON — the reference reader's fallback path

    # write-then-rename: a crash mid-write must not leave a truncated
    # sidecar where a reader (ours or the reference's) expects a whole
    # one
    side_fs, side_inner = _pa_fs(f"{path}/_file_metadata")
    _, tmp_inner = _pa_fs(f"{path}/_file_metadata.__tmp")
    with side_fs.open_output_stream(tmp_inner) as f:
        f.write(payload)
    side_fs.move(tmp_inner, side_inner)
    return {"files": len(entries), "bytes": len(payload), "compressed": compressed}


def read_pruned(
    spark: SparkSession,
    path: str,
    column: str,
    lo=None,
    hi=None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Scan only the files that can contain rows with ``column`` in
    [lo, hi] — the reference's ``ParquetDataset.scan``
    (`pydala/dataset.py:1200-1246`) rebuilt on a Spark file subset.

    The returned DataFrame still needs the row-level filter applied by
    the caller (pruning is conservative, file granularity)."""
    st = stats if stats is not None else collect_file_stats(spark, path)
    files = prune_files(st, column, lo, hi)
    if not files:
        return spark.read.parquet(path).limit(0)
    return spark.read.parquet(*files)


# -- mergeable NDV sketches -------------------------------------------------


def build_ndv_sketches(
    spark: SparkSession,
    dataset_path: str,
    columns: list[str],
    lg_k: int = 12,
    index_path: str | None = None,
) -> dict:
    """Persist per-file HLL (DataSketches) distinct-count sketches for
    ``columns`` under ``<dataset>/_ndv_sketches`` — ONE scan of the
    dataset, then NDV questions answer from the sidecar forever:
    mergeable sketches mean the distinct count of ANY file subset (a
    partition, a snapshot version, the whole dataset) is a union of
    the stored 2^lg_k-byte sketches, no data rescan. The min/max
    sidecar (``StatsIndex``) answers range questions; this answers
    cardinality questions (compaction sizing, dictionary-encoding
    decisions, join-side estimation) at the same metadata scale.
    """
    from pydala2_spark.functions.safety import quote_identifier
    from pydala2_spark.plans.fs import replace_dir

    for c in columns:
        quote_identifier(c)
    path = dataset_path.rstrip("/")
    ipath = index_path or ndv_sidecar_path(path)

    df = spark.read.parquet(path)
    from pydala2_spark.plans.fs import input_file_col

    fp = input_file_col()
    parts = None
    for c in columns:
        p = (
            df.select(fp.alias("file_path"), F.col(c).alias("__v"))
            .groupBy("file_path")
            .agg(F.hll_sketch_agg("__v", F.lit(lg_k)).alias("sketch"))
            .select("file_path", F.lit(c).alias("column"), "sketch")
        )
        parts = p if parts is None else parts.unionByName(p)
    # marker row (column="") per PHYSICAL file: a zero-row file emits
    # no group above, and without a membership record the staleness
    # guard in estimate_ndv would flag it forever
    from pydala2_spark.plans.fs import list_files as _lf
    from pydala2_spark.plans.fs import qualified as _q
    from pydala2_spark.plans.fs import schemeless as _sl

    phys = [_sl(_q(spark, f)) for f in _lf(spark, path, suffixes=(".parquet",))]
    markers = spark.createDataFrame(
        [(f, "") for f in phys], "file_path string, column string"
    ).withColumn("sketch", F.lit(None).cast("binary"))
    out = parts.unionByName(markers).withColumn("lg_k", F.lit(lg_k))

    staging = f"{ipath}__staging"
    out.write.mode("overwrite").parquet(staging)
    replace_dir(spark, staging, ipath)
    n = spark.read.parquet(ipath).filter(F.col("column") != "").count()
    return {"rows": n, "files": len(phys), "columns": list(columns)}


def ndv_sidecar_path(dataset_path: str) -> str:
    return f"{dataset_path.rstrip('/')}/_ndv_sketches"


def refresh_ndv_sketches(
    spark: SparkSession,
    dataset_path: str,
    index_path: str | None = None,
    columns: list[str] | None = None,
) -> dict:
    """Incremental sketch refresh: sketch ONLY files added since the
    last build/refresh (for every column the sidecar already tracks),
    drop rows of removed files. Keeps ``estimate_ndv``'s staleness
    guard satisfied after appends without rescanning the corpus.

    ``columns`` EXTENDS the tracked set: a requested column the sidecar
    doesn't hold yet is sketched over ALL current files (one extra
    full-column scan, once) — without this, asking for a new column
    would silently yield estimates of zero forever.
    Returns ``{"added": n, "removed": m, "total": k, "new_columns": c}``."""
    from pydala2_spark.plans.fs import (
        input_file_col,
        list_files,
        qualified,
        replace_dir,
        schemeless,
    )

    from pydala2_spark.plans.fs import path_exists

    path = dataset_path.rstrip("/")
    ipath = index_path or ndv_sidecar_path(path)
    if not path_exists(spark, ipath):
        raise ValueError(
            f"no NDV sidecar at {ipath!r}; run build_ndv_sketches(spark, "
            f"path, columns=[...]) first (a refresh cannot know which "
            f"columns to sketch)"
        )
    old = spark.read.parquet(ipath)
    first = old.select("lg_k").first()
    if first is None:
        raise ValueError(
            f"NDV sidecar at {ipath!r} is empty; re-run build_ndv_sketches"
        )
    lg_k = int(first["lg_k"])
    tracked = [
        r["column"] for r in old.select("column").distinct().collect() if r["column"]
    ]
    new_columns = [c for c in (columns or []) if c not in tracked]
    indexed = {r["file_path"] for r in old.select("file_path").distinct().collect()}
    current = {
        schemeless(qualified(spark, f)): f
        for f in list_files(spark, path, suffixes=(".parquet",))
    }
    added = sorted(k for k in current if k not in indexed)
    removed = indexed - set(current)

    parts = [old.filter(~F.col("file_path").isin(list(removed)) if removed else F.lit(True))]
    if new_columns and current:
        # new columns need sketches for EVERY current file, not just
        # the appended ones
        all_df = spark.read.parquet(*current.values())
        fp_all = input_file_col()
        for c in new_columns:
            parts.append(
                all_df.select(fp_all.alias("file_path"), F.col(c).alias("__v"))
                .groupBy("file_path")
                .agg(F.hll_sketch_agg("__v", F.lit(lg_k)).alias("sketch"))
                .select(
                    "file_path",
                    F.lit(c).alias("column"),
                    "sketch",
                    F.lit(lg_k).alias("lg_k"),
                )
            )
    if added:
        df = spark.read.parquet(*[current[k] for k in added])
        fp = input_file_col()
        for c in tracked:
            parts.append(
                df.select(fp.alias("file_path"), F.col(c).alias("__v"))
                .groupBy("file_path")
                .agg(F.hll_sketch_agg("__v", F.lit(lg_k)).alias("sketch"))
                .select(
                    "file_path",
                    F.lit(c).alias("column"),
                    "sketch",
                    F.lit(lg_k).alias("lg_k"),
                )
            )
        parts.append(
            spark.createDataFrame(
                [(k, "") for k in added], "file_path string, column string"
            )
            .withColumn("sketch", F.lit(None).cast("binary"))
            .withColumn("lg_k", F.lit(lg_k))
        )
    new_index = parts[0]
    for p in parts[1:]:
        new_index = new_index.unionByName(p)
    staging = f"{ipath}__staging"
    new_index.write.mode("overwrite").parquet(staging)
    replace_dir(spark, staging, ipath)
    return {
        "added": len(added),
        "removed": len(removed),
        "total": len(current),
        "new_columns": new_columns,
    }


def estimate_ndv(
    spark: SparkSession,
    dataset_path: str,
    column: str,
    files: list[str] | None = None,
    index_path: str | None = None,
    missing_ok: bool = False,
) -> int:
    """Approximate distinct count of ``column`` over ``files`` (default:
    every file of the dataset) by unioning the stored sketches — a
    metadata-only job whose cost scales with FILE COUNT, not rows.
    ``files`` accepts any path form; comparison is scheme-free.

    Staleness is an ERROR, not a silent undercount: a requested (or
    present-in-the-dataset) file with no stored sketch raises unless
    ``missing_ok=True`` — the min/max and bloom sidecars degrade
    conservatively (unknown ⇒ keep), but there is no conservative
    cardinality, so the only honest answers are "rebuild the sketches"
    or an explicit opt-in to a lower bound."""
    from pydala2_spark.plans.fs import list_files, qualified, schemeless

    path = dataset_path.rstrip("/")
    ipath = index_path or ndv_sidecar_path(path)
    raw = spark.read.parquet(ipath)
    sk = raw.filter(F.col("column") == column)
    if files is None:
        files = [qualified(spark, f) for f in list_files(spark, path, suffixes=(".parquet",))]
    wanted = [schemeless(f) for f in files]
    need_filter = True
    if not missing_ok:
        # membership comes from the marker rows (column="") so zero-row
        # files count as sketched; older sidecars without markers fall
        # back to the per-column rows
        members = raw.filter(F.col("column") == "")
        if members.isEmpty():
            members = sk
        sketched = {r["file_path"] for r in members.select("file_path").distinct().collect()}
        missing = [f for f in wanted if f not in sketched]
        if missing:
            raise ValueError(
                f"{len(missing)} file(s) have no stored sketch for {column!r} "
                f"(e.g. {missing[0]}); re-run build_ndv_sketches or pass "
                f"missing_ok=True for a lower-bound estimate"
            )
        # sidecar holds exactly the wanted set → the membership filter
        # is a no-op; skip it (an isin over 10⁶ literal paths is a
        # plan-size hazard at scale). The check runs on BOTH the marker
        # membership AND the per-column sketch rows: a directory-read
        # build can sketch a stray non-.parquet-suffixed file that the
        # marker list (from the suffixed listing) never covers, and an
        # unfiltered union would silently inflate the estimate with it.
        # Kept (filtered) whenever either set differs from wanted.
        sk_files = {
            r["file_path"] for r in sk.select("file_path").distinct().collect()
        }
        need_filter = sketched != set(wanted) or not sk_files <= set(wanted)
    if need_filter:
        sk = sk.filter(F.col("file_path").isin(wanted))
    row = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("ndv")
    ).first()
    return int(row["ndv"] or 0)
