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
   only survivors avoids even opening the losers' footers.

File skipping has ONE path (min/max here, bloom, explain_pruning):
:func:`survival` collects ``(file, survives)`` per stats row once;
:func:`kept_files` keeps a LISTED file that survives or that the
sidecar does not index (unknown ⇒ keep); :func:`read_survivors` reads
them with ``basePath`` at the root, so partition columns survive.

Footers of a large file list are read on the EXECUTORS
(``mapPartitions`` over the file list); a write-through append's few
files are read on the driver. Either way one footer becomes one stats
row (:func:`_stats_row`), persisted as the ``StatsIndex`` sidecar.

This module also holds the ONE sidecar lifecycle every per-file
sidecar shares (StatsIndex, bloom, NDV sketches, fused ANALYZE) — the
reference's ``update_file_metadata`` (`pydala/metadata.py:341-439`):
list the data files, read the sidecar's stored state in one collect,
diff added/removed files, derive rows for the added ones, keep the
stored rows minus the removed ones, and publish through one staged
swap (:func:`sync_sidecars`, :func:`publish_sidecar`). The NDV sketch
sidecar's rows and entry points live here too.
"""

from __future__ import annotations

import json
import os
import posixpath
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable, Iterable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pydala2_spark.frames import materialize
from pydala2_spark.plans.fs import (
    input_file_col,
    list_files,
    path_exists,
    qualified,
    replace_dir,
    schemeless,
)

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


def _partition_base(path: str) -> str:
    """The dataset root as :func:`_hive_partitions` compares it: the
    :func:`schemeless` absolute spelling, so ``k=v`` directories ABOVE
    the root (``.../run=3/ds``) are never partitions, whether the root
    is spelled plain, ``file:/`` or ``file:///``. String rules only: a
    scheme Hadoop cannot resolve (a registered pyarrow filesystem)
    works too."""
    return os.path.abspath(schemeless(path))


def _hive_partitions(base: str, file_path: str) -> dict[str, str]:
    rel = schemeless(file_path)
    root = base.rstrip("/") + "/"
    if rel.startswith(root):
        rel = rel[len(root):]
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


def _stats_row(path: str, md, size: int, base: str) -> tuple:
    """The one :data:`STATS_SCHEMA` row of a parquet footer: per-column
    min/max/null counts folded over its row groups."""
    col_stats: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            s = c.statistics
            if s is None or not s.has_min_max:
                continue
            cur = col_stats.setdefault(c.path_in_schema, {"min": None, "max": None, "nulls": 0})
            if cur["min"] is None or s.min < cur["min"]:
                cur["min"] = s.min
            if cur["max"] is None or s.max > cur["max"]:
                cur["max"] = s.max
            cur["nulls"] += s.null_count or 0
    return (
        path,
        size,
        int(md.num_rows),
        int(md.num_row_groups),
        _hive_partitions(base, path),
        {
            k: (_stat_value(v["min"]), _stat_value(v["max"]), int(v["nulls"]))
            for k, v in col_stats.items()
        },
        md.schema.to_arrow_schema().to_string(),
    )


def _read_footers(base: str, paths: Iterable[str], registry: dict | None = None):
    """Executor-side: read parquet footers only (no data pages)."""
    for p in paths:
        yield _stats_row(p, *_read_footer(p, registry), base)


def _local_rows(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Driver-built rows as a local relation (through Arrow): reading
    them runs no Spark job, unlike a parallelized list."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.fieldNames()
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows], to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def footer_stats(spark: SparkSession, path: str, files: list[str]) -> DataFrame:
    """Stats rows of ``files`` under the dataset at ``path``. Up to 32
    files (the write-through append) the footers are read on the
    driver: they are kilobytes, and a distributed scan would cost a
    parallelize/mapPartitions job round-trip. Above that, the
    distributed :func:`collect_file_stats`."""
    if len(files) > 32:
        return collect_file_stats(spark, path, files=files)
    rows = list(_read_footers(_partition_base(path), files, dict(_SCHEME_FILESYSTEMS)))
    return _local_rows(spark, rows, STATS_SCHEMA)


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
    if files is None:
        files = list_files(spark, path, suffixes=(".parquet",))
    if not files:
        return spark.createDataFrame([], STATS_SCHEMA)
    base = _partition_base(path)
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


def survival(stats: DataFrame, column: str, lo=None, hi=None) -> list[tuple[str, bool]]:
    """``(file_path, survives)`` for EVERY stats row, in one collect:
    a file survives unless its min/max stats PROVE no row can match
    (reference semantics: `pydala/helpers/metadata.py:145-213` —
    unknown stats ⇒ keep).

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
    return [tuple(r) for r in s.select("file_path", (keep | cond).alias("survives")).collect()]


def prune_files(stats: DataFrame, column: str, lo=None, hi=None) -> list[str]:
    """The stats rows' files that :func:`survival` keeps (index-only:
    :func:`kept_files` adds the files ``stats`` has no row for)."""
    return [f for f, survives in survival(stats, column, lo, hi) if survives]


def kept_files(listed: Iterable[str], pairs: Iterable[tuple[str, bool]]) -> list[str]:
    """THE file-skip rule: a LISTED file is kept when ``pairs``
    (``(stored path, survives)``) mark it a survivor or hold no row for
    it (an append since the last refresh); a stored file no longer
    listed (deleted or rewritten since) is never returned. Paths
    compare :func:`schemeless`ly; the result is in ``listed``'s
    spelling, sorted."""
    survives: dict[str, bool] = {}
    for f, s in pairs:
        k = schemeless(f)
        survives[k] = survives.get(k, False) or bool(s)
    return sorted(f for f in listed if survives.get(schemeless(f), True))


def read_survivors(spark: SparkSession, root: str, files: list[str], empty=None) -> DataFrame:
    """THE survivor read: ``files`` with ``basePath`` at the dataset
    ``root``, so hive partition columns come back as in a full scan;
    with no survivor, the dataset's empty frame (``empty()``, default
    the root's read)."""
    if not files:
        return (empty() if empty is not None else spark.read.parquet(root)).limit(0)
    return spark.read.option("basePath", root).parquet(*files)


# -- the sidecar lifecycle ---------------------------------------------------

#: the shared scan's file column: the listing's schemeless spelling
_FILE = "__file"


@dataclass
class SidecarPlan:
    """One sidecar's sync, decided from its stored state before any
    data is read: which stored rows stay, which files get new rows,
    and which data columns those rows derive from."""

    path: str  # the sidecar directory
    added: list[str]  # files whose rows are derived now
    removed: set[str]  # files whose stored rows are dropped
    kept: DataFrame | None  # stored rows of the files still listed
    derive: Callable  # scan_for -> the added files' rows (or None)
    empty: T.StructType | str  # schema of a sidecar holding no rows
    result: Callable = lambda counts: counts  # sync counts -> caller's dict
    reads: dict[str, list[str]] = field(default_factory=dict)  # column -> files
    metrics: dict = field(default_factory=dict)  # observed in the publish
    one_file: bool = False


def listing(spark: SparkSession, path: str) -> dict[str, str]:
    """Every data file of the dataset: :func:`schemeless` key (how the
    bloom/NDV sidecars store file ids, and what ``input_file_col``
    yields) -> listing path. The listing is already qualified, so no
    file costs a JVM call of its own."""
    return {schemeless(f): f for f in list_files(spark, path, suffixes=(".parquet",))}


def read_state(
    spark: SparkSession, ipath: str, cols: list[str], where=None, distinct=False, schema=None
):
    """A sidecar's stored rows and its state — ``cols`` of the rows
    matching ``where`` — in ONE collect; ``(None, [])`` when absent."""
    if not path_exists(spark, ipath):
        return None, []
    old = (spark.read if schema is None else spark.read.schema(schema)).parquet(ipath)
    state = (old if where is None else old.where(where)).select(*cols)
    return old, (state.distinct() if distinct else state).collect()


def diff_files(keys: Iterable[str], indexed: set[str], old: DataFrame | None):
    """``(added, removed, kept)``: listed keys the sidecar holds no rows
    for, stored keys no longer listed, and the stored rows minus the
    removed keys' rows (None when nothing is indexed)."""
    keys = set(keys)
    removed = indexed - keys
    kept = old if indexed else None
    if kept is not None and removed:
        kept = old.filter(~F.col("file_path").isin(sorted(removed)))
    return sorted(keys - indexed), removed, kept


def publish_sidecar(
    spark: SparkSession, rows: DataFrame, ipath: str, one_file=False, metrics: dict | None = None
) -> dict:
    """The one staged publish of every sidecar: write ``rows`` beside
    the live directory, then swap it in (``replace_dir`` — a reader
    never sees a half-written sidecar). ``metrics`` (name -> aggregate)
    are observed in the write job itself. ``one_file`` writes through
    repartition(1), NOT coalesce(1): coalescing would pull the whole
    upstream plan into one task (measured 4.2 s vs 0.5 s through the
    shuffle on a 4-row index, r9); the shuffle moves kilobytes."""
    obs = Observation() if metrics else None
    if obs is not None:
        rows = rows.observe(obs, *[agg.alias(name) for name, agg in metrics.items()])
    staging = f"{ipath}__staging"
    (rows.repartition(1) if one_file else rows).write.mode("overwrite").parquet(staging)
    replace_dir(spark, staging, ipath)
    return obs.get if obs is not None else {}


def sync_sidecars(
    spark: SparkSession, path: str, current: dict[str, str], plans: dict[str, SidecarPlan]
) -> dict[str, dict]:
    """Publish every planned sidecar: its kept rows plus the rows
    derived for its added files. All derivations read ONE scan of the
    files any plan needs — the directory when that is every file (an
    explicit list of 10⁶ paths is a plan-size hazard) — materialized
    only when two or more column branches read it (the frames.py
    rule). ``current`` is :func:`listing`. Returns each plan's result
    by name."""
    needed = sorted({k for p in plans.values() for keys in p.reads.values() for k in keys})
    branches = [c for p in plans.values() for c in p.reads]
    scan = None
    if needed:
        if len(needed) == len(current):
            src = spark.read.parquet(path)
        else:
            # basePath keeps hive partition columns addressable even
            # though the read is an explicit subset
            src = spark.read.option("basePath", path).parquet(*[current[k] for k in needed])
        cols = [F.col(c) for c in dict.fromkeys(branches)]
        scan = src.select(input_file_col().alias(_FILE), *cols)
        if len(branches) > 1:
            scan = materialize(scan)

    def scan_for(keys: list[str]) -> DataFrame:
        # a branch reading the WHOLE scan skips the membership filter:
        # an isin() over 10⁶ literals is itself a plan-size hazard
        return scan if len(keys) == len(needed) else scan.filter(F.col(_FILE).isin(keys))

    out = {}
    for name, p in plans.items():
        counts = {"added": len(p.added), "removed": len(p.removed), "total": len(current)}
        if p.kept is not None and not (p.added or p.removed or p.reads):
            out[name] = p.result(counts)  # in sync: the stored sidecar stands
            continue
        parts = [f for f in (p.kept, p.derive(scan_for)) if f is not None]
        rows = reduce(DataFrame.unionByName, parts) if parts else spark.createDataFrame([], p.empty)
        seen = publish_sidecar(spark, rows, p.path, p.one_file, p.metrics)
        out[name] = p.result({**counts, **seen})
    return out


def sync_sidecar(spark: SparkSession, dataset_path: str, plan: Callable, *args, **kw) -> dict:
    """One sidecar through :func:`sync_sidecars`, planned by
    ``plan(spark, path, current, *args, **kw)``."""
    path = dataset_path.rstrip("/")
    current = listing(spark, path)
    return sync_sidecars(spark, path, current, {"": plan(spark, path, current, *args, **kw)})[""]


class StatsIndex:
    """Persistent, incrementally-refreshed stats table — the min/max
    sidecar of the lifecycle above (`pydala/metadata.py:105-145,
    341-439`: collect footers, diff new/removed files, append or
    rebuild).

    The index lives as parquet under ``<dataset>/_stats_index`` (the
    leading underscore hides it from Spark's file listing, exactly like
    the reference's ``_metadata`` sidecar convention). ``refresh()``
    footer-scans ONLY files added since the last refresh — at 100 TB
    with millions of files, a refresh after an append touches just the
    appended files' footers. Rows store the listing spelling of each
    file, which readers hand straight to ``spark.read``.
    """

    def __init__(self, spark: SparkSession, dataset_path: str, index_path: str | None = None):
        self.spark = spark
        self.dataset_path = dataset_path.rstrip("/")
        self.index_path = index_path or f"{self.dataset_path}/_stats_index"

    def exists(self) -> bool:
        return path_exists(self.spark, self.index_path) and bool(
            list_files(self.spark, self.index_path)
        )

    def stats(self) -> DataFrame:
        if not self.exists():
            self.refresh()
        return self.spark.read.schema(STATS_SCHEMA).parquet(self.index_path)

    def plan(self, current: dict[str, str]) -> SidecarPlan:
        """This index's :class:`SidecarPlan` against ``current``
        (:func:`listing`): footers of the added files only."""
        old, state = read_state(self.spark, self.index_path, ["file_path"], schema=STATS_SCHEMA)
        added, removed, kept = diff_files(current.values(), {r["file_path"] for r in state}, old)

        def derive(_scan_for):
            return footer_stats(self.spark, self.dataset_path, added) if added else None

        return SidecarPlan(
            self.index_path, added, removed, kept, derive, STATS_SCHEMA, one_file=True
        )

    def refresh(self) -> dict:
        """Bring the index in sync with the physical file list.
        Returns ``{"added": n, "removed": m, "total": k}``; only the
        added files' footers are read."""
        return sync_sidecar(self.spark, self.dataset_path, lambda _s, _p, cur: self.plan(cur))

    def prune(self, column: str, lo=None, hi=None) -> list[str]:
        """Index-side survivors only — files the INDEX cannot rule
        out. Files the index has never seen are not returned here;
        ``read_pruned`` adds them back (staleness-safe reads)."""
        return prune_files(self.stats(), column, lo, hi)

    def read_pruned(self, column: str, lo=None, hi=None) -> DataFrame:
        """Pruned scan, SAFE under a stale index (:func:`kept_files`):
        a file the index has not seen is scanned, a file deleted since
        the last refresh is not read. Partition columns are kept; rows
        outside [lo, hi] still need the caller's row filter."""
        listed = listing(self.spark, self.dataset_path).values()
        files = kept_files(listed, survival(self.stats(), column, lo, hi))
        return read_survivors(self.spark, self.dataset_path, files)


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

    from pyarrow import fs as _pafs

    base = _partition_base(dataset_path)
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
        finfo = dfs.get_file_info(dinner)
        if finfo.type == _pafs.FileType.NotFound:
            missing += 1
            continue
        rows.append(_stats_row(qpath, md, int(finfo.size), base))

    idx = StatsIndex(spark, dataset_path, index_path)
    publish_sidecar(spark, _local_rows(spark, rows, STATS_SCHEMA), idx.index_path, one_file=True)
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
            rel = schemeless(p)
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
    ``stats`` defaults to the listed files' footers; any stats frame
    goes through :func:`kept_files`.

    The returned DataFrame keeps hive partition columns and still needs
    the row-level filter applied by the caller (pruning is
    conservative, file granularity)."""
    path = path.rstrip("/")
    listed = sorted(listing(spark, path).values())
    st = stats if stats is not None else footer_stats(spark, path, listed)
    return read_survivors(spark, path, kept_files(listed, survival(st, column, lo, hi)))


# -- mergeable NDV sketches -------------------------------------------------


# column "" marks a file's membership
NDV_SCHEMA = "file_path string, column string, sketch binary, lg_k int"

_KEY_SCHEMA = T.StructType([T.StructField("file_path", T.StringType())])


def key_rows(spark: SparkSession, keys: list[str]) -> DataFrame:
    """One ``file_path`` row per key, as a local relation: the
    per-file membership rows (bloom sentinels, NDV markers) cost no
    job of their own."""
    return _local_rows(spark, [(k,) for k in keys], _KEY_SCHEMA)


def ndv_sidecar_path(dataset_path: str) -> str:
    return f"{dataset_path.rstrip('/')}/_ndv_sketches"


def _sketch_rows(scan: DataFrame, column: str, lg_k: int) -> DataFrame:
    """The NDV rows: one HLL sketch of ``column`` per file."""
    return (
        scan.select(F.col(_FILE).alias("file_path"), F.col(column).alias("__v"))
        .groupBy("file_path")
        .agg(F.hll_sketch_agg("__v", F.lit(lg_k)).alias("sketch"))
        .select("file_path", F.lit(column).alias("column"), "sketch", F.lit(lg_k).alias("lg_k"))
    )


def ndv_plan(
    spark: SparkSession,
    path: str,
    current: dict[str, str],
    columns: list[str],
    lg_k: int,
    index_path: str | None = None,
    rebuild: bool = False,
    require: bool = False,
) -> SidecarPlan | None:
    """The NDV sidecar's plan: with stored state, sketch the tracked
    columns for the added files and a requested column the sidecar
    does not track yet for EVERY listed file (else it would estimate
    zero forever); without (or on ``rebuild``), sketch ``columns`` over
    every file at ``lg_k``. ``require`` raises on a missing or empty
    sidecar instead; without either, nothing tracked or requested
    plans nothing (None). Every added file gets a marker row (column ""): a
    zero-row file emits no sketch, and without a membership record
    ``estimate_ndv``'s staleness guard would flag it forever."""
    from pydala2_spark.functions.safety import quote_identifier

    for c in columns:
        quote_identifier(c)
    ipath = index_path or ndv_sidecar_path(path)
    old, state = (None, []) if rebuild else read_state(
        spark, ipath, ["file_path", "column", "lg_k"], distinct=True, schema=NDV_SCHEMA
    )
    if require and not state:
        raise ValueError(
            f"no NDV sidecar at {ipath!r}; run build_ndv_sketches(spark, path, "
            f"columns=[...]) first (a refresh cannot know which columns to sketch)"
            if old is None
            else f"NDV sidecar at {ipath!r} is empty; re-run build_ndv_sketches"
        )
    lg_k = int(state[0]["lg_k"]) if state else lg_k
    tracked = list(dict.fromkeys(r["column"] for r in state if r["column"]))
    if not (tracked or columns or rebuild or require):
        return None
    new_columns = [c for c in columns if c not in tracked]
    added, removed, kept = diff_files(current, {r["file_path"] for r in state}, old)
    reads = {c: added for c in tracked if added}
    reads.update({c: sorted(current) for c in new_columns if current})

    def derive(scan_for):
        parts = [_sketch_rows(scan_for(keys), c, lg_k) for c, keys in reads.items()]
        if added:
            parts.append(
                key_rows(spark, added).select(
                    "file_path",
                    F.lit("").alias("column"),
                    F.lit(None).cast("binary").alias("sketch"),
                    F.lit(lg_k).alias("lg_k"),
                )
            )
        return reduce(DataFrame.unionByName, parts) if parts else None

    plan = SidecarPlan(ipath, added, removed, kept, derive, NDV_SCHEMA, reads=reads)
    if state:
        plan.result = lambda r: {**r, "new_columns": new_columns}
    else:  # a build reports its sketch rows, files and columns
        plan.metrics = {"rows": F.count(F.when(F.col("column") != "", 1))}
        plan.result = lambda r: {"rows": r["rows"], "files": r["total"], "columns": list(columns)}
    return plan


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
    Returns ``{"rows": sketches, "files": n, "columns": columns}``.
    """
    return sync_sidecar(spark, dataset_path, ndv_plan, columns, lg_k, index_path, rebuild=True)


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
    full-column scan, once). Raises on a missing or empty sidecar.
    Returns ``{"added": n, "removed": m, "total": k, "new_columns": c}``."""
    return sync_sidecar(spark, dataset_path, ndv_plan, columns or [], 12, index_path, require=True)


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
    or an explicit opt-in to a lower bound. A column the sidecar does
    not sketch raises a ``ValueError`` naming the sketched columns."""
    path = dataset_path.rstrip("/")
    ipath = index_path or ndv_sidecar_path(path)
    raw = spark.read.parquet(ipath)
    sk = raw.filter(F.col("column") == column)
    if files is None:
        files = list_files(spark, path, suffixes=(".parquet",))
    wanted = [schemeless(f) for f in files]
    need_filter = True
    if not missing_ok:
        # one collect: membership comes from the marker rows (column="")
        # so zero-row files count as sketched — sidecars without markers
        # fall back to the per-column rows
        state = (
            raw.filter(F.col("column").isin("", column))
            .select("file_path", "column")
            .distinct()
            .collect()
        )
        sk_files = {r["file_path"] for r in state if r["column"] == column}
        sketched = {r["file_path"] for r in state if r["column"] == ""} or sk_files
        missing = [f for f in wanted if f not in sketched]
        if missing:
            raise ValueError(
                f"{len(missing)} file(s) have no stored sketch for {column!r} "
                f"(e.g. {missing[0]}); re-run build_ndv_sketches or pass "
                f"missing_ok=True for a lower-bound estimate"
            )
        # sidecar holds exactly the wanted set → the membership filter
        # is a no-op; skip it (an isin over 10⁶ literal paths is a
        # plan-size hazard at scale). Both the markers AND the sketch
        # rows must match: a directory-read build can sketch a stray
        # non-.parquet-suffixed file the marker list never covers, and
        # an unfiltered union would silently inflate the estimate.
        need_filter = sketched != set(wanted) or not sk_files <= set(wanted)
    if need_filter:
        sk = sk.filter(F.col("file_path").isin(wanted))
    row = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("ndv"),
        F.count("sketch").alias("sketches"),
    ).first()
    if not row["sketches"]:
        # no sketch read: an untracked column must not pass for an empty
        # one (the marker rows cover every file whatever the column)
        tracked = sorted(r["column"] for r in raw.select("column").distinct().collect())
        if column not in tracked:
            raise ValueError(
                f"the NDV sidecar at {ipath!r} has no sketches of {column!r}; "
                f"sketched columns: {[c for c in tracked if c]}"
            )
    return int(row["ndv"] or 0)
