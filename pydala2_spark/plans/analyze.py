"""Fused ANALYZE — every skipping sidecar from one footer pass + one
data pass.

``Catalog.analyze`` used to build the three sidecars sequentially:
StatsIndex (footer scan), one bloom build per column (data scan each),
NDV sketches (data scan per column). Over the same files that is
1 + |bloom| + |ndv| reads of the same bytes — at 100 TB the re-reads
dwarf the sidecar math. Here every per-column derivation branches off
ONE persisted projection of the union of files any sidecar still
needs, so an analyze after an append reads the appended files' data
exactly once (plus their footers once), no matter how many columns
are indexed.

Outputs are row-identical to the single-sidecar builders in
:mod:`pydala2_spark.plans.bloom` / :mod:`pydala2_spark.plans.stats`:
the bloom word expressions are IMPORTED from the bloom module (the
hash family cannot drift from the probe side), and the NDV branch
follows ``build_ndv_sketches`` / ``refresh_ndv_sketches`` shape for
shape. Per-sidecar incremental discipline is preserved even when the
sidecars are out of sync (e.g. bloom built last week, NDV never):
each computes its own added/removed set and filters the shared scan
to the files it actually needs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize

_BLOOM_EMPTY_SCHEMA = (
    "file_path string, word_index long, word long, "
    "num_bits long, num_hashes int, value_type string"
)


def analyze_dataset(
    spark: SparkSession,
    dataset_path: str,
    bloom_columns: list[str] | None = None,
    ndv_columns: list[str] | None = None,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    lg_k: int = 12,
) -> dict:
    """Build or incrementally refresh the min/max StatsIndex (always),
    bloom sidecars for ``bloom_columns``, and HLL NDV sketches for
    ``ndv_columns`` — with at most ONE data-reading scan shared by all
    bloom/NDV branches (the StatsIndex needs footers only).

    Returns the same result dict as the sequential builders:
    ``{"stats": …, "bloom:<col>": …, "ndv": …}``.
    """
    from pydala2_spark.functions.safety import quote_identifier
    from pydala2_spark.plans.bloom import (
        _SENTINEL,
        _bloom_sidecar_path,
        _position_words,
    )
    from pydala2_spark.plans.fs import (
        input_file_col,
        list_files,
        path_exists,
        qualified,
        replace_dir,
        schemeless,
    )
    from pydala2_spark.plans.stats import StatsIndex, ndv_sidecar_path

    # same guards as build_bloom_index — an unvalidated num_hashes=0
    # sidecar would make every probe silently prune ALL files
    if num_bits < 64 or num_bits & (num_bits - 1):
        raise ValueError(f"num_bits must be a power of two >= 64, got {num_bits}")
    if not 1 <= num_hashes <= 16:
        raise ValueError(f"num_hashes must be in [1, 16], got {num_hashes}")
    path = dataset_path.rstrip("/")
    out: dict = {"stats": StatsIndex(spark, path).refresh()}
    bloom_columns = list(dict.fromkeys(bloom_columns or []))
    ndv_columns = list(dict.fromkeys(ndv_columns or []))
    if not bloom_columns and not ndv_columns:
        return out

    # schemeless key (how sidecars store file ids) → original listing path
    current = {
        schemeless(qualified(spark, f)): f
        for f in list_files(spark, path, suffixes=(".parquet",))
    }

    # -- plan phase: per-sidecar state, metadata-only reads --------------
    bloom_tasks = []
    for c in bloom_columns:
        quote_identifier(c)
        ipath = _bloom_sidecar_path(path, c)
        first = None
        if path_exists(spark, ipath):
            old = spark.read.parquet(ipath)
            # an EMPTY sidecar (all files removed since the last
            # refresh) has no parameter row — rebuild from scratch
            # instead of crashing on first[...] below
            first = old.select("num_bits", "num_hashes", "value_type").first()
        if first is not None:
            indexed = {r["file_path"] for r in old.select("file_path").distinct().collect()}
            added = sorted(k for k in current if k not in indexed)
            removed = indexed - set(current)
            kept = old.filter(
                ~F.col("file_path").isin(list(removed)) if removed else F.lit(True)
            )
            bloom_tasks.append(
                {
                    "column": c,
                    "ipath": ipath,
                    "kept": kept,
                    "added": added,
                    "nb": int(first["num_bits"]),
                    "nh": int(first["num_hashes"]),
                    "vt": first["value_type"],
                    "meta": {
                        "added": len(added),
                        "removed": len(removed),
                        "total": len(current),
                    },
                }
            )
        else:
            added = sorted(current)
            bloom_tasks.append(
                {
                    "column": c,
                    "ipath": ipath,
                    "kept": None,
                    "added": added,
                    "nb": num_bits,
                    "nh": num_hashes,
                    "vt": None,  # resolved from the scan schema (build path)
                    "meta": {"added": len(added), "removed": 0, "total": len(current)},
                }
            )

    ndv_task = None
    if ndv_columns:
        ipath = ndv_sidecar_path(path)
        first = None
        if path_exists(spark, ipath):
            old = spark.read.parquet(ipath)
            first = old.select("lg_k").first()  # None = empty → rebuild
        if first is not None:
            k = int(first["lg_k"])
            tracked = [
                r["column"]
                for r in old.select("column").distinct().collect()
                if r["column"]
            ]
            new_columns = [c for c in ndv_columns if c not in tracked]
            for c in new_columns:
                quote_identifier(c)
            indexed = {r["file_path"] for r in old.select("file_path").distinct().collect()}
            added = sorted(kk for kk in current if kk not in indexed)
            removed = indexed - set(current)
            ndv_task = {
                "ipath": ipath,
                "kept": old.filter(
                    ~F.col("file_path").isin(list(removed)) if removed else F.lit(True)
                ),
                "lg_k": k,
                "tracked": tracked,
                "new_columns": new_columns,
                "added": added,
                "build": False,
                "meta": {
                    "added": len(added),
                    "removed": len(removed),
                    "total": len(current),
                    "new_columns": new_columns,
                },
            }
        else:
            for c in ndv_columns:
                quote_identifier(c)
            ndv_task = {
                "ipath": ipath,
                "kept": None,
                "lg_k": lg_k,
                "tracked": [],
                "new_columns": ndv_columns,
                "added": sorted(current),
                "build": True,
            }

    # -- the ONE data pass: union of every sidecar's needed files --------
    needed: set[str] = set()
    for t in bloom_tasks:
        needed.update(t["added"])
    if ndv_task:
        needed.update(ndv_task["added"])
        if ndv_task["new_columns"] and not ndv_task["build"]:
            # a newly tracked NDV column needs sketches for EVERY file
            needed.update(current)
    needed_cols = list(
        dict.fromkeys(
            [t["column"] for t in bloom_tasks]
            + (ndv_task["tracked"] + ndv_task["new_columns"] if ndv_task else [])
        )
    )

    scan = None
    if needed:
        if set(current) == needed:
            # full build: read the DIRECTORY — at 10⁶ files an explicit
            # path list is a driver-memory/plan-size hazard the listing
            # Spark does anyway avoids (same read shape as the
            # sequential builders)
            src = spark.read.parquet(path)
        else:
            # incremental: basePath keeps hive partition columns
            # addressable even though the read is an explicit subset
            src = spark.read.option("basePath", path).parquet(
                *[current[k] for k in sorted(needed)]
            )
        # every sidecar branch below reads this one materialized scan
        scan = materialize(
            src.select(input_file_col().alias("__file"), *[F.col(c) for c in needed_cols])
        )

    def _scan_for(files: list[str]):
        # a branch that needs the WHOLE scan skips the membership
        # filter — an isin() over 10⁶ literals is itself a plan-size
        # hazard; incremental branches filter on their (small) set
        if set(files) == needed:
            return scan
        return scan.filter(F.col("__file").isin(files))

    for t in bloom_tasks:
        c = t["column"]
        vt = t["vt"]
        if vt is None:
            src = scan if scan is not None else spark.read.parquet(path)
            vt = src.schema[c].dataType.simpleString()
        parts = [t["kept"]] if t["kept"] is not None else []
        if t["added"]:
            # refresh casts to the sidecar's stored type (schema
            # drift must not diverge the hash family); a fresh build
            # hashes the native type, exactly like build_bloom_index
            vcol = F.col(c).cast(vt) if t["kept"] is not None else F.col(c)
            values = (
                _scan_for(t["added"])
                .select(F.col("__file").alias("file_path"), vcol.alias("__v"))
                .where(F.col("__v").isNotNull())
            )
            words = (
                _position_words(values, "__v", t["nb"], t["nh"])
                .groupBy("file_path", "word_index")
                .agg(F.bit_or("word_bit").alias("word"))
            )
            sentinels = spark.createDataFrame(
                [(k2, _SENTINEL, 0) for k2 in t["added"]],
                "file_path string, word_index long, word long",
            )
            parts.append(
                words.unionByName(sentinels)
                .withColumn("num_bits", F.lit(t["nb"]).cast("long"))
                .withColumn("num_hashes", F.lit(t["nh"]).cast("int"))
                .withColumn("value_type", F.lit(vt))
            )
        new_index = parts[0] if parts else spark.createDataFrame([], _BLOOM_EMPTY_SCHEMA)
        for p in parts[1:]:
            new_index = new_index.unionByName(p)
        staging = f"{t['ipath']}__staging"
        new_index.write.mode("overwrite").parquet(staging)
        replace_dir(spark, staging, t["ipath"])
        out[f"bloom:{c}"] = t["meta"]

    if ndv_task:
        k = ndv_task["lg_k"]
        parts = [ndv_task["kept"]] if ndv_task["kept"] is not None else []

        def _sketch(files: list[str], col: str):
            return (
                _scan_for(files)
                .select(F.col("__file").alias("file_path"), F.col(col).alias("__v"))
                .groupBy("file_path")
                .agg(F.hll_sketch_agg("__v", F.lit(k)).alias("sketch"))
                .select(
                    "file_path",
                    F.lit(col).alias("column"),
                    "sketch",
                    F.lit(k).alias("lg_k"),
                )
            )

        if ndv_task["build"]:
            allf = sorted(current)
            for c in ndv_task["new_columns"]:
                if allf:
                    parts.append(_sketch(allf, c))
            markers = (
                spark.createDataFrame(
                    [(f, "") for f in allf], "file_path string, column string"
                )
                .withColumn("sketch", F.lit(None).cast("binary"))
                .withColumn("lg_k", F.lit(k))
            )
            parts.append(markers)
        else:
            allf = sorted(current)
            for c in ndv_task["new_columns"]:
                if allf:
                    parts.append(_sketch(allf, c))
            if ndv_task["added"]:
                for c in ndv_task["tracked"]:
                    parts.append(_sketch(ndv_task["added"], c))
                parts.append(
                    spark.createDataFrame(
                        [(f, "") for f in ndv_task["added"]],
                        "file_path string, column string",
                    )
                    .withColumn("sketch", F.lit(None).cast("binary"))
                    .withColumn("lg_k", F.lit(k))
                )

        new_index = parts[0]
        for p in parts[1:]:
            new_index = new_index.unionByName(p)
        staging = f"{ndv_task['ipath']}__staging"
        new_index.write.mode("overwrite").parquet(staging)
        replace_dir(spark, staging, ndv_task["ipath"])
        if ndv_task["build"]:
            n = (
                spark.read.parquet(ndv_task["ipath"])
                .filter(F.col("column") != "")
                .count()
            )
            out["ndv"] = {
                "rows": n,
                "files": len(current),
                "columns": list(ndv_columns),
            }
        else:
            out["ndv"] = ndv_task["meta"]
    return out


def existing_sidecar_columns(spark: SparkSession, dataset_path: str) -> dict:
    """Discover which skipping sidecars the layout already carries —
    ``{"bloom": [cols], "ndv": [cols]}`` — from metadata only (one
    directory listing for bloom, one sidecar-parquet column scan for
    NDV; neither touches data files). The write-through refresh uses
    this so a plain ``update_metadata=True`` maintains exactly the
    sidecars an operator previously opted into, no more."""
    from pydala2_spark.plans.fs import _fs_and_path, path_exists
    from pydala2_spark.plans.stats import ndv_sidecar_path

    path = dataset_path.rstrip("/")
    out: dict = {"bloom": [], "ndv": []}
    broot = f"{path}/_bloom_index"
    if path_exists(spark, broot):
        fs, hpath, _ = _fs_and_path(spark, broot)
        for st in fs.listStatus(hpath):
            if st.isDirectory():
                out["bloom"].append(st.getPath().getName())
        out["bloom"].sort()
    npath = ndv_sidecar_path(path)
    if path_exists(spark, npath):
        rows = (
            spark.read.parquet(npath)
            .select("column")
            .filter(F.col("column") != "")
            .distinct()
            .collect()
        )
        out["ndv"] = sorted(r["column"] for r in rows)
    return out


def refresh_metadata(spark: SparkSession, dataset_path: str) -> dict:
    """Write-through sidecar refresh — the reference's
    ``update_metadata=True`` contract (`pydala/dataset.py:1479-1530`:
    every write folds the new files into `_metadata` without a manual
    rebuild). Here: the min/max StatsIndex always refreshes, and every
    bloom / NDV sidecar that already exists on the layout refreshes
    incrementally — new files' data is read ONCE, shared across all
    sidecars, via :func:`analyze_dataset`. Sidecars the caller never
    built are not invented (building one is an explicit opt-in with
    geometry choices); use ``Catalog.analyze`` / ``analyze_dataset``
    to add one.
    """
    found = existing_sidecar_columns(spark, dataset_path)
    return analyze_dataset(
        spark,
        dataset_path,
        bloom_columns=found["bloom"],
        ndv_columns=found["ndv"],
    )
