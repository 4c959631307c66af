"""Fused ANALYZE — every skipping sidecar from one footer pass + one
data pass.

Building the sidecars one by one — StatsIndex (footer scan), one bloom
build per column, NDV sketches — reads the same bytes
1 + |bloom| + |ndv| times; at 100 TB the re-reads dwarf the sidecar
math. ``analyze_dataset`` instead plans every requested sidecar
(:class:`~pydala2_spark.plans.stats.SidecarPlan`: stored state read in
one collect, added/removed files diffed per sidecar) and hands them
all to the ONE sidecar lifecycle, ``stats.sync_sidecars``: every
derivation reads one shared scan of the union of files any sidecar
still needs, so an analyze after an append reads the appended files'
data exactly once (plus their footers once), however many columns are
indexed.

The single-sidecar entry points (``StatsIndex.refresh``,
``build_bloom_index`` / ``refresh_bloom_index``,
``build_ndv_sketches`` / ``refresh_ndv_sketches``) are the same call
with one plan, so their sidecars are row-identical by construction:
the same row derivations, the same state reads, the same staged publish.
Per-sidecar incremental discipline holds even when the sidecars are
out of sync (e.g. bloom built last week, NDV never): each plan diffs
its own stored files and reads only the files it needs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pydala2_spark.plans.bloom import bloom_plan, check_geometry
from pydala2_spark.plans.stats import StatsIndex, listing, ndv_plan, sync_sidecars


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
    bloom/NDV branches (the StatsIndex needs footers only). A missing
    or emptied bloom/NDV sidecar is built with the given geometry.

    Returns the same result dict as the sequential builders:
    ``{"stats": …, "bloom:<col>": …, "ndv": …}``.
    """
    check_geometry(num_bits, num_hashes)
    path = dataset_path.rstrip("/")
    current = listing(spark, path)
    plans = {"stats": StatsIndex(spark, path).plan(current)}
    for c in dict.fromkeys(bloom_columns or []):
        plans[f"bloom:{c}"] = bloom_plan(spark, path, current, c, num_bits, num_hashes)
    if ndv_columns:
        plans["ndv"] = ndv_plan(spark, path, current, list(dict.fromkeys(ndv_columns)), lg_k)
    return sync_sidecars(spark, path, current, plans)


def existing_sidecar_columns(spark: SparkSession, dataset_path: str) -> dict:
    """The bloom sidecars the layout already carries — ``{"bloom":
    [cols]}`` — from one directory listing (no Spark job)."""
    from pydala2_spark.plans.fs import child_dirs

    return {"bloom": child_dirs(spark, f"{dataset_path.rstrip('/')}/_bloom_index")}


def refresh_metadata(spark: SparkSession, dataset_path: str) -> dict:
    """Write-through sidecar refresh — the reference's
    ``update_metadata=True`` contract (`pydala/dataset.py:1479-1530`:
    every write folds the new files into `_metadata` without a manual
    rebuild). Here: the min/max StatsIndex always refreshes, and every
    bloom / NDV sidecar that already exists on the layout refreshes
    incrementally — new files' data is read ONCE, shared across all
    sidecars (``sync_sidecars``); NDV refreshes the columns its own
    state read finds. Sidecars the caller never built are not invented
    (building one is an explicit opt-in with geometry choices); use
    ``Catalog.analyze`` / ``analyze_dataset`` to add one.
    """
    path = dataset_path.rstrip("/")
    current = listing(spark, path)
    plans = {"stats": StatsIndex(spark, path).plan(current)}
    for c in existing_sidecar_columns(spark, path)["bloom"]:
        plans[f"bloom:{c}"] = bloom_plan(spark, path, current, c)
    # no requested column: the stored state supplies the columns and lg_k
    ndv = ndv_plan(spark, path, current, [], 12)
    if ndv is not None:
        plans["ndv"] = ndv
    return sync_sidecars(spark, path, current, plans)
