"""Distributed bloom-filter file index — point-lookup file skipping.

Min/max stats (:mod:`pydala2_spark.plans.stats`) prune RANGE
predicates, matching the reference's row-group pruning
(`/root/reference/pydala/helpers/metadata.py:145-266`). But at 100 TB
a point lookup on a high-cardinality, unclustered column (user id,
document id, content hash) prunes NOTHING that way: every file's
[min, max] spans the probe value, so `id = 123` still opens a million
files. A per-file bloom filter answers "can this file contain value
v?" with no false negatives, extending file-level skipping to
``col = v`` and ``col IN (...)`` — the needle-in-haystack shape that
dominates GDPR deletes, merge key lookups, and sample tracing.

Both halves stay distributed — nothing value-sized ever reaches the
driver:

* **BUILD** (and the incremental refresh) is the bloom branch of the
  one sidecar lifecycle in :mod:`pydala2_spark.plans.stats`: this
  module supplies the plan (:func:`bloom_plan`), the state read (the
  sentinel rows, one collect) and the rows themselves
  (:func:`_bloom_rows`); listing, diff and staged publish are shared
  with the StatsIndex, the NDV sketches and the fused ANALYZE. Each
  value hashes ``k`` ways (``xxhash64`` with k seed columns),
  positions fold into sparse 64-bit words with the ``bit_or``
  aggregate grouped by ``(file, word_index)``. Output is a parquet
  sidecar under ``<dataset>/_bloom_index/<column>`` (underscore prefix
  hides it from Spark scans, the reference's ``_metadata`` convention).
  Sidecar size is bounded by ``num_bits/64`` rows per file regardless
  of row count.
* **PROBE** hashes the probe values through the SAME Spark
  expressions (hash equality by construction — no Python reimpl to
  drift), joins them against the sidecar words, and keeps a file when
  ALL k bits of at least one probe value are set. The probe side is
  values×k rows — broadcast-scale for point/IN lookups, which is the
  use case; screening one dataset against another at scale is a join
  (`operators/curate.py` decontamination), not a bloom probe.

The skip rule is the min/max sidecar's (``stats.kept_files``): a
listed file is kept when the probe hits it or the sidecar does not
index it (appended after the build); a file whose column is entirely
NULL cannot hold a (non-null) probe value and is prunable. Only the
candidate FILE LIST reaches the driver; ``stats.read_survivors``
reads it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydala2_spark.functions.safety import quote_identifier

from pydala2_spark.plans.fs import path_exists

# Hadoop qualifies local paths as file:/x, input_file_name() as a
# URI-encoded file:///x — all sidecar paths are stored and compared
# in the listing's scheme-free spelling (stats.listing, fs.input_file_col)
from pydala2_spark.plans.stats import (
    _FILE,
    SidecarPlan,
    diff_files,
    kept_files,
    key_rows,
    listing,
    read_state,
    read_survivors,
    sync_sidecar,
)

BLOOM_SCHEMA = (
    "file_path string, word_index long, word long, "
    "num_bits long, num_hashes int, value_type string"
)

#: sentinel word_index marking "this file was indexed" even when the
#: indexed column held no non-null values in it.
_SENTINEL = -1


def _bloom_sidecar_path(dataset_path: str, column: str) -> str:
    return f"{dataset_path.rstrip('/')}/_bloom_index/{column}"


def _positions(value_col: F.Column, num_bits: int, num_hashes: int) -> list[F.Column]:
    """The k bit positions of a value — shared verbatim between build
    and probe so the hash family can never diverge. Seeded variants of
    ``xxhash64`` come from hashing (value, seed) pairs."""
    return [
        F.pmod(F.xxhash64(value_col, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def _position_words(df: DataFrame, value_col: str, num_bits: int, num_hashes: int) -> DataFrame:
    """(…, value) → (…, hash_i, word_index, word_bit) rows."""
    pos = F.posexplode(
        F.array(*_positions(F.col(value_col), num_bits, num_hashes))
    )
    return (
        df.select("*", pos.alias("hash_i", "__pos"))
        .withColumn("word_index", F.shiftright(F.col("__pos"), 6))
        # shiftleft with a column amount needs the SQL form; the bit
        # stays a long so bit_or folds 64 positions per word
        .withColumn("word_bit", F.expr("shiftleft(1L, int(__pos & 63))"))
        .drop("__pos", value_col)
    )


def check_geometry(num_bits: int, num_hashes: int) -> None:
    """Reject a geometry no probe can trust: an unvalidated
    num_hashes=0 sidecar would make every probe silently prune ALL
    files."""
    if num_bits < 64 or num_bits & (num_bits - 1):
        raise ValueError(f"num_bits must be a power of two >= 64, got {num_bits}")
    if not 1 <= num_hashes <= 16:
        raise ValueError(f"num_hashes must be in [1, 16], got {num_hashes}")


def _bloom_rows(
    scan: DataFrame, column: str, files: list[str], num_bits: int, num_hashes: int, value_type: str
) -> DataFrame:
    """The bloom rows: ``column``'s sparse words for ``files``
    from a shared-scan frame, plus one sentinel row per file. Values
    are cast to ``value_type``: xxhash64 is TYPE-sensitive, so schema
    drift in appended files (int32 vs the indexed bigint) must not
    diverge the hash family from the probe side (a no-op on a build,
    whose type is the column's own)."""
    values = scan.select(
        F.col(_FILE).alias("file_path"), F.col(column).cast(value_type).alias("__v")
    ).where(F.col("__v").isNotNull())
    words = (
        _position_words(values, "__v", num_bits, num_hashes)
        .groupBy("file_path", "word_index")
        .agg(F.bit_or("word_bit").alias("word"))
    )
    # sentinel row per file: marks membership in the index so the probe
    # can tell "indexed, value absent" (prunable) from "appended after
    # the build" (must keep). Metadata-scale.
    sentinels = key_rows(scan.sparkSession, files).select(
        "file_path",
        F.lit(_SENTINEL).cast("long").alias("word_index"),
        F.lit(0).cast("long").alias("word"),
    )
    return (
        words.unionByName(sentinels)
        .withColumn("num_bits", F.lit(num_bits).cast("long"))
        .withColumn("num_hashes", F.lit(num_hashes).cast("int"))
        .withColumn("value_type", F.lit(value_type))
    )


def _bloom_state(spark: SparkSession, ipath: str):
    """The stored rows, and the sentinel rows (one per indexed file,
    carrying the geometry and value type) in one collect. The stored
    schema is fixed, so no job infers it."""
    cols = ["file_path", "num_bits", "num_hashes", "value_type"]
    sentinel = F.col("word_index") == _SENTINEL
    return read_state(spark, ipath, cols, where=sentinel, schema=BLOOM_SCHEMA)


def bloom_plan(
    spark: SparkSession,
    path: str,
    current: dict[str, str],
    column: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    index_path: str | None = None,
    rebuild: bool = False,
) -> SidecarPlan:
    """The bloom sidecar's plan for ``column``: with stored sentinels,
    hash the added files with the stored geometry and value type;
    without (a missing or emptied sidecar) or on ``rebuild``, hash
    every file with the given geometry."""
    quote_identifier(column)  # raises on non-identifier names
    check_geometry(num_bits, num_hashes)
    ipath = index_path or _bloom_sidecar_path(path, column)
    old, state = (None, []) if rebuild else _bloom_state(spark, ipath)
    value_type = None
    if state:
        s = state[0]
        num_bits, num_hashes, value_type = int(s["num_bits"]), int(s["num_hashes"]), s["value_type"]
    elif not current:
        raise FileNotFoundError(f"no parquet data files under {path!r} to index")
    added, removed, kept = diff_files(current, {r["file_path"] for r in state}, old)

    def derive(scan_for):
        if not added:
            return None
        scan = scan_for(added)
        vt = value_type or scan.schema[column].dataType.simpleString()
        return _bloom_rows(scan, column, added, num_bits, num_hashes, vt)

    reads = {column: added} if added else {}
    plan = SidecarPlan(ipath, added, removed, kept, derive, BLOOM_SCHEMA, reads=reads)
    if rebuild:  # build_bloom_index reports files and stored words
        plan.metrics = {"words": F.count(F.when(F.col("word_index") != _SENTINEL, 1))}
        plan.result = lambda r: {"files": r["total"], "words": r["words"]}
    return plan


def build_bloom_index(
    spark: SparkSession,
    dataset_path: str,
    column: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    index_path: str | None = None,
) -> dict:
    """Build (or rebuild) the bloom sidecar for ``column``.

    One scan: k-way hash → ``bit_or`` per (file, word). With the
    default 2^20 bits/file and k=5, a file holding 100k distinct
    values probes at ~0.8 % false-positive rate, and the sidecar costs
    at most 16384 words (≤128 KiB) per file — independent of file row
    count, so a million-file dataset's index is ~16 GB worst case and
    usually far smaller (sparse words only for set bits).

    Returns ``{"files": n, "words": w}``.
    """
    return sync_sidecar(
        spark, dataset_path, bloom_plan, column, num_bits, num_hashes, index_path, rebuild=True
    )


def refresh_bloom_index(
    spark: SparkSession,
    dataset_path: str,
    column: str,
    index_path: str | None = None,
) -> dict:
    """Incremental sidecar refresh (the ``StatsIndex.refresh``
    discipline): hash ONLY files added since the build, drop rows of
    removed files, keep everything else by name. After a 1 %-of-files
    append, the refresh scans 1 % of the data — at millions of files
    that is the difference between a usable index and a nightly
    rebuild. A missing (or emptied) sidecar is built with the default
    geometry. Returns ``{"added": n, "removed": m, "total": k}``.
    """
    return sync_sidecar(spark, dataset_path, bloom_plan, column, index_path=index_path)


def bloom_prune(
    spark: SparkSession,
    dataset_path: str,
    column: str,
    values: list,
    index_path: str | None = None,
) -> list[str]:
    """Files that MAY contain any of ``values`` in ``column``.

    No false negatives: every file actually holding one of the values
    survives. False positives at the sidecar's configured rate. Files
    newer than the index are kept unseen, files deleted since the last
    refresh are dropped (:func:`stats.kept_files`).
    """
    quote_identifier(column)  # raises on non-identifier names
    path = dataset_path.rstrip("/")
    ipath = index_path or _bloom_sidecar_path(path, column)
    listed = listing(spark, path).values()
    if not values:
        return [] if path_exists(spark, ipath) else sorted(listed)
    idx, state = _bloom_state(spark, ipath)
    if not state:  # no (or an emptied) sidecar indexes nothing
        return kept_files(listed, [])
    num_bits, num_hashes, value_type = (
        int(state[0]["num_bits"]),
        int(state[0]["num_hashes"]),
        state[0]["value_type"],
    )

    # probe values must hash EXACTLY as the build side did, so they
    # must enter the plan in the column's native type. Direct typed
    # construction handles every type faithfully (bytes → binary —
    # str(bytes) would hash the repr and silently false-negative).
    # The string→cast fallback exists ONLY for convenience probes like
    # an int against a string column, is entered only on the specific
    # type-mismatch error, and never for binary columns (a repr-hashed
    # bytes probe would violate the no-false-negative contract).
    try:
        probe_raw = spark.createDataFrame(
            [(v,) for v in values], f"__v {value_type}"
        )
    except TypeError:
        if value_type == "binary" or any(isinstance(v, (bytes, bytearray)) for v in values):
            raise
        probe_raw = spark.createDataFrame(
            [(str(v),) for v in values], "raw string"
        ).select(F.col("raw").cast(value_type).alias("__v"))
    probe = probe_raw.select(
        F.monotonically_increasing_id().alias("value_id"), "__v"
    )
    probe_words = _position_words(probe, "__v", num_bits, num_hashes)

    # a file may contain a value iff all k of its bits are set there.
    # The sidecar holds one row per (file_path, word_index) and the
    # probe one per (value_id, hash_i), so each hash of a value joins at
    # most one row per file: a plain count is the distinct-hash count,
    # in one shuffle (the set below drops repeated files)
    hits = (
        idx.where(F.col("word_index") != _SENTINEL)
        .join(F.broadcast(probe_words), "word_index")
        .where(F.col("word").bitwiseAND(F.col("word_bit")) == F.col("word_bit"))
        .groupBy("file_path", "value_id")
        .count()
        .where(F.col("count") == F.lit(num_hashes))
        .select("file_path")
    )
    hit = {r["file_path"] for r in hits.collect()}
    return kept_files(listed, [(r["file_path"], r["file_path"] in hit) for r in state])


def read_bloom_pruned(
    spark: SparkSession,
    dataset_path: str,
    column: str,
    values: list,
    index_path: str | None = None,
) -> DataFrame:
    """Scan only the bloom-surviving files (partition columns kept);
    the caller still applies the row-level ``isin`` filter."""
    files = bloom_prune(spark, dataset_path, column, values, index_path)
    return read_survivors(spark, dataset_path.rstrip("/"), files)
