"""Fused ANALYZE contracts: one shared data scan builds sidecars
row-identical to the sequential single-sidecar builders, incremental
discipline survives per-sidecar, and the data is opened exactly once
per analyze regardless of how many columns are indexed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pydala2_spark.plans.analyze import analyze_dataset
from pydala2_spark.plans.bloom import _SENTINEL, bloom_prune, refresh_bloom_index
from pydala2_spark.plans.stats import (
    StatsIndex,
    build_ndv_sketches,
    estimate_ndv,
    ndv_sidecar_path,
    refresh_ndv_sketches,
)

from conftest import make_simple_pdf


def _write_batches(spark, path, n_batches, rows=40):
    for i in range(n_batches):
        pdf = make_simple_pdf(rows, seed=i * rows)
        spark.createDataFrame(pdf).repartition(1).write.mode("append").parquet(path)


def _bloom_rows(spark, path, col):
    df = spark.read.parquet(f"{path}/_bloom_index/{col}")
    return sorted(
        (r["file_path"], r["word_index"], r["word"], r["num_bits"], r["num_hashes"], r["value_type"])
        for r in df.collect()
    )


def _ndv_membership(spark, path):
    df = spark.read.parquet(ndv_sidecar_path(path))
    return sorted(
        (r["file_path"], r["column"], r["lg_k"]) for r in df.collect()
    )


def test_fused_equals_sequential(spark, tmp_ds_path):
    """The fused build must produce sidecars row-identical (bloom) /
    estimate-identical (NDV — sketch bytes legitimately vary with
    merge order) to the sequential builders over the SAME data: build
    sequentially, record, wipe the sidecars, build fused, compare."""
    import shutil

    _write_batches(spark, tmp_ds_path, 3)

    StatsIndex(spark, tmp_ds_path).refresh()
    refresh_bloom_index(spark, tmp_ds_path, "id")
    refresh_bloom_index(spark, tmp_ds_path, "name")
    build_ndv_sketches(spark, tmp_ds_path, ["id", "name"])
    seq_bloom = {c: _bloom_rows(spark, tmp_ds_path, c) for c in ("id", "name")}
    seq_stats = sorted(
        (r["file_path"], r["num_rows"], r["size_bytes"])
        for r in StatsIndex(spark, tmp_ds_path).stats().collect()
    )
    seq_ndv = {c: estimate_ndv(spark, tmp_ds_path, c) for c in ("id", "name")}
    seq_members = _ndv_membership(spark, tmp_ds_path)

    for side in ("_bloom_index", "_ndv_sketches", "_stats_index"):
        shutil.rmtree(f"{tmp_ds_path}/{side}", ignore_errors=True)

    out = analyze_dataset(
        spark, tmp_ds_path, bloom_columns=["id", "name"], ndv_columns=["id", "name"]
    )
    assert out["stats"]["added"] == 3
    assert out["bloom:id"]["added"] == 3 and out["bloom:name"]["added"] == 3
    assert out["ndv"]["files"] == 3 and sorted(out["ndv"]["columns"]) == ["id", "name"]

    # bloom words are deterministic (bit_or is order-free): word-for-word
    for col in ("id", "name"):
        assert _bloom_rows(spark, tmp_ds_path, col) == seq_bloom[col]
    assert (
        sorted(
            (r["file_path"], r["num_rows"], r["size_bytes"])
            for r in StatsIndex(spark, tmp_ds_path).stats().collect()
        )
        == seq_stats
    )
    for col in ("id", "name"):
        assert estimate_ndv(spark, tmp_ds_path, col) == seq_ndv[col]
    assert _ndv_membership(spark, tmp_ds_path) == seq_members


def test_fused_incremental_and_out_of_sync(spark, tmp_ds_path):
    """After an append, fused analyze must (a) index only the appended
    files for already-built sidecars, (b) full-scan a newly requested
    NDV column, (c) keep bloom's no-false-negative contract."""
    _write_batches(spark, tmp_ds_path, 2)
    analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], ndv_columns=["id"])

    _write_batches(spark, tmp_ds_path, 1)  # ids 0..39 again → one more file
    out = analyze_dataset(
        spark, tmp_ds_path, bloom_columns=["id", "name"], ndv_columns=["id", "name"]
    )
    assert out["stats"]["added"] == 1 and out["stats"]["total"] == 3
    assert out["bloom:id"]["added"] == 1  # incremental
    assert out["bloom:name"]["added"] == 3  # fresh build
    assert out["ndv"]["added"] == 1 and out["ndv"]["new_columns"] == ["name"]

    # bloom: every id value must keep its containing file (no false negatives)
    for probe, n_expected_min in ((0, 2), (45, 1), (75, 1)):
        kept = bloom_prune(spark, tmp_ds_path, "id", [probe])
        df = spark.read.parquet(*kept).filter(F.col("id") == probe)
        want = spark.read.parquet(tmp_ds_path).filter(F.col("id") == probe).count()
        assert df.count() == want and want >= n_expected_min
    # NDV: the new column's estimate covers ALL files, not just appended
    approx = estimate_ndv(spark, tmp_ds_path, "name")
    exact = spark.read.parquet(tmp_ds_path).select("name").distinct().count()
    assert abs(approx - exact) <= max(2, exact * 0.05)


def test_fused_recovers_from_emptied_sidecars(spark, tmp_ds_path):
    """An analyze after ALL data files were removed writes EMPTY
    sidecars (no parameter rows); the next analyze over new files must
    REBUILD instead of crashing on the missing parameter row — and
    invalid bloom parameters are rejected up front (an unvalidated
    num_hashes=0 sidecar would silently prune every file)."""
    import shutil

    _write_batches(spark, tmp_ds_path, 2)
    analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], ndv_columns=["id"])

    # wipe data, keep sidecar dirs → refresh writes empty sidecars
    for f in spark.read.parquet(tmp_ds_path).inputFiles():
        import os

        os.remove(f.replace("file:", ""))
    analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], ndv_columns=["id"])

    _write_batches(spark, tmp_ds_path, 1)  # new data arrives
    out = analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], ndv_columns=["id"])
    assert out["bloom:id"]["added"] == 1 and out["ndv"]["files"] == 1
    kept = bloom_prune(spark, tmp_ds_path, "id", [5])
    assert spark.read.parquet(*kept).filter(F.col("id") == 5).count() == 1
    assert estimate_ndv(spark, tmp_ds_path, "id") > 0

    with pytest.raises(ValueError):
        analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], num_hashes=0)
    with pytest.raises(ValueError):
        analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], num_bits=1000)


def test_fused_single_data_scan(spark, tmp_ds_path, monkeypatch):
    """Structural pin for the fusion: with 2 bloom + 2 NDV columns, the
    DATA files are opened by exactly ONE DataFrameReader call (sidecar
    reads don't count; the StatsIndex footer pass doesn't go through
    the reader at all). Before the fusion this was 4+ data scans."""
    from pyspark.sql.readwriter import DataFrameReader

    _write_batches(spark, tmp_ds_path, 2)
    # pre-build so the refresh path (the common case) is what's pinned
    analyze_dataset(
        spark, tmp_ds_path, bloom_columns=["id", "name"], ndv_columns=["id", "name"]
    )
    _write_batches(spark, tmp_ds_path, 1)

    calls: list[tuple[str, ...]] = []
    orig = DataFrameReader.parquet

    def spy(self, *paths):
        calls.append(paths)
        return orig(self, *paths)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    out = analyze_dataset(
        spark, tmp_ds_path, bloom_columns=["id", "name"], ndv_columns=["id", "name"]
    )
    assert out["stats"]["added"] == 1

    sidecar_markers = ("_bloom_index", "_ndv_sketches", "_stats_index", "__staging")
    data_scans = [
        c for c in calls if not any(m in p for p in c for m in sidecar_markers)
    ]
    assert len(data_scans) == 1, f"expected 1 data scan, saw {data_scans}"
    # and that one scan touches only the appended file
    assert len(data_scans[0]) == 1


def test_update_metadata_write_through(spark, tmp_ds_path):
    """S12 write-through (reference ``update_metadata=True``,
    `pydala/dataset.py:1479-1530`): a write/DML with the knob folds the
    touched files into every EXISTING sidecar in the same call — a
    follow-up analyze finds nothing left to index — and never invents
    sidecars the caller didn't build."""
    import os

    from pydala2_spark.sources.dataset import CSVDataset, ParquetDataset

    _write_batches(spark, tmp_ds_path, 2)
    analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], ndv_columns=["id"])

    ds = ParquetDataset(tmp_ds_path, spark)
    ds.write_to_dataset(
        spark.createDataFrame(make_simple_pdf(40, seed=1000)),
        mode="append",
        update_metadata=True,
    )
    # everything the write added is already indexed in ALL sidecars
    out = analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], ndv_columns=["id"])
    assert out["stats"]["added"] == 0 and out["stats"]["removed"] == 0
    assert out["bloom:id"]["added"] == 0
    assert out["ndv"]["added"] == 0 and out["ndv"]["new_columns"] == []
    # no sidecar invention: only the opted-into bloom column exists
    assert os.listdir(f"{tmp_ds_path}/_bloom_index") == ["id"]

    # row-level DML write-through: rewritten-away files leave the
    # index, replacement files enter it, in the same call
    ds.delete_where("id < 5", update_metadata=True)
    out = analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], ndv_columns=["id"])
    assert out["stats"]["added"] == 0 and out["stats"]["removed"] == 0
    assert out["bloom:id"]["added"] == 0
    assert out["ndv"]["added"] == 0
    # the index matches the live layout exactly
    live = {p.rsplit("/", 1)[-1] for p in ds.files()}
    indexed = {
        r["file_path"].rsplit("/", 1)[-1]
        for r in StatsIndex(spark, tmp_ds_path).stats().collect()
    }
    assert indexed == live

    # sidecars are parquet-footer-derived: non-parquet formats refuse
    with pytest.raises(ValueError, match="parquet"):
        CSVDataset(f"{tmp_ds_path}_csv", spark).write_to_dataset(
            spark.createDataFrame(make_simple_pdf(5)), update_metadata=True
        )


def test_update_metadata_stats_only_when_no_sidecars(spark, tmp_ds_path):
    """With no sidecars built yet, ``update_metadata=True`` maintains
    just the StatsIndex (always-on min/max skipping) and leaves the
    opt-in bloom/NDV layers absent."""
    import os

    from pydala2_spark.sources.dataset import ParquetDataset

    ds = ParquetDataset(tmp_ds_path, spark)
    ds.write_to_dataset(
        spark.createDataFrame(make_simple_pdf(30)), mode="append", update_metadata=True
    )
    idx = StatsIndex(spark, tmp_ds_path)
    assert idx.exists() and idx.stats().count() >= 1
    assert idx.refresh()["added"] == 0  # nothing left unindexed
    assert not os.path.exists(f"{tmp_ds_path}/_bloom_index")
    assert not os.path.exists(ndv_sidecar_path(tmp_ds_path))

    # explicit method form: sync after an out-of-band write
    spark.createDataFrame(make_simple_pdf(5, seed=99)).repartition(1).write.mode(
        "append"
    ).parquet(tmp_ds_path)
    r = ds.refresh_metadata()
    assert r["stats"]["added"] == 1
    assert StatsIndex(spark, tmp_ds_path).refresh()["added"] == 0


def test_read_pruned_safe_under_stale_index(spark, tmp_ds_path):
    """A stale StatsIndex (append after the last refresh — or a lost
    concurrent write-through race) must degrade to extra I/O, never to
    silently missing rows: read_pruned unions every unindexed live
    file into the scan."""
    _write_batches(spark, tmp_ds_path, 2)
    idx = StatsIndex(spark, tmp_ds_path)
    idx.refresh()
    # out-of-band append the index has never seen
    spark.createDataFrame(make_simple_pdf(40, seed=5000)).repartition(1).write.mode(
        "append"
    ).parquet(tmp_ds_path)
    got = (
        idx.read_pruned("id", 5000, 5039)
        .filter("id BETWEEN 5000 AND 5039")
        .count()
    )
    assert got == 40  # the unindexed file's rows all arrive
    # prune() itself stays index-only (documented): no unindexed paths
    assert len(idx.prune("id", 5000, 5039)) == 0


def _write_partitioned(spark, path, n_files, rows=40):
    """``n_files`` single-file appends under hive ``year=`` dirs, ids
    disjoint per file (file i holds ids 40*i .. 40*i+39)."""
    for i in range(n_files):
        pdf = make_simple_pdf(rows, seed=i * rows)
        pdf["year"] = 2000 + i % 2
        spark.createDataFrame(pdf).repartition(1).write.mode("append").partitionBy(
            "year"
        ).parquet(path)


def test_pruned_reads_keep_partition_columns(spark, tmp_ds_path):
    """Every pruned entry point returns the full scan's columns on a
    hive-partitioned dataset — the partition column included — and
    the same rows as a filtered full scan."""
    from pydala2_spark.plans.bloom import build_bloom_index, read_bloom_pruned
    from pydala2_spark.plans.snapshots import SnapshotDataset
    from pydala2_spark.sources.dataset import ParquetDataset

    _write_partitioned(spark, tmp_ds_path, 4)
    full = spark.read.parquet(tmp_ds_path)
    assert "year" in full.columns
    want = sorted(tuple(r) for r in full.where("id BETWEEN 50 AND 60").collect())
    idx = StatsIndex(spark, tmp_ds_path)
    idx.refresh()
    build_bloom_index(spark, tmp_ds_path, "id")
    ds = ParquetDataset(tmp_ds_path, spark=spark)
    reads = {
        "StatsIndex.read_pruned": idx.read_pruned("id", 50, 60),
        "Dataset.scan": ds.scan("id", 50, 60),
        "Dataset.scan_point": ds.scan_point("id", list(range(50, 61))),
        "read_bloom_pruned": read_bloom_pruned(spark, tmp_ds_path, "id", list(range(50, 61))),
    }
    for name, df in reads.items():
        assert df.columns == full.columns, (name, df.columns)
        got = sorted(tuple(r) for r in df.select(*full.columns).where("id BETWEEN 50 AND 60").collect())
        assert got == want, name
    # nothing survives: still the dataset's columns
    assert idx.read_pruned("id", 10_000, 10_001).columns == full.columns

    snap = SnapshotDataset(spark, f"{tmp_ds_path}_snap")
    snap.commit(full, partition_by=["year"])
    assert snap.read_pruned("id", 50, 60).columns == snap.read().columns
    assert "year" in snap.read().columns


def test_read_pruned_after_out_of_band_delete(spark, tmp_ds_path):
    """A file deleted after the last refresh (``delete_where``,
    ``update_where`` and compaction do that with the default
    ``update_metadata=False``) is not read: the pruned read returns
    exactly the live rows in range, and ``explain_pruning`` counts
    only listed files."""
    import glob
    import os

    from pydala2_spark.sources.dataset import ParquetDataset

    _write_partitioned(spark, tmp_ds_path, 3)
    StatsIndex(spark, tmp_ds_path).refresh()
    os.remove(sorted(glob.glob(f"{tmp_ds_path}/year=2000/*.parquet"))[0])
    r = ParquetDataset(tmp_ds_path, spark=spark).explain_pruning("id", 0, 119)
    assert r["total_files"] == 2
    assert r["stats_kept"] <= r["total_files"]
    assert r["files_to_scan"] == 2

    live = spark.read.parquet(tmp_ds_path).where("id BETWEEN 0 AND 119")
    want = sorted(tuple(r) for r in live.collect())
    got = StatsIndex(spark, tmp_ds_path).read_pruned("id", 0, 119).where("id BETWEEN 0 AND 119")
    assert sorted(tuple(r) for r in got.collect()) == want
    assert len(want) == 80


def test_sidecars_key_every_file_under_escaped_partition_dirs(spark, tmp_ds_path):
    """A hive dir written for a timestamp string holds a space and an
    escaped ':' (``ts=2024-01-01 00%3A00%3A00``), which
    ``input_file_name()`` reports as ``%20`` / ``%253A``. Every
    per-file sidecar row must still carry the listing's spelling, or
    the words/sketches never meet their file: bloom build, NDV
    build/refresh, and the fused analyze (full and incremental) must
    each cover every file."""
    import shutil

    from pydala2_spark.plans.fs import list_files, qualified, schemeless

    def write(seed, stamps):
        pdf = make_simple_pdf(20 * len(stamps), seed=seed)
        pdf["ts"] = [stamps[i % len(stamps)] for i in range(len(pdf))]
        spark.createDataFrame(pdf).repartition(1).write.mode("append").partitionBy(
            "ts"
        ).parquet(tmp_ds_path)

    def listing():
        return {
            schemeless(qualified(spark, f))
            for f in list_files(spark, tmp_ds_path, suffixes=(".parquet",))
        }

    def word_files(col="id"):
        return {
            r[0] for r in _bloom_rows(spark, tmp_ds_path, col) if r[1] != _SENTINEL
        }

    def sketch_files():
        return {f for f, c, _ in _ndv_membership(spark, tmp_ds_path) if c == "id"}

    def probe_hits_every_file():
        # one id per file: its bloom probe must keep that file
        rows = spark.read.parquet(tmp_ds_path).select("id", "ts").collect()
        for ts in {r["ts"] for r in rows}:
            some_id = min(r["id"] for r in rows if r["ts"] == ts)
            kept = bloom_prune(spark, tmp_ds_path, "id", [some_id])
            assert any(
                f"ts={str(ts)[:10]}" in k for k in kept
            ), (ts, kept)

    write(0, ["2024-01-01 00:00:00", "2024-01-02 12:30:00"])
    files = listing()
    assert len(files) == 2 and all("%3A" in f and " " in f for f in files)

    # sequential builders
    refresh_bloom_index(spark, tmp_ds_path, "id")
    build_ndv_sketches(spark, tmp_ds_path, ["id"])
    assert word_files() == files
    assert sketch_files() == files
    probe_hits_every_file()
    assert estimate_ndv(spark, tmp_ds_path, "id") == 40
    StatsIndex(spark, tmp_ds_path).refresh()
    assert StatsIndex(spark, tmp_ds_path).read_pruned("id", 0, 39).count() == 40

    write(40, ["2024-01-03 06:45:00"])
    refresh_bloom_index(spark, tmp_ds_path, "id")
    refresh_ndv_sketches(spark, tmp_ds_path)
    files = listing()
    assert len(files) == 3
    assert word_files() == files and sketch_files() == files
    assert estimate_ndv(spark, tmp_ds_path, "id") == 60

    # fused analyze: full build, then an incremental append
    for side in ("_bloom_index", "_ndv_sketches", "_stats_index"):
        shutil.rmtree(f"{tmp_ds_path}/{side}", ignore_errors=True)
    analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], ndv_columns=["id"])
    assert word_files() == files and sketch_files() == files
    probe_hits_every_file()
    write(60, ["2024-01-04 18:15:00"])
    analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], ndv_columns=["id"])
    files = listing()
    assert len(files) == 4
    assert word_files() == files and sketch_files() == files
    probe_hits_every_file()
    assert estimate_ndv(spark, tmp_ds_path, "id") == 80
    assert StatsIndex(spark, tmp_ds_path).read_pruned("id", 0, 79).count() == 80


# Job counts of the sidecar paths before they shared one lifecycle,
# measured on this test's layout (40-row single-file appends, each
# dataset read once first) on a 4-core machine. Ceilings, not targets.
PARENT_JOBS = {
    "stats_refresh_first": 2,
    "stats_refresh_append": 3,
    "build_bloom_index": 6,
    "build_ndv_sketches": 6,
    "refresh_bloom_index": 7,
    "refresh_ndv_sketches": 9,
    "bloom_prune": 9,
    "analyze_dataset": 18,
}


def test_sidecar_job_ceilings(spark, tmp_path):
    """No sidecar path issues more Spark jobs than it did when each
    sidecar carried its own copy of the lifecycle."""
    from conftest import spark_jobs

    def fresh(name, n):
        p = str(tmp_path / name)
        _write_batches(spark, p, n)
        spark.read.parquet(p).count()
        return p

    def jobs(fn):
        return spark_jobs(spark, fn)[1]

    seen = {}
    p = fresh("stats", 3)
    seen["stats_refresh_first"] = jobs(lambda: StatsIndex(spark, p).refresh())
    _write_batches(spark, p, 1)
    seen["stats_refresh_append"] = jobs(lambda: StatsIndex(spark, p).refresh())

    from pydala2_spark.plans.bloom import build_bloom_index

    p = fresh("side", 3)
    seen["build_bloom_index"] = jobs(lambda: build_bloom_index(spark, p, "id"))
    seen["build_ndv_sketches"] = jobs(lambda: build_ndv_sketches(spark, p, ["id"]))
    _write_batches(spark, p, 1)
    seen["refresh_bloom_index"] = jobs(lambda: refresh_bloom_index(spark, p, "id"))
    seen["refresh_ndv_sketches"] = jobs(lambda: refresh_ndv_sketches(spark, p))
    _write_batches(spark, p, 1)
    build_bloom_index(spark, p, "id")
    seen["bloom_prune"] = jobs(lambda: bloom_prune(spark, p, "id", [7]))

    p = fresh("analyze", 3)
    analyze_dataset(spark, p, bloom_columns=["id"], ndv_columns=["id"])
    _write_batches(spark, p, 1)
    seen["analyze_dataset"] = jobs(
        lambda: analyze_dataset(spark, p, bloom_columns=["id"], ndv_columns=["id"])
    )
    over = {k: (n, PARENT_JOBS[k]) for k, n in seen.items() if n > PARENT_JOBS[k]}
    assert not over, f"(jobs, ceiling) over the ceiling: {over}; all: {seen}"


# Job counts of the pruned reads once they shared one survivors collect,
# one skip rule and one survivor read, measured on a 4-core machine
# (parent: StatsIndex.read_pruned 3, bloom_prune 6, refresh_metadata on
# an unchanged 3-file dataset with bloom + NDV sidecars 9).
PRUNED_READ_JOBS = {
    "stats_read_pruned": 2,
    "bloom_prune": 5,
    "refresh_metadata_unchanged": 4,
    # bloom_prune again, once its hits collect counts in one shuffle:
    # 3 jobs for that collect, where a countDistinct and a distinct
    # took 4
    "bloom_prune_one_shuffle": 4,
}


def test_pruned_read_job_ceilings(spark, tmp_path):
    """The range read is one stats collect plus the survivor read; the
    bloom state read infers no schema; the write-through refresh reads
    each sidecar's state once."""
    from conftest import spark_jobs

    from pydala2_spark.plans.analyze import refresh_metadata
    from pydala2_spark.plans.bloom import build_bloom_index

    def jobs(fn):
        return spark_jobs(spark, fn)[1]

    seen = {}
    p = str(tmp_path / "part")
    _write_partitioned(spark, p, 5)
    spark.read.parquet(p).count()
    idx = StatsIndex(spark, p)
    idx.refresh()
    seen["stats_read_pruned"] = jobs(lambda: idx.read_pruned("id", 50, 60))
    build_bloom_index(spark, p, "id")
    seen["bloom_prune"] = jobs(lambda: bloom_prune(spark, p, "id", [7]))
    seen["bloom_prune_one_shuffle"] = seen["bloom_prune"]

    p = str(tmp_path / "refresh")
    _write_batches(spark, p, 3)
    spark.read.parquet(p).count()
    analyze_dataset(spark, p, bloom_columns=["id"], ndv_columns=["id"])
    seen["refresh_metadata_unchanged"] = jobs(lambda: refresh_metadata(spark, p))
    over = {k: (n, PRUNED_READ_JOBS[k]) for k, n in seen.items() if n > PRUNED_READ_JOBS[k]}
    assert not over, f"(jobs, ceiling) over the ceiling: {over}; all: {seen}"


def test_estimate_ndv_raises_on_an_unsketched_column(spark, tmp_ds_path):
    """The marker rows cover every file whatever the column, so an
    untracked column must not read as an empty one (0): it raises and
    names the sketched columns, with and without ``missing_ok``."""
    _write_batches(spark, tmp_ds_path, 2)
    build_ndv_sketches(spark, tmp_ds_path, ["id"])
    assert estimate_ndv(spark, tmp_ds_path, "id") == 80
    for missing_ok in (False, True):
        with pytest.raises(ValueError, match=r"no sketches of 'name'.*\['id'\]"):
            estimate_ndv(spark, tmp_ds_path, "name", missing_ok=missing_ok)


def test_single_sidecar_calls_never_materialize(spark, tmp_ds_path, monkeypatch):
    """One bloom column is one branch of the shared scan: nothing reads
    it twice, so no single-sidecar call checkpoints it. Two branches
    (the fused analyze of two columns) do."""
    from pydala2_spark import frames
    from pydala2_spark.plans import stats
    from pydala2_spark.plans.bloom import build_bloom_index

    calls = []

    def spy(df, label=None):
        calls.append(label)
        return df

    monkeypatch.setattr(frames, "materialize", spy)
    monkeypatch.setattr(stats, "materialize", spy)
    _write_batches(spark, tmp_ds_path, 2)
    build_bloom_index(spark, tmp_ds_path, "id")
    _write_batches(spark, tmp_ds_path, 1)
    assert refresh_bloom_index(spark, tmp_ds_path, "id")["added"] == 1
    assert refresh_bloom_index(spark, tmp_ds_path, "name")["added"] == 3  # missing → built
    assert calls == []
    analyze_dataset(spark, tmp_ds_path, bloom_columns=["timestamp"], ndv_columns=["id"])
    assert len(calls) == 1
