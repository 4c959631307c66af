"""Maintenance-job contracts: dry-run plans never mutate; real runs
preserve data while changing layout (reference test model:
/root/reference/tests/test_fsspeckit_maintenance.py)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pydala2_spark.operators.maintenance import (
    compact_by_rows,
    compact_by_timeperiod,
    compact_partitions,
    optimize_dtypes,
    repair_schema,
    repartition_dataset,
)
from pydala2_spark.plans.fs import list_files
from pydala2_spark.plans.stats import collect_file_stats, dataset_stats, prune_files, read_pruned

from conftest import make_simple_pdf


def _write_fragmented(spark, path, n_batches=4, rows=50, partition_by=None):
    """Write n_batches small appends so the dataset has many files."""
    for i in range(n_batches):
        pdf = make_simple_pdf(rows, seed=i * rows)
        if partition_by:
            pdf["part"] = [f"p{j % 2}" for j in range(rows)]
        df = spark.createDataFrame(pdf)
        w = df.repartition(1).write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)


def _snapshot(spark, path):
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


# -- stats table ---------------------------------------------------------


def test_file_stats_counts(spark, tmp_ds_path):
    _write_fragmented(spark, tmp_ds_path, n_batches=3, rows=40)
    st = collect_file_stats(spark, tmp_ds_path)
    rows = st.collect()
    assert len(rows) == 3
    assert sum(r["num_rows"] for r in rows) == 120
    assert all(r["size_bytes"] > 0 for r in rows)
    agg = dataset_stats(spark, tmp_ds_path)
    assert agg == {"files": 3, "rows": 120, "bytes": sum(r["size_bytes"] for r in rows)}


def test_file_stats_partition_values(spark, tmp_ds_path):
    _write_fragmented(spark, tmp_ds_path, n_batches=2, rows=20, partition_by=["part"])
    st = collect_file_stats(spark, tmp_ds_path)
    parts = {tuple(sorted(r["partitions"].items())) for r in st.collect()}
    assert parts == {(("part", "p0"),), (("part", "p1"),)}


def test_prune_files_minmax(spark, tmp_ds_path):
    # batch i holds ids [50i, 50i+49] → disjoint id ranges per file
    _write_fragmented(spark, tmp_ds_path, n_batches=4, rows=50)
    st = collect_file_stats(spark, tmp_ds_path)
    kept = prune_files(st, "id", lo=120, hi=130)
    assert len(kept) == 1  # only the file covering 100-149
    df = read_pruned(spark, tmp_ds_path, "id", lo=120, hi=130).filter(
        (F.col("id") >= 120) & (F.col("id") <= 130)
    )
    assert df.count() == 11


def test_prune_files_uncastable_stats_kept(spark, tmp_ds_path):
    """Numeric probe against a STRING column: min/max stats can't cast
    to double → comparison is NULL → 'unknown stats ⇒ keep' must hold
    (a NULL filter result silently pruned the file before)."""
    _write_fragmented(spark, tmp_ds_path, n_batches=2, rows=10)
    st = collect_file_stats(spark, tmp_ds_path)
    kept = prune_files(st, "name", lo=120, hi=130)  # name is a string col
    assert len(kept) == 2  # nothing provably excluded → keep all files


def test_footer_scan_is_filesystem_agnostic(spark, tmp_ds_path):
    """The footer reader must go through pyarrow's FileSystem
    abstraction, not local-path string surgery: Hadoop hands back
    ``file:/x`` (one slash) qualified URIs, executors elsewhere see
    ``file:///x`` or ``s3a://…`` — all spellings must resolve."""
    from pydala2_spark.plans.stats import _normalize_uri, _pa_fs, _read_footer

    from pydala2_spark.plans.fs import schemeless

    _write_fragmented(spark, tmp_ds_path, n_batches=1, rows=10)
    f = schemeless(list_files(spark, tmp_ds_path)[0])  # plain local path
    spellings = [f, f"file:{f}", f"file://{f}", f"file://{f}"]
    sizes = set()
    for s in spellings:
        md, size = _read_footer(s)
        assert md.num_rows == 10
        sizes.add(size)
    assert len(sizes) == 1
    # Hadoop's s3a scheme maps to pyarrow's s3 (string rule only — no
    # S3FileSystem construction here, that would hit the network)
    assert _normalize_uri("s3a://bucket/k.parquet") == "s3://bucket/k.parquet"
    assert _normalize_uri("hdfs://nn/x") == "hdfs://nn/x"
    fs, inner = _pa_fs(f"file:{f}")
    import pyarrow.fs as pafs

    assert isinstance(fs, pafs.LocalFileSystem) and inner == f
    # file://host/path carries an AUTHORITY — folding the host into the
    # path would resolve to a wrong local file; must reject, not guess
    with pytest.raises(ValueError, match="authority"):
        _normalize_uri("file://somehost/data/x.parquet")
    assert _normalize_uri("file:/x/y") == "file:///x/y"
    assert _normalize_uri("file:///x/y") == "file:///x/y"


def test_footer_build_and_prune_over_registered_scheme(spark, tmp_ds_path):
    """Sidecar build + probe over a NON-local URI scheme: a registered
    pyarrow filesystem (the endpoint-configured-object-store injection
    point) carries the distributed footer scan — the registry must
    ship BY VALUE into the executor closures, because workers
    re-import the module with an empty global table. The probe then
    prunes on the mock-scheme stats exactly as it would locally."""
    import os as _os

    import pyarrow.fs as pafs

    from pydala2_spark.plans.fs import list_files, schemeless
    from pydala2_spark.plans.stats import (
        _read_footer,
        collect_file_stats,
        prune_files,
        register_scheme_filesystem,
        unregister_scheme_filesystem,
    )

    _write_fragmented(spark, tmp_ds_path, n_batches=3, rows=40)
    root = schemeless(tmp_ds_path if "://" in tmp_ds_path else _os.path.abspath(tmp_ds_path))
    register_scheme_filesystem(
        "mockfs", pafs.SubTreeFileSystem(root, pafs.LocalFileSystem())
    )
    try:
        rels = [
            schemeless(f)[len(root):].lstrip("/")
            for f in list_files(spark, tmp_ds_path, suffixes=(".parquet",))
        ]
        uris = [f"mockfs://{r}" for r in sorted(rels)]
        assert len(uris) == 3
        # single-footer read resolves through the registered filesystem
        md, size = _read_footer(uris[0])
        assert md.num_rows == 40 and size > 0
        # BUILD: distributed footer scan entirely over the mock scheme
        stats = collect_file_stats(spark, "mockfs://", files=uris)
        rows = {r["file_path"]: r for r in stats.collect()}
        assert set(rows) == set(uris)
        assert all(r["num_rows"] == 40 for r in rows.values())
        # PROBE: id ranges are [0,40) [40,80) [80,120) per batch — a
        # lo=100 probe must keep exactly the file(s) whose max reaches it
        keep = prune_files(stats, "id", lo=100)
        assert keep and all(k.startswith("mockfs://") for k in keep)
        kept_max = [rows[k]["column_stats"]["id"]["max"] for k in keep]
        assert all(float(m) >= 100 for m in kept_max)
        assert len(keep) < len(uris)  # something actually pruned
    finally:
        unregister_scheme_filesystem("mockfs")
    # after unregistration the scheme is unknown again
    with pytest.raises(Exception):
        _read_footer("mockfs://whatever.parquet")


def test_stats_index_on_uri_path(spark, tmp_ds_path):
    """StatsIndex / collect_file_stats over a ``file:///``-qualified
    dataset path (the non-local code path, exercised with the local
    scheme): build, refresh, prune all work on URIs."""
    from pydala2_spark.plans.stats import StatsIndex

    _write_fragmented(spark, tmp_ds_path, n_batches=2, rows=50)
    uri = f"file://{tmp_ds_path}"
    idx = StatsIndex(spark, uri)
    r = idx.refresh()
    assert r["added"] == 2 and r["total"] == 2
    assert idx.stats().count() == 2
    # disjoint id ranges per batch → pruning keeps exactly one file
    assert len(idx.prune("id", lo=60, hi=70)) == 1
    df = idx.read_pruned("id", lo=60, hi=70)
    assert df.filter((F.col("id") >= 60) & (F.col("id") <= 70)).count() == 11


def test_stats_partition_base_ignores_kv_dirs_above_the_root(spark, tmp_path):
    """A ``k=v`` directory ABOVE the dataset root is not a partition,
    however the root is spelled: the footer scan, the StatsIndex
    refresh and the compaction plan agree for the plain, ``file:/``
    and ``file:///`` spellings: no row reads ``{"run": "3"}`` and the
    flat dataset's group is ``<root>``, not ``run=3``."""
    import shutil

    from pydala2_spark.operators.maintenance import plan_compact_partitions
    from pydala2_spark.plans.stats import StatsIndex

    flat = str(tmp_path / "run=3" / "ds")
    parted = str(tmp_path / "run=3" / "pds")
    _write_fragmented(spark, flat, n_batches=2, rows=10)
    _write_fragmented(spark, parted, n_batches=2, rows=10, partition_by=["part"])
    for spelled in (lambda p: p, lambda p: f"file:{p}", lambda p: f"file://{p}"):
        for root, want in ((flat, [{}]), (parted, [{"part": "p0"}, {"part": "p1"}])):
            path = spelled(root)
            got = [r["partitions"] for r in collect_file_stats(spark, path).collect()]
            assert sorted(got, key=str) == sorted(want * 2, key=str), (path, got)
            shutil.rmtree(f"{root}/_stats_index", ignore_errors=True)
            StatsIndex(spark, path).refresh()
            got = [r["partitions"] for r in StatsIndex(spark, path).stats().collect()]
            assert sorted(got, key=str) == sorted(want * 2, key=str), (path, got)
        assert set(plan_compact_partitions(spark, spelled(flat)).groups) == {"<root>"}
        assert set(plan_compact_partitions(spark, spelled(parted)).groups) == {
            "part=p0",
            "part=p1",
        }


def test_listing_hides_by_segment_or_by_name(spark, tmp_path):
    """The one listing walk on a hand-built tree under a ``k=v`` parent
    directory: ``hide="segment"`` (list_files, file_mtimes) never
    returns a file below a ``_``/``.`` directory, ``hide="name"``
    (file_sizes) returns every file whose own name is plain, sidecar
    contents included. Plain and ``file://`` roots list alike, a file
    root lists itself, a missing root lists nothing."""
    import os

    from pydala2_spark.plans.fs import child_dirs, file_mtimes, file_sizes

    root = tmp_path / "run=3" / "ds"
    tree = {
        "year=2020/part-0.parquet": b"a" * 3,
        "year=2020/.part-0.parquet.crc": b"c",
        "year=2021/part-1.parquet": b"b" * 5,
        "year=2021/notes.txt": b"n" * 2,
        "_SUCCESS": b"",
        ".part-9.parquet.crc": b"c",
        "_stats_index/part-s.parquet": b"s" * 7,
        "_bloom_index/o_custkey/part-b.parquet": b"b" * 11,
        "_staging_x/part-z.parquet": b"z" * 13,
        ".hidden/part-h.parquet": b"h" * 17,
    }
    for rel, data in tree.items():
        f = root / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_bytes(data)
    uri = f"file:{root}"
    visible = ["year=2020/part-0.parquet", "year=2021/notes.txt", "year=2021/part-1.parquet"]
    by_name = visible + [
        "_bloom_index/o_custkey/part-b.parquet",
        "_stats_index/part-s.parquet",
        "_staging_x/part-z.parquet",
        ".hidden/part-h.parquet",
    ]
    for spelled in (str(root), f"file://{root}", f"{root}/"):
        data = [f"{uri}/{r}" for r in visible if r.endswith(".parquet")]
        assert list_files(spark, spelled) == data
        assert list_files(spark, spelled, suffixes=None) == [f"{uri}/{r}" for r in visible]
        assert file_mtimes(spark, spelled) == {
            f"{uri}/{r}": os.stat(root / r).st_mtime_ns // 10**6 for r in visible
        }
        assert file_sizes(spark, spelled) == {f"{uri}/{r}": len(tree[r]) for r in by_name}
        assert child_dirs(spark, spelled) == sorted(
            [".hidden", "_bloom_index", "_staging_x", "_stats_index", "year=2020", "year=2021"]
        )
    assert child_dirs(spark, f"{root}/_bloom_index") == ["o_custkey"]
    one = f"{root}/year=2020/part-0.parquet"
    assert list_files(spark, one) == [f"file:{one}"]
    sidecar = f"{root}/_stats_index/part-s.parquet"
    assert list_files(spark, sidecar) == [f"file:{sidecar}"]
    assert file_sizes(spark, f"{root}/_SUCCESS") == {}
    assert list_files(spark, f"{root}/missing") == [] and child_dirs(spark, f"{root}/missing") == []


def test_compaction_execution_never_materializes_groups(spark, tmp_ds_path, monkeypatch):
    """The executing fast paths must consume the plan as DataFrames
    (flat file list, one-row aggregates, pairs_df join side) — the
    per-group dict is driver-bound at 10⁶ partitions and may only
    materialize when a caller inspects .groups/.rows afterwards."""
    from pydala2_spark.operators.maintenance import CompactionPlan

    _write_fragmented(spark, tmp_ds_path, partition_by=["part"])
    before = _snapshot(spark, tmp_ds_path)

    called = []
    orig = CompactionPlan._materialize

    def spy(self):
        called.append(True)
        return orig(self)

    monkeypatch.setattr(CompactionPlan, "_materialize", spy)
    plan = compact_partitions(spark, tmp_ds_path)
    assert not called, "execution materialized the per-group dict"
    # preview caps the collect without materializing either
    assert len(plan.preview(limit=1)) == 1
    assert not called
    # a caller reading .groups afterwards still gets the full plan —
    # from the checkpointed snapshot, though the files are deleted
    assert set(plan.groups) == {"part=p0", "part=p1"}
    assert called
    assert _snapshot(spark, tmp_ds_path) == before


def test_compact_by_timeperiod_execution_never_materializes_groups(
    spark, tmp_ds_path, monkeypatch
):
    from pydala2_spark.operators.maintenance import CompactionPlan

    _write_fragmented(spark, tmp_ds_path, n_batches=4, rows=30)
    before = _snapshot(spark, tmp_ds_path)
    called = []
    orig = CompactionPlan._materialize

    def spy(self):
        called.append(True)
        return orig(self)

    monkeypatch.setattr(CompactionPlan, "_materialize", spy)
    plan = compact_by_timeperiod(spark, tmp_ds_path, "1d", "timestamp")
    assert not called, "M2 execution materialized the per-group dict"
    assert plan.groups  # post-hoc inspection still works
    assert _snapshot(spark, tmp_ds_path) == before


# -- M1/M3 compaction ----------------------------------------------------


def test_compact_partitions_dry_run_no_mutation(spark, tmp_ds_path):
    _write_fragmented(spark, tmp_ds_path, partition_by=["part"])
    before_files = list_files(spark, tmp_ds_path)
    before = _snapshot(spark, tmp_ds_path)
    plan = compact_partitions(spark, tmp_ds_path, dry_run=True)
    assert plan.groups and all(len(fs) > 1 for fs in plan.groups.values())
    assert list_files(spark, tmp_ds_path) == before_files
    assert _snapshot(spark, tmp_ds_path) == before


def test_compact_partitions_executes(spark, tmp_ds_path):
    _write_fragmented(spark, tmp_ds_path, n_batches=4, partition_by=["part"])
    before = _snapshot(spark, tmp_ds_path)
    assert len(list_files(spark, tmp_ds_path)) == 8  # 4 batches x 2 parts
    plan = compact_partitions(spark, tmp_ds_path)
    assert set(plan.groups) == {"part=p0", "part=p1"}
    after_files = list_files(spark, tmp_ds_path)
    assert len(after_files) == 2  # one file per partition
    assert _snapshot(spark, tmp_ds_path) == before


def test_compact_by_rows_unpartitioned(spark, tmp_ds_path):
    _write_fragmented(spark, tmp_ds_path, n_batches=5, rows=30)
    before = _snapshot(spark, tmp_ds_path)
    plan = compact_by_rows(spark, tmp_ds_path, max_rows_per_file=1000)
    assert plan.groups["<all>"] and plan.rows["<all>"] == 150
    assert len(list_files(spark, tmp_ds_path)) == 1
    assert _snapshot(spark, tmp_ds_path) == before


def test_compact_unique_dedups(spark, tmp_ds_path):
    pdf = make_simple_pdf(30, seed=0)
    for _ in range(2):  # identical batches → full duplicates
        spark.createDataFrame(pdf).repartition(1).write.mode("append").parquet(tmp_ds_path)
    compact_by_rows(spark, tmp_ds_path, unique=True)
    assert spark.read.parquet(tmp_ds_path).count() == 30


def test_compact_sort_unique_exclusive(spark, tmp_ds_path):
    _write_fragmented(spark, tmp_ds_path, partition_by=["part"])
    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_partitions(spark, tmp_ds_path, sort_by="id", unique=True)


def test_compact_partitions_one_write_job(spark, tmp_ds_path):
    """A multi-partition compaction must execute as ONE Spark write
    job, not one per partition group (round-3 verdict #4: a backlogged
    dataset with many candidate groups paid per-job driver latency
    serially). 8 partition groups; total job count for the whole call
    (planning collects included) must stay far below the group count."""
    pdf = make_simple_pdf(64, seed=0)
    pdf["part"] = [f"p{j % 8}" for j in range(64)]
    for _ in range(2):  # 2 files per partition → 8 candidate groups
        spark.createDataFrame(pdf).repartition(1).write.mode("append").partitionBy(
            "part"
        ).parquet(tmp_ds_path)
    before = _snapshot(spark, tmp_ds_path)

    sc = spark.sparkContext
    sc.setJobGroup("compact-single-job", "compaction job-count probe")
    try:
        plan = compact_partitions(spark, tmp_ds_path)
    finally:
        sc.setJobGroup("", "")
    assert len(plan.groups) == 8
    jobs = sc.statusTracker().getJobIdsForGroup("compact-single-job")
    # planning (footer scan + ONE collect of files and max outputs) +
    # one write; a per-group loop would pay >= 8 write jobs alone
    assert len(jobs) <= 5, f"{len(jobs)} jobs for 8 groups (pinned at 5)"
    assert len(list_files(spark, tmp_ds_path)) == 8  # one file per partition
    assert _snapshot(spark, tmp_ds_path) == before


def _write_interleaved(spark, path, n_files=4, n_rows=400, **cols):
    """``n_files`` single-file appends whose ids interleave (file i
    holds i, i+n_files, ...): concatenating any two files' rows, each
    file sorted, is never sorted."""
    for i in range(n_files):
        pdf = pd.DataFrame({"id": list(range(i, n_rows, n_files))})
        for name, value in cols.items():
            pdf[name] = value
        spark.createDataFrame(pdf).repartition(1).write.mode("append").parquet(path)


def _assert_files_sorted(spark, path, col="id"):
    import pyarrow.parquet as pq

    from pydala2_spark.plans.fs import schemeless

    for f in list_files(spark, path):
        vals = pq.read_table(schemeless(f), columns=[col])[col].to_pylist()
        assert vals == sorted(vals), f"unsorted file {f}"


def test_compact_sorted_single_job_and_sorted_files(spark, tmp_ds_path):
    """sort_by rewrites select EVERY partition, so they were the worst
    serial-loop case — now one range-shuffle job. Files must come out
    internally sorted and rows preserved."""
    pdf = make_simple_pdf(64, seed=1)
    pdf["part"] = [f"p{j % 8}" for j in range(64)]
    for _ in range(2):
        spark.createDataFrame(pdf).repartition(1).write.mode("append").partitionBy(
            "part"
        ).parquet(tmp_ds_path)
    before = _snapshot(spark, tmp_ds_path)

    sc = spark.sparkContext
    sc.setJobGroup("compact-sorted-job", "sorted compaction probe")
    try:
        plan = compact_partitions(spark, tmp_ds_path, sort_by="id")
    finally:
        sc.setJobGroup("", "")
    assert len(plan.groups) == 8
    jobs = sc.statusTracker().getJobIdsForGroup("compact-sorted-job")
    # planning (stats + candidates + partition discovery) + range
    # SAMPLING + one write ≈ 6; the loop path would be planning + 8
    assert len(jobs) < 8, f"{len(jobs)} jobs for 8 sorted groups — still looping?"
    assert _snapshot(spark, tmp_ds_path) == before
    _assert_files_sorted(spark, tmp_ds_path)


def test_compact_unpartitioned_sorted_output_is_sorted(spark, tmp_ds_path):
    """An unpartitioned sort_by rewrite goes through the same range
    shuffle as the partitioned one; sorting before a coalesce(1) wrote
    one unsorted file."""
    _write_interleaved(spark, tmp_ds_path)
    before = _snapshot(spark, tmp_ds_path)
    plan = compact_partitions(spark, tmp_ds_path, sort_by="id")
    assert list(plan.groups) == ["<root>"]
    assert len(list_files(spark, tmp_ds_path)) < 4
    assert _snapshot(spark, tmp_ds_path) == before
    _assert_files_sorted(spark, tmp_ds_path)


def test_compact_partitions_unique_subset_stays_per_partition(spark, tmp_ds_path):
    """Fast-path subset dedup must not collapse rows across hive
    partitions (the loop reads one partition at a time, so its
    dropDuplicates(subset) is per-partition by construction)."""
    pdf = make_simple_pdf(8, seed=0)
    pdf["id"] = [1, 1, 2, 3, 1, 4, 5, 6]  # id=1 dup within p0, also in p1
    pdf["part"] = ["p0", "p0", "p0", "p0", "p1", "p1", "p1", "p1"]
    for half in (pdf.iloc[:4], pdf.iloc[4:]):
        spark.createDataFrame(half).repartition(1).write.mode("append").partitionBy(
            "part"
        ).parquet(tmp_ds_path)
    # make both partitions multi-file so both are candidates
    spark.createDataFrame(pdf.iloc[2:6]).repartition(1).write.mode("append").partitionBy(
        "part"
    ).parquet(tmp_ds_path)
    compact_partitions(spark, tmp_ds_path, unique=["id"])
    got = sorted(
        (r["part"], r["id"])
        for r in spark.read.parquet(tmp_ds_path).select("part", "id").collect()
    )
    # one id=1 row PER PARTITION survives — not one overall
    assert got == [
        ("p0", 1), ("p0", 2), ("p0", 3),
        ("p1", 1), ("p1", 4), ("p1", 5), ("p1", 6),
    ]


# -- M2 time-period compaction ------------------------------------------


def test_compact_by_timeperiod(spark, tmp_ds_path):
    # two files inside the same day + one on another day
    for day, seed in (("2024-01-01", 0), ("2024-01-01", 50), ("2024-02-05", 100)):
        pdf = make_simple_pdf(20, seed=seed)
        pdf["timestamp"] = pd.to_datetime(day)
        spark.createDataFrame(pdf).repartition(1).write.mode("append").parquet(tmp_ds_path)
    before = _snapshot(spark, tmp_ds_path)
    plan = compact_by_timeperiod(spark, tmp_ds_path, "1d", "timestamp", dry_run=True)
    assert len(plan.groups) == 1  # only the doubled day is a candidate
    assert len(next(iter(plan.groups.values()))) == 2
    compact_by_timeperiod(spark, tmp_ds_path, "1d", "timestamp")
    assert len(list_files(spark, tmp_ds_path)) == 2
    assert _snapshot(spark, tmp_ds_path) == before


def test_compact_by_timeperiod_int96_no_stats_gets_loud_and_compacts(
    spark, tmp_ds_path
):
    """r13 driver red: INT96 timestamps carry no parquet footer stats,
    and the planner silently produced an EMPTY plan — the operator
    no-op'd while reporting success. Contract now: warn loudly and
    fall back to a data-scan min so compaction still happens."""
    from pydala2_spark.errors import MissingFooterStatsWarning

    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        for day, seed in (("2024-01-01", 0), ("2024-01-01", 50), ("2024-02-05", 100)):
            pdf = make_simple_pdf(20, seed=seed)
            pdf["timestamp"] = pd.to_datetime(day)
            spark.createDataFrame(pdf).repartition(1).write.mode("append").parquet(
                tmp_ds_path
            )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    # precondition: the footers really carry no stats for `timestamp`
    st = collect_file_stats(spark, tmp_ds_path)
    assert (
        st.filter(
            F.col("column_stats").getItem("timestamp").isNotNull()
        ).count()
        == 0
    ), "INT96 write unexpectedly produced timestamp footer stats"
    before = _snapshot(spark, tmp_ds_path)
    with pytest.warns(MissingFooterStatsWarning, match="no footer min/max"):
        compact_by_timeperiod(spark, tmp_ds_path, "1d", "timestamp")
    # the doubled day compacted to one file despite missing stats
    assert len(list_files(spark, tmp_ds_path)) == 2
    assert _snapshot(spark, tmp_ds_path) == before


def test_compact_by_timeperiod_mixed_stats_scans_only_statless(
    spark, tmp_ds_path
):
    """r15: the data-scan fallback reads ONLY the stat-less files
    (r14 verdict #4 — it re-scanned every file whenever any lacked
    stats). Mixed footers: one INT96 file (no ts stats) sharing a day
    with a MICROS file (stats) must still compact into that day's
    group, and the untouched day stays untouched."""
    from pydala2_spark.errors import MissingFooterStatsWarning

    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    # day 1 file A: INT96 (stat-less); day 1 file B + day 2 file C: MICROS
    pdf = make_simple_pdf(20, seed=0)
    pdf["timestamp"] = pd.to_datetime("2024-01-01")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.createDataFrame(pdf).repartition(1).write.mode("append").parquet(
            tmp_ds_path
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    for day, seed in (("2024-01-01", 50), ("2024-02-05", 100)):
        pdf = make_simple_pdf(20, seed=seed)
        pdf["timestamp"] = pd.to_datetime(day)
        spark.createDataFrame(pdf).repartition(1).write.mode("append").parquet(
            tmp_ds_path
        )
    st = collect_file_stats(spark, tmp_ds_path)
    n_statless = st.filter(
        F.col("column_stats").getItem("timestamp").isNull()
    ).count()
    assert n_statless == 1, "fixture should have exactly one stat-less file"
    before = _snapshot(spark, tmp_ds_path)
    with pytest.warns(MissingFooterStatsWarning, match="1 parquet file"):
        compact_by_timeperiod(spark, tmp_ds_path, "1d", "timestamp")
    assert len(list_files(spark, tmp_ds_path)) == 2
    assert _snapshot(spark, tmp_ds_path) == before


def test_compact_by_timeperiod_job_count(spark, tmp_ds_path):
    """8 day intervals of 2 files each, unpartitioned, compact in a
    fixed number of jobs: footer scan, one plan collect, one write —
    not one write per interval."""
    for day in range(1, 9):
        for half in range(2):
            pdf = make_simple_pdf(10, seed=100 * day + 10 * half)
            pdf["timestamp"] = pd.Timestamp(f"2024-03-{day:02d}")
            spark.createDataFrame(pdf).repartition(1).write.mode("append").parquet(
                tmp_ds_path
            )
    before = _snapshot(spark, tmp_ds_path)
    sc = spark.sparkContext
    sc.setJobGroup("compact-m2-jobs", "M2 job-count probe")
    try:
        plan = compact_by_timeperiod(spark, tmp_ds_path, "1d", "timestamp")
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("compact-m2-jobs")
    assert len(plan.groups) == 8
    assert len(jobs) <= 7, f"{len(jobs)} jobs for 8 intervals (pinned at 7)"
    assert len(list_files(spark, tmp_ds_path)) < 16
    assert _snapshot(spark, tmp_ds_path) == before


def test_compact_by_timeperiod_oversized_interval_output_is_sorted(
    spark, tmp_ds_path
):
    """An interval with more rows than max_rows_per_file takes the
    per-interval loop; it must coalesce to the file count BEFORE it
    sorts, or the files concatenate separately sorted partitions."""
    _write_interleaved(spark, tmp_ds_path, n_rows=80, timestamp=pd.Timestamp("2024-01-01"))
    before = _snapshot(spark, tmp_ds_path)
    plan = compact_by_timeperiod(
        spark, tmp_ds_path, "1d", "timestamp", max_rows_per_file=50, sort_by="id"
    )
    assert plan.rows == {"t1704067200": 80}
    assert len(list_files(spark, tmp_ds_path)) == 2
    assert _snapshot(spark, tmp_ds_path) == before
    _assert_files_sorted(spark, tmp_ds_path)


def test_compact_by_timeperiod_on_date_and_timestamp_partition_column(
    spark, tmp_path
):
    """A dataset partitioned by its own time column has no footer stats
    for it, so planning scans the column — which must keep the hive
    column (basePath). A timestamp-typed partition dir holds a space and
    "%3A" (``day=2024-01-01 00%3A00%3A00``): the footer reader must not
    URI-parse it, and the rewrite must match rows to those files."""
    from pydala2_spark.errors import MissingFooterStatsWarning

    for kind in ("date", "timestamp"):
        path = str(tmp_path / kind)
        for i in range(3):
            pdf = make_simple_pdf(8, seed=10 * i)
            pdf["day"] = pd.to_datetime(["2024-01-01"] * 4 + ["2024-01-02"] * 4)
            df = spark.createDataFrame(pdf.drop(columns=["timestamp"]))
            df = df.withColumn("day", F.col("day").cast(kind))
            df.repartition(1).write.mode("append").partitionBy("day").parquet(path)
        assert len(list_files(spark, path)) == 6
        before = _snapshot(spark, path)
        with pytest.warns(MissingFooterStatsWarning, match="6 parquet file"):
            plan = compact_by_timeperiod(spark, path, "1d", "day")
        assert len(plan.groups) == 2, kind
        assert dict(spark.read.parquet(path).dtypes)["day"] == kind
        assert len(list_files(spark, path)) == 2, kind  # one file per day
        assert _snapshot(spark, path) == before, kind


# -- M4 repartition ------------------------------------------------------


def test_repartition_derives_dateparts(spark, tmp_ds_path):
    _write_fragmented(spark, tmp_ds_path, n_batches=2, rows=40)
    before_count = spark.read.parquet(tmp_ds_path).count()
    files = repartition_dataset(
        spark, tmp_ds_path, partitioning_columns=["year", "month"], timestamp_column="timestamp"
    )
    assert all("/year=" in f and "/month=" in f for f in files)
    df = spark.read.parquet(tmp_ds_path)
    assert df.count() == before_count
    assert {"year", "month"} <= set(df.columns)


# -- M5 optimize_dtypes --------------------------------------------------


def test_optimize_dtypes_plan_and_apply(spark, tmp_ds_path):
    pdf = pd.DataFrame(
        {
            "big_int": pd.array([1, 2, 3, 250], dtype="int64"),
            "num_str": ["10", "20", "30", "40"],
            "bool_str": ["true", "no", "yes", "false"],
            "free_text": ["a", "b", "c", "d"],
            "large": [2**40, 2**41, 1, 2],
        }
    )
    spark.createDataFrame(pdf).write.parquet(tmp_ds_path)
    plan = optimize_dtypes(spark, tmp_ds_path, dry_run=True)
    assert plan["big_int"] == ("long", "short")
    assert plan["num_str"] == ("string", "byte")
    assert plan["bool_str"] == ("string", "boolean")
    assert "free_text" not in plan
    assert "large" not in plan  # already needs long
    schema_before = dict(spark.read.parquet(tmp_ds_path).dtypes)
    assert schema_before["big_int"] == "bigint"  # dry run did not rewrite

    optimize_dtypes(spark, tmp_ds_path)
    dt = dict(spark.read.parquet(tmp_ds_path).dtypes)
    assert dt["big_int"] == "smallint"
    assert dt["num_str"] == "tinyint"
    assert dt["bool_str"] == "boolean"
    df = spark.read.parquet(tmp_ds_path)
    assert df.filter(F.col("bool_str")).count() == 2


def test_optimize_dtypes_strict_validates_full_data(spark, tmp_ds_path):
    # sample (first rows) fits int8 but full data needs int32 — SAFE
    # policy must see the whole dataset.
    pdf = pd.DataFrame({"v": list(range(100)) + [100_000]})
    spark.createDataFrame(pdf).repartition(1).write.parquet(tmp_ds_path)
    plan = optimize_dtypes(spark, tmp_ds_path, sample_rows=10, strict=True, dry_run=True)
    assert plan.get("v", ("long", "integer"))[1] == "integer"


# -- M6 repair_schema ----------------------------------------------------


def test_repair_schema(spark, tmp_ds_path):
    # file A: id long, value double; file B: id int (narrower), extra col
    a = pd.DataFrame({"id": pd.array([1, 2], dtype="int64"), "value": [1.0, 2.0]})
    b = pd.DataFrame({"id": pd.array([3, 4], dtype="int32"), "extra": ["x", "y"]})
    spark.createDataFrame(a).repartition(1).write.mode("append").parquet(tmp_ds_path)
    spark.createDataFrame(b).repartition(1).write.mode("append").parquet(tmp_ds_path)

    plan = repair_schema(spark, tmp_ds_path, dry_run=True)
    assert len(plan["files"]) >= 1
    target_names = {f.name for f in plan["schema"].fields}
    assert target_names == {"id", "value", "extra"}
    assert dict((f.name, f.dataType.typeName()) for f in plan["schema"].fields)["id"] == "long"

    repair_schema(spark, tmp_ds_path)
    # after repair every file individually carries the unified schema
    for f in list_files(spark, tmp_ds_path):
        assert {fl.name for fl in spark.read.parquet(f).schema.fields} == target_names
    df = spark.read.parquet(tmp_ds_path)
    assert df.count() == 4
    assert df.filter(F.col("extra").isNotNull()).count() == 2


# -- persistent stats index -----------------------------------------------


def test_stats_index_incremental_refresh(spark, tmp_ds_path):
    from pydala2_spark.plans.stats import StatsIndex

    _write_fragmented(spark, tmp_ds_path, n_batches=2, rows=50)
    idx = StatsIndex(spark, tmp_ds_path)
    r1 = idx.refresh()
    assert r1 == {"added": 2, "removed": 0, "total": 2}
    assert idx.stats().count() == 2

    # append one more batch (ids 100-149): refresh touches ONLY it
    spark.createDataFrame(make_simple_pdf(50, seed=100)).repartition(1).write.mode(
        "append"
    ).parquet(tmp_ds_path)
    r2 = idx.refresh()
    assert r2["added"] == 1 and r2["removed"] == 0 and r2["total"] == 3
    assert idx.stats().count() == 3

    # the index dir is invisible to a normal dataset read (underscore dir)
    assert spark.read.parquet(tmp_ds_path).count() == 150

    # pruning works off the persisted index (batches have disjoint ids)
    kept = idx.prune("id", lo=120, hi=130)
    assert len(kept) == 1
    assert idx.read_pruned("id", lo=120, hi=130).count() == 50


def test_stats_index_handles_removed_files(spark, tmp_ds_path):
    from pydala2_spark.operators.maintenance import compact_by_rows
    from pydala2_spark.plans.stats import StatsIndex

    _write_fragmented(spark, tmp_ds_path, n_batches=3, rows=30)
    idx = StatsIndex(spark, tmp_ds_path, index_path=tmp_ds_path + "_idx")
    idx.refresh()
    compact_by_rows(spark, tmp_ds_path)  # rewrites 3 files into 1
    r = idx.refresh()
    assert r["removed"] == 3 and r["added"] == 1 and r["total"] == 1
    total = idx.stats().agg({"num_rows": "sum"}).first()[0]
    assert total == 90


def test_import_legacy_file_metadata_sidecar(spark, tmp_ds_path):
    """A reference-format ``_file_metadata`` sidecar (JSON with base64
    parquet FileMetaData blobs, `pydala/metadata.py:50-102`) must
    convert into a StatsIndex whose rows match a live footer scan —
    and a subsequent refresh() must treat every imported file as
    already indexed (added=0)."""
    import base64
    import glob
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pydala2_spark.plans.stats import StatsIndex, import_legacy_file_metadata

    _write_fragmented(spark, tmp_ds_path, n_batches=3, rows=40)
    files = sorted(glob.glob(f"{tmp_ds_path}/*.parquet"))

    # build the sidecar exactly the way the reference serializes it
    sidecar = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        sink = pa.BufferOutputStream()
        md.write_metadata_file(sink)
        rel = f.rsplit("/", 1)[1]
        sidecar[rel] = {
            "serialized_metadata_b64": base64.b64encode(
                sink.getvalue().to_pybytes()
            ).decode("ascii"),
            "num_rows": md.num_rows,
        }
    sidecar["gone.parquet"] = sidecar[rel]  # stale entry → skipped
    with open(f"{tmp_ds_path}/_file_metadata", "wb") as fh:
        fh.write(_json.dumps(sidecar).encode())

    r = import_legacy_file_metadata(spark, tmp_ds_path)
    assert r == {"imported": 3, "missing": 1}

    idx = StatsIndex(spark, tmp_ds_path)
    got = {
        r["file_path"]: r for r in idx.stats().collect()
    }
    assert len(got) == 3
    assert all(r["num_rows"] == 40 and r["size_bytes"] > 0 for r in got.values())
    # imported column stats drive pruning like a live scan would:
    # batches hold disjoint id ranges [0,39],[40,79],[80,119]
    kept = idx.prune("id", lo=50, hi=60)
    assert len(kept) == 1
    # refresh recognizes every imported file — nothing re-scanned
    assert idx.refresh() == {"added": 0, "removed": 0, "total": 3}


def test_export_legacy_file_metadata_roundtrip(spark, tmp_ds_path):
    """``export_legacy_file_metadata`` must write a sidecar in the
    reference's exact shape (path → serialized_metadata_b64 blob +
    summary fields, brotli-or-plain JSON) that (a) parses field-for-
    field, (b) round-trips through our own reference-format importer
    into a StatsIndex identical to a live footer scan — migration now
    works in BOTH directions."""
    import base64
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pydala2_spark.plans.stats import (
        StatsIndex,
        export_legacy_file_metadata,
        import_legacy_file_metadata,
    )

    _write_fragmented(spark, tmp_ds_path, n_batches=3, rows=40)
    r = export_legacy_file_metadata(spark, tmp_ds_path)
    assert r["files"] == 3 and r["bytes"] > 0

    raw = open(f"{tmp_ds_path}/_file_metadata", "rb").read()
    if r["compressed"]:
        import brotli

        raw = brotli.decompress(raw)
    data = _json.loads(raw.decode("utf-8"))
    assert len(data) == 3
    for rel, entry in data.items():
        assert not rel.startswith("/")  # dataset-relative keys
        assert set(entry) == {
            "serialized_metadata_b64",
            "num_rows",
            "num_columns",
            "created_by",
            "format_version",
        }
        # blob deserializes exactly as the reference's reader does
        md = pq.read_metadata(
            pa.BufferReader(base64.b64decode(entry["serialized_metadata_b64"]))
        )
        assert md.num_rows == entry["num_rows"] == 40
        assert len(md.schema) == entry["num_columns"]

    # full round-trip through the importer == a live footer scan
    r2 = import_legacy_file_metadata(spark, tmp_ds_path)
    assert r2 == {"imported": 3, "missing": 0}
    imported = {
        r["file_path"]: (r["num_rows"], r["size_bytes"], dict(r["column_stats"]))
        for r in StatsIndex(spark, tmp_ds_path).stats().collect()
    }
    live = {
        r["file_path"]: (r["num_rows"], r["size_bytes"], dict(r["column_stats"]))
        for r in collect_file_stats(spark, tmp_ds_path).collect()
    }
    # schemeless/qualified forms may differ; compare by basename
    assert {k.rsplit("/", 1)[-1]: v for k, v in imported.items()} == {
        k.rsplit("/", 1)[-1]: v for k, v in live.items()
    }


# -- Z-order clustering --------------------------------------------------


def test_zorder_improves_multi_column_pruning(spark, tmp_ds_path):
    """Linear sort skips only on its leading column; the Morton rewrite
    must make file-level min/max pruning effective on BOTH columns."""
    from pydala2_spark.operators.maintenance import zorder_rewrite

    df = spark.range(0, 40_000).selectExpr(
        "id",
        "cast(id % 200 as double) AS x",
        "cast(cast(id / 200 as int) as double) AS y",
    )
    df.repartitionByRange(16, "x").write.parquet(tmp_ds_path)
    st = collect_file_stats(spark, tmp_ds_path)
    assert len(prune_files(st, "y", lo=0, hi=12)) == 16  # x-layout: no y skipping

    zorder_rewrite(spark, tmp_ds_path, ["x", "y"], target_file_count=16)
    st2 = collect_file_stats(spark, tmp_ds_path)
    kept_y = len(prune_files(st2, "y", lo=0, hi=12))
    kept_x = len(prune_files(st2, "x", lo=0, hi=12))
    assert kept_y <= 8 and kept_x <= 8  # hyper-rectangle files skip on both
    assert spark.read.parquet(tmp_ds_path).count() == 40_000  # rows preserved


def test_zorder_footer_minmax_exact_and_statless_fallback(spark, tmp_ds_path):
    """The footer-only min/max used by zorder_rewrite on integral
    columns must equal the data-scan answer exactly (same bucket
    boundaries, so the clustered layout is bit-identical), and a
    dataset containing ANY stat-less file must yield None so the
    caller falls back to the scan aggregate instead of clustering on
    partial bounds."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pydala2_spark.operators.maintenance import _footer_minmax

    df = spark.range(0, 10_000).selectExpr(
        "id AS k", "cast(id % 97 AS bigint) AS v"
    )
    df.repartition(4).write.parquet(tmp_ds_path)
    mm = _footer_minmax(spark, tmp_ds_path, ["k", "v"])
    scan = df.agg(
        F.min("k"), F.max("k"), F.min("v"), F.max("v")
    ).first()
    assert mm == {
        "k": (float(scan[0]), float(scan[1])),
        "v": (float(scan[2]), float(scan[3])),
    }

    # drop a stat-less parquet file into the dataset: footer answer
    # must become None (partial bounds are worse than a scan)
    pq.write_table(
        pa.table({"k": pa.array([5], pa.int64()), "v": pa.array([3], pa.int64())}),
        f"{tmp_ds_path}/nostats.parquet",
        write_statistics=False,
    )
    assert _footer_minmax(spark, tmp_ds_path, ["k", "v"]) is None


def test_zorder_expr_null_column_and_bits_clamp(spark):
    """An all-null column must not crash the key builder, and the
    interleave must stay inside 63 bits however many columns are given
    (shiftleft wraps mod 64 in the JVM — a wrapped key would silently
    destroy the clustering)."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.maintenance import zorder_expr

    df = spark.range(0, 100).selectExpr(
        "cast(id as double) AS a",
        "cast(null as double) AS b",
        "cast(id % 7 as double) AS c",
        "cast(id % 11 as double) AS d",
        "cast(id % 13 as double) AS e",
        "cast(id % 17 as double) AS f",
    )
    # 6 columns x default bits=12 would need 72 bits without the clamp
    z = zorder_expr(df, ["a", "b", "c", "d", "e", "f"], bits=12)
    rows = df.select(z.alias("z")).agg(F.min("z"), F.max("z")).first()
    assert rows[0] is not None and rows[0] >= 0
    assert rows[1] < (1 << 63)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        zorder_expr(df, [], bits=12)


def test_staging_swap_rolls_back_on_publish_failure(spark, tmp_ds_path, monkeypatch):
    """If the staging->path rename fails, the original dataset must be
    rolled back into place and nothing deleted."""
    import pydala2_spark.plans.fs as M

    spark.range(0, 100).write.parquet(tmp_ds_path)
    real_rename = M.rename
    calls = {"n": 0}

    def flaky_rename(spark_, src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # second rename = staging -> path publish
            return False
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(M, "rename", flaky_rename)
    import pytest as _pytest

    with _pytest.raises(IOError):
        M.replace_dir(spark, tmp_ds_path + "__staging_x", tmp_ds_path)
    monkeypatch.undo()
    # original data still fully readable at the original path
    assert spark.read.parquet(tmp_ds_path).count() == 100


def test_compaction_candidates_stay_distributed(spark, tmp_ds_path):
    """Candidate selection must filter BEFORE any driver collect: the
    candidates frame contains only the partitions selected for rewrite,
    not one row per partition."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.maintenance import compaction_candidates

    # 10 partitions, each a single healthy file, plus 2 fragmented ones
    big = spark.range(0, 1000).withColumn("p", F.col("id") % 10)
    big.repartition("p").write.partitionBy("p").parquet(tmp_ds_path)
    for pid in (90, 91):
        for _ in range(3):
            spark.range(0, 5).withColumn("p", F.lit(pid)).write.mode(
                "append"
            ).partitionBy("p").parquet(tmp_ds_path)

    st = collect_file_stats(spark, tmp_ds_path)
    cand = compaction_candidates(st, max_rows_per_file=1_000_000)
    assert cand.count() == 2  # only the fragmented partitions survive


def test_explain_pruning_reports_sidecar_skipping(spark, tmp_ds_path):
    """The skipping report must reflect each sidecar's keep set, flag
    missing sidecars as None (= 'ANALYZE first'), and intersect when
    both apply — all metadata-only."""
    from pydala2_spark.plans.analyze import analyze_dataset
    from pydala2_spark.sources.dataset import ParquetDataset

    _write_fragmented(spark, tmp_ds_path, n_batches=4, rows=50)  # disjoint ids
    ds = ParquetDataset(tmp_ds_path, spark=spark)

    # no sidecars yet: nothing prunable, both counts None
    r0 = ds.explain_pruning("id", lo=120, hi=130)
    assert r0 == {
        "total_files": 4,
        "stats_kept": None,
        "bloom_kept": None,
        "files_to_scan": 4,
        "skipped_pct": 0.0,
    }

    analyze_dataset(spark, tmp_ds_path, bloom_columns=["id"], ndv_columns=None)
    r1 = ds.explain_pruning("id", lo=120, hi=130)
    assert r1["stats_kept"] == 1 and r1["files_to_scan"] == 1
    assert r1["skipped_pct"] == 75.0
    r2 = ds.explain_pruning("id", values=[7])
    assert r2["bloom_kept"] is not None and 1 <= r2["files_to_scan"] <= 2
    # range + point intersect
    r3 = ds.explain_pruning("id", lo=0, hi=49, values=[7])
    assert r3["files_to_scan"] <= min(r3["stats_kept"], r3["bloom_kept"])


def test_explain_pruning_conservative_on_stale_index(spark, tmp_ds_path):
    """A file appended AFTER the last refresh has no index row; the
    report must count it as scanned (unknown => keep), matching
    bloom's conservative rule — not silently claim it skippable."""
    from pydala2_spark.plans.stats import StatsIndex
    from pydala2_spark.sources.dataset import ParquetDataset

    _write_fragmented(spark, tmp_ds_path, n_batches=2, rows=50)  # ids 0..99
    StatsIndex(spark, tmp_ds_path).refresh()
    # new file with ids 200..249 lands; index is now stale
    spark.createDataFrame(make_simple_pdf(50, seed=200)).repartition(1).write.mode(
        "append"
    ).parquet(tmp_ds_path)

    ds = ParquetDataset(tmp_ds_path, spark=spark)
    r = ds.explain_pruning("id", lo=210, hi=220)
    # only the two indexed files are provably skippable
    assert r["total_files"] == 3 and r["files_to_scan"] == 1
    assert r["stats_kept"] == 1  # the unindexed file, kept conservatively


def test_export_legacy_file_metadata_refuses_above_cap(spark, tmp_ds_path):
    """The legacy sidecar is one JSON document holding every footer —
    O(files) memory by format — so the export refuses above max_files
    with an error naming the scalable alternative, and writes nothing."""
    import os

    from pydala2_spark.plans.stats import export_legacy_file_metadata

    _write_fragmented(spark, tmp_ds_path, n_batches=3, rows=10)
    with pytest.raises(ValueError, match="max_files.*StatsIndex"):
        export_legacy_file_metadata(spark, tmp_ds_path, max_files=2)
    assert not os.path.exists(f"{tmp_ds_path}/_file_metadata")
    # raising the cap explicitly accepts the bill and proceeds
    r = export_legacy_file_metadata(spark, tmp_ds_path, max_files=3)
    assert r["files"] == 3


def test_compaction_job_ceilings(spark, tmp_path):
    """Job ceilings on three appended 100-row files: compact_partitions
    runs at most 4 Spark jobs unpartitioned and 5 partitioned,
    compact_by_rows at most 5: the planning collects and the write
    (the delete check after the write runs none)."""
    from conftest import spark_jobs

    def three_files(p, partitioned):
        for lo in (0, 100, 200):
            w = (
                spark.range(lo, lo + 100)
                .selectExpr("id", "concat('v', id) AS v", "id % 2 AS part")
                .coalesce(1)
                .write.mode("append")
            )
            (w.partitionBy("part") if partitioned else w).parquet(p)

    for name, partitioned, run, ceiling in (
        ("cp_flat", False, compact_partitions, 4),
        ("cp_part", True, compact_partitions, 5),
        ("cbr", False, compact_by_rows, 5),
    ):
        p = str(tmp_path / name)
        three_files(p, partitioned)
        before = _snapshot(spark, p)
        _, jobs = spark_jobs(spark, lambda: run(spark, p))
        assert _snapshot(spark, p) == before
        assert len(list_files(spark, p)) == (2 if partitioned else 1)
        assert jobs <= ceiling, (name, jobs)
