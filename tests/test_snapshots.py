"""Snapshot manifests: atomic commits, time travel, rollback, vacuum,
optimistic concurrency, crash debris invisibility."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pydala2_spark.plans.snapshots import SnapshotDataset


def _df(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def test_commit_read_time_travel(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    m1 = ds.commit(_df(spark, 0, 10, "a"))
    m2 = ds.commit(_df(spark, 10, 15, "b"))
    assert (m1["version"], m2["version"]) == (1, 2)
    assert ds.read().count() == 15
    assert ds.read(version=1).count() == 10
    assert set(r["tag"] for r in ds.read(version=1).collect()) == {"a"}


def test_overwrite_keeps_old_versions_readable(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 10, "a"))
    ds.commit(_df(spark, 0, 3, "b"), mode="overwrite")
    assert ds.read().count() == 3
    assert ds.read(version=1).count() == 10  # time travel across overwrite


def test_rollback_is_append_only(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 10, "a"))
    ds.commit(_df(spark, 10, 20, "b"))
    m = ds.rollback(1)
    assert m["version"] == 3 and m["operation"] == "rollback:1"
    assert ds.read().count() == 10
    # the rolled-back-over version is still reachable
    assert ds.read(version=2).count() == 20
    assert [h["version"] for h in ds.history()] == [1, 2, 3]


def test_crash_debris_invisible_then_vacuumed(spark, tmp_ds_path):
    from pydala2_spark.plans.fs import list_files

    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 10, "a"))
    # simulate a crash AFTER data files land but BEFORE the manifest:
    # write files straight into the root (what a moved-but-unpublished
    # commit leaves behind)
    _df(spark, 100, 200, "crash").repartition(1).write.mode("append").parquet(tmp_ds_path)
    assert ds.read().count() == 10  # snapshot readers never see debris
    n_before = len(list_files(spark, tmp_ds_path, suffixes=(".parquet",)))
    # default grace window protects young unreferenced files: they may
    # be an IN-FLIGHT commit's moved-but-unpublished data
    assert ds.vacuum()["deleted_files"] == 0
    out = ds.vacuum(orphan_grace_seconds=0)  # no writers active: safe
    assert out["deleted_files"] >= 1
    assert ds.read().count() == 10
    assert len(list_files(spark, tmp_ds_path, suffixes=(".parquet",))) < n_before


def test_vacuum_keep_last_drops_old_version_files(spark, tmp_ds_path):
    from pydala2_spark.plans.fs import list_files

    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 10, "a"))
    ds.commit(_df(spark, 0, 5, "b"), mode="overwrite")
    ds.commit(_df(spark, 0, 2, "c"), mode="overwrite")
    out = ds.vacuum(keep_last=1)
    assert out["deleted_manifests"] == 2
    assert out["deleted_files"] >= 2  # v1+v2's exclusive files
    assert ds.versions() == [3]
    assert ds.read().count() == 2
    with pytest.raises(Exception):
        ds.read(version=1)


def test_concurrent_commit_retries_next_version(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 10, "a"))
    # another writer claims v2 between our data move and publish:
    # pre-publish a manifest at v2 manually
    squatter = {
        "version": 2,
        "parent": 1,
        "operation": "append",
        "files": ds._read_manifest(1)["files"],
        "added": [],
        "schema_json": ds._read_manifest(1)["schema_json"],
        "ts": 0.0,
    }
    assert ds._try_publish(squatter)
    m = ds.commit(_df(spark, 10, 20, "b"))
    # our commit lands at v3 with v2 as parent and BOTH file sets
    assert m["version"] == 3 and m["parent"] == 2
    assert ds.read().count() == 20


@pytest.mark.flaky_under_load
def test_concurrent_committers_lose_no_updates(spark, tmp_ds_path):
    """Two writers race 6 commits each through the optimistic manifest
    lock: every commit must land (12 linear versions + bootstrap), and
    the final version must contain ALL rows — no lost updates.

    Load sensitivity (adjudicated in NOTES_r12): each lock loss costs
    a full Spark write-retry, and on a SATURATED machine (co-tenant
    mirror/bench runs) the loser can exhaust the 50-retry budget on
    scheduler starvation, not on a locking defect. Under that one
    condition — loadavg above the core count — the race re-runs once
    in a fresh directory; on an idle machine a failure fails
    immediately (a real lost-update bug must never hide behind the
    retry)."""
    import os
    import shutil
    import threading

    def race(path):
        ds = SnapshotDataset(spark, path)
        ds.commit(_df(spark, 0, 1, "seed"))
        errs = []

        def writer(wid):
            try:
                for i in range(6):
                    lo = 1000 * (wid + 1) + i * 10
                    ds.commit(_df(spark, lo, lo + 10, f"w{wid}"))
            except Exception as e:  # pragma: no cover - failure detail
                errs.append(e)

        ts = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs
        assert ds.current_version() == 13  # 1 bootstrap + 12 commits
        assert ds.read().count() == 1 + 12 * 10
        # version numbers are a gapless linear history
        assert ds.versions() == list(range(1, 14))

    try:
        race(tmp_ds_path)
    except AssertionError as first:
        saturated = os.getloadavg()[0] > (os.cpu_count() or 1)
        if not saturated:
            raise
        # keep the masked first-run red VISIBLE in test output — an
        # intermittent real lost-update bug must not vanish silently
        # behind the load retry
        import warnings

        warnings.warn(
            "concurrent-committers race retried under load "
            f"(loadavg={os.getloadavg()[0]:.1f}); first failure: {first!r}",
            stacklevel=1,
        )
        retry_path = tmp_ds_path + "_retry"
        try:
            race(retry_path)
        finally:
            shutil.rmtree(retry_path, ignore_errors=True)


def test_partitioned_commit_preserves_partition_columns(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    df = spark.range(0, 20).select(
        "id", (F.col("id") % 2).alias("bucket")
    )
    ds.commit(df, partition_by=["bucket"])
    got = ds.read()
    assert set(got.columns) == {"id", "bucket"}
    assert got.filter(F.col("bucket") == 1).count() == 10


def test_empty_commit_and_schema_recovery(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    empty = _df(spark, 0, 0, "a")
    ds.commit(empty)
    got = ds.read()
    assert got.count() == 0
    assert got.columns == ["id", "tag"]


def test_manifest_keys_per_operation(spark, tmp_ds_path):
    """Every operation claims its version through one commit loop; the
    on-disk manifest keeps exactly each operation's keys (``removed``
    only on row-level DML, ``extra`` only when given)."""
    base = {"version", "parent", "operation", "files", "added", "schema_json", "ts"}
    ds = SnapshotDataset(spark, tmp_ds_path)
    got = {
        "append": ds.commit(_df(spark, 0, 10, "a")),
        "append+extra": ds.commit(_df(spark, 10, 20, "b"), extra={"k": 1}),
        "overwrite": ds.commit(_df(spark, 0, 5, "c").repartition(2), mode="overwrite"),
    }
    ds.commit(_df(spark, 5, 8, "d"))
    got["compact"] = ds.compact()
    got["rollback"] = ds.rollback(2)
    for op, pred, kw in (("delete_where", "id = 3", {}), ("update_where", "id = 4", {"set": {"tag": "'u'"}})):
        v = getattr(ds, op)(pred, **kw)["version"]
        got[op] = ds._read_manifest(v)
    want = {
        "append": base,
        "append+extra": base | {"extra"},
        "overwrite": base,
        "compact": base,
        "rollback": base,
        "delete_where": base | {"removed"},
        "update_where": base | {"removed"},
    }
    for op, m in got.items():
        assert set(m) == want[op], op
        assert m == ds._read_manifest(m["version"]), op  # returned == on disk
        assert (m["parent"] or 0) == m["version"] - 1, op
    assert got["rollback"]["operation"] == "rollback:2" and got["rollback"]["added"] == []
    assert got["compact"]["operation"] == "compact"
    assert got["append+extra"]["extra"] == {"k": 1}


def test_read_without_snapshots_raises(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    with pytest.raises(ValueError):
        ds.read()
    assert ds.current_version() is None
    assert ds.history() == []


def test_compact_preserves_history_and_rows(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    # three appends → many small files
    for k in range(3):
        ds.commit(_df(spark, k * 10, (k + 1) * 10, f"t{k}"))
    v_before = ds.current_version()
    rows_before = sorted(r["id"] for r in ds.read().collect())
    m = ds.compact()
    assert m is not None and m["operation"] == "compact"
    assert m["version"] == v_before + 1
    # rows identical, fewer files
    assert sorted(r["id"] for r in ds.read().collect()) == rows_before
    assert len(m["added"]) < len(ds._read_manifest(v_before)["files"])
    # time travel to the pre-compaction version still works
    assert ds.read(version=v_before).count() == 30
    # vacuum with keep_last=1 reclaims the replaced small files
    out = ds.vacuum(keep_last=1)
    assert out["deleted_files"] >= 2
    assert sorted(r["id"] for r in ds.read().collect()) == rows_before


def test_compact_abandons_when_concurrent_overwrite_drops_smalls(
    spark, tmp_ds_path, monkeypatch
):
    """A concurrent overwrite that removes the small files mid-compaction
    must make compact abandon (returning None) instead of publishing a
    version that resurrects the overwritten rows."""
    from pydala2_spark.plans.snapshots import SnapshotDataset as SDS

    ds = SDS(spark, tmp_ds_path)
    for k in range(3):
        ds.commit(_df(spark, k * 10, (k + 1) * 10, f"t{k}"))

    other = SDS(spark, tmp_ds_path)
    real_publish = SDS._try_publish
    fired = {"done": False}

    def racing_publish(self, manifest):
        if not fired["done"] and manifest.get("operation") == "compact":
            fired["done"] = True
            # the race: an overwrite lands first, dropping every old file
            other.commit(_df(spark, 900, 905, "ow"), mode="overwrite")
        return real_publish(self, manifest)

    monkeypatch.setattr(SDS, "_try_publish", racing_publish)
    out = ds.compact()
    assert out is None  # abandoned, not resurrected
    assert sorted(r["id"] for r in ds.read().collect()) == [900, 901, 902, 903, 904]
    # the abandoned rewrite left no referenced debris: vacuum(0) cleans
    ds.vacuum(orphan_grace_seconds=0)
    assert sorted(r["id"] for r in ds.read().collect()) == [900, 901, 902, 903, 904]


def test_read_pruned_skips_files_and_respects_version(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    # disjoint id ranges per commit → per-file min/max are selective
    ds.commit(_df(spark, 0, 100, "a").coalesce(1))
    ds.commit(_df(spark, 1000, 1100, "b").coalesce(1))
    got = ds.read_pruned("id", lo=1050, hi=1060)
    assert got.count() == 100  # only the second file read (pre-row-filter)
    assert set(r["tag"] for r in got.collect()) == {"b"}
    # version pin: v1 has no rows in that range at all
    got_v1 = ds.read_pruned("id", lo=1050, hi=1060, version=1)
    assert got_v1.count() == 0
    # and the actual filtered answer matches a full-scan filter
    full = ds.read().where(F.col("id").between(1050, 1060)).count()
    pruned = got.where(F.col("id").between(1050, 1060)).count()
    assert full == pruned == 11


def test_compact_noop_below_two_small_files(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 10, "a").coalesce(1))
    assert ds.compact() is None
    assert ds.current_version() == 1


def _drop_events(spark, tmp_path, landing, name, ids):
    import datetime as dt
    import glob
    import shutil

    df = spark.createDataFrame(
        [(i, i % 3, "click", dt.datetime(2024, 1, 1, 0, i % 60), 1.0, "{}") for i in ids],
        "event_id long, user_id long, event_type string, ts timestamp, value double, props string",
    )
    df.repartition(1).write.parquet(str(tmp_path / f"stage_{name}"))
    src = glob.glob(str(tmp_path / f"stage_{name}" / "part-*.parquet"))[0]
    shutil.copy(src, landing / f"{name}.parquet")


def test_snapshot_stream_commits_batches_and_time_travels(spark, tmp_path):
    from pydala2_spark.streaming.pipeline import snapshot_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "snap_ds")
    ckpt = str(tmp_path / "ckpt_snap")

    _drop_events(spark, tmp_path, landing, "d1", range(0, 5))
    snapshot_stream(spark, str(landing), target, ckpt)
    ds = SnapshotDataset(spark, target)
    v1 = ds.current_version()
    assert ds.read().count() == 5

    _drop_events(spark, tmp_path, landing, "d2", range(5, 12))
    snapshot_stream(spark, str(landing), target, ckpt)
    assert ds.read().count() == 12
    assert ds.read(version=v1).count() == 5  # ingest history is versioned

    # nothing new landed → no new data rows
    snapshot_stream(spark, str(landing), target, ckpt)
    assert ds.read().count() == 12


def test_snapshot_stream_replayed_batch_skipped(spark, tmp_path):
    """The manifest IS the dedup record: wipe the checkpoint (the
    hardest replay — Spark re-reads everything as batch 0) and re-run;
    the already-committed batch id must be skipped, not re-committed."""
    import shutil

    from pydala2_spark.streaming.pipeline import snapshot_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "snap_ds")
    ckpt = str(tmp_path / "ckpt_snap")

    _drop_events(spark, tmp_path, landing, "d1", range(0, 6))
    snapshot_stream(spark, str(landing), target, ckpt)
    ds = SnapshotDataset(spark, target)
    v_after = ds.current_version()
    assert ds.read().count() == 6

    shutil.rmtree(ckpt)  # crash-amnesia: checkpoint lost, data kept
    snapshot_stream(spark, str(landing), target, ckpt)
    assert ds.read().count() == 6  # no duplicate ingestion
    assert ds.current_version() == v_after  # and no version churn


def test_compact_cluster_by_improves_pruning(spark, tmp_ds_path):
    """cluster_by Z-orders the compacted files: after the rewrite a
    narrow predicate on the clustered column prunes most files via the
    version-pinned stats scan."""
    import random

    ds = SnapshotDataset(spark, tmp_ds_path)
    rng = random.Random(3)
    ids = list(range(2000))
    rng.shuffle(ids)
    # 4 commits of shuffled ids → every file spans the whole range
    for k in range(4):
        chunk = ids[k * 500 : (k + 1) * 500]
        ds.commit(
            spark.createDataFrame([(i, i % 7) for i in chunk], "id long, g long").coalesce(1)
        )
    before = ds.read_pruned("id", lo=100, hi=120)
    n_before = len(before.inputFiles())
    assert n_before == 4  # shuffled: nothing prunable

    m = ds.compact(cluster_by=["id"], target_file_bytes=4 << 10)  # force multi-file
    assert m is not None and len(m["added"]) >= 2
    after = ds.read_pruned("id", lo=100, hi=120)
    assert len(after.inputFiles()) < len(m["added"])  # skipping works now
    # identical answers
    assert sorted(r["id"] for r in after.where(F.col("id").between(100, 120)).collect()) == list(
        range(100, 121)
    )


def test_scd2_stream_builds_dimension_history(spark, tmp_path):
    """CDC drops → SCD2 history: changed keys close and reopen with a
    TARGET-derived monotone clock; replays (even after checkpoint
    loss) re-apply final values and are no-ops by construction."""
    import shutil

    from pydala2_spark.streaming.pipeline import scd2_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "dim_history")
    ckpt = str(tmp_path / "ckpt_scd2")

    _drop_events(spark, tmp_path, landing, "d1", range(0, 5))
    scd2_stream(
        spark, str(landing), target, ["user_id"], ckpt,
        tracked=["value"], order_by=["ts", "event_id"],
    )
    h1 = spark.read.parquet(target)
    assert h1.filter(F.col("valid_to").isNull()).count() == 3  # user_ids 0..2

    # second drop: same users, different values → close + reopen
    import datetime as dt

    df = spark.createDataFrame(
        [(100 + i, i % 3, "click", dt.datetime(2024, 1, 2, 0, i), 9.0, "{}") for i in range(5)],
        "event_id long, user_id long, event_type string, ts timestamp, value double, props string",
    )
    df.repartition(1).write.parquet(str(tmp_path / "stage_d2x"))
    import glob as _g

    src = _g.glob(str(tmp_path / "stage_d2x" / "part-*.parquet"))[0]
    shutil.copy(src, landing / "d2.parquet")
    scd2_stream(
        spark, str(landing), target, ["user_id"], ckpt,
        tracked=["value"], order_by=["ts", "event_id"],
    )

    h2 = spark.read.parquet(target)
    assert h2.filter(F.col("valid_to").isNull()).count() == 3  # one open per user
    assert h2.count() == 6  # closed v1 rows + new v2 rows
    closed = h2.filter(F.col("valid_to").isNotNull())
    assert closed.count() == 3 and all(r["valid_to"] == 1 for r in closed.collect())

    # replay with a wiped checkpoint: the full landing zone re-reads as
    # one batch whose last-write-wins values (order_by picks the newest
    # event per key) equal the current open rows → empty delta, no-op
    shutil.rmtree(ckpt)
    scd2_stream(
        spark, str(landing), target, ["user_id"], ckpt,
        tracked=["value"], order_by=["ts", "event_id"],
    )
    assert spark.read.parquet(target).count() == 6

    # a NEW file bundled into the replayed batch is NOT lost (the old
    # marker guard dropped it): user 0 changes again
    import datetime as _dt

    late = spark.createDataFrame(
        [(500, 0, "click", _dt.datetime(2024, 1, 3), 42.0, "{}")],
        "event_id long, user_id long, event_type string, ts timestamp, value double, props string",
    )
    late.repartition(1).write.parquet(str(tmp_path / "stage_d3x"))
    src3 = _g.glob(str(tmp_path / "stage_d3x" / "part-*.parquet"))[0]
    shutil.copy(src3, landing / "d3.parquet")
    shutil.rmtree(ckpt)  # checkpoint lost AGAIN: d1+d2+d3 arrive as one batch
    scd2_stream(
        spark, str(landing), target, ["user_id"], ckpt,
        tracked=["value"], order_by=["ts", "event_id"],
    )
    h3 = spark.read.parquet(target)
    open_rows = {r["user_id"]: r["value"] for r in h3.filter(F.col("valid_to").isNull()).collect()}
    assert open_rows[0] == 42.0  # the bundled new change applied
    assert h3.count() == 7  # exactly one new version row, history intact
    # clock stayed monotone: valid_from strictly increases per user 0
    u0 = sorted(
        (r["valid_from"], r["valid_to"]) for r in h3.filter(F.col("user_id") == 0).collect()
    )
    assert all(a[0] < (a[1] if a[1] is not None else 10**9) for a in u0)


def test_changes_append_only_feed_is_inserts_and_prunes_carried_files(
    spark, tmp_ds_path
):
    """Across pure appends the CDF is exactly the appended rows as
    inserts — and the plan must READ only the added files (rows in
    files carried by name cannot have changed)."""
    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 10, "a"))
    ds.commit(_df(spark, 10, 15, "b"))
    ch = ds.changes(1, 2, key_cols=["id"])
    rows = {(r["id"], r["tag"], r["_change_type"]) for r in ch.collect()}
    assert rows == {(i, "b", "insert") for i in range(10, 15)}
    # file pruning: only v2's ADDED files are inputs
    m1 = ds._read_manifest(1)
    read_files = {f.split("/")[-1] for f in ch.inputFiles()}
    v1_files = {f.split("/")[-1] for f in m1["files"]}
    assert not (read_files & v1_files)


def test_changes_overwrite_diff_classifies_insert_update_delete(
    spark, tmp_ds_path
):
    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 6, "a"))  # ids 0..5 tag a
    v2 = (
        spark.range(2, 8)
        .select(
            F.col("id"),
            F.when(F.col("id") < 4, F.lit("CHANGED")).otherwise(F.lit("a")).alias("tag"),
        )
    )
    ds.commit(v2, mode="overwrite")  # drop 0,1; update 2,3; keep 4,5; insert 6,7
    got = {
        (r["id"], r["_change_type"]): r["tag"]
        for r in ds.changes(1, 2, key_cols=["id"]).collect()
    }
    assert set(got) == {
        (0, "delete"), (1, "delete"),
        (2, "update"), (3, "update"),
        (6, "insert"), (7, "insert"),
    }
    assert got[(0, "delete")] == "a"  # deletes carry the pre image
    assert got[(2, "update")] == "CHANGED"  # updates carry the post image


def test_changes_compaction_emits_nothing(spark, tmp_ds_path):
    """A compaction rewrites files but no row values — the CDF between
    the two versions must be empty (value diff, not file diff)."""
    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 50, "a").repartition(5))
    assert ds.compact(small_file_max_bytes=1 << 30) is not None
    assert ds.changes(1, 2, key_cols=["id"]).count() == 0


def test_changes_validates_inputs(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 3, "a"))
    ds.commit(_df(spark, 3, 5, "b"))
    with pytest.raises(ValueError, match="key_cols"):
        ds.changes(1, 2, key_cols=None)
    with pytest.raises(ValueError, match="unknown snapshot version"):
        ds.changes(1, 9, key_cols=["id"])
    with pytest.raises(ValueError, match="newer than"):
        ds.changes(2, 1, key_cols=["id"])
    with pytest.raises(ValueError, match="not in version"):
        ds.changes(1, 2, key_cols=["nope"])
    assert ds.changes(1, 1, key_cols=["id"]).count() == 0


def test_version_scoped_file_stats(spark, tmp_ds_path):
    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(_df(spark, 0, 10, "a").coalesce(1))
    ds.commit(_df(spark, 10, 30, "b").coalesce(1))
    st1 = ds.file_stats(version=1)
    st2 = ds.file_stats()
    assert st1.count() == 1 and st2.count() == 2
    assert sum(r["num_rows"] for r in st2.collect()) == 30


def test_commit_refuses_object_store_scheme_without_publisher(spark):
    """The rename-based optimistic lock is TOCTOU-racy on object
    stores (copy+delete rename, non-atomic existence check) — commit,
    compact, and rollback must fail FAST there (before staging any
    data) unless an atomic commit_publisher is supplied."""
    from pydala2_spark.plans.snapshots import UnsafeCommitError

    ds = SnapshotDataset(spark, "s3a://bucket/ds")
    with pytest.raises(UnsafeCommitError, match="commit_publisher"):
        ds.commit(_df(spark, 0, 5))
    with pytest.raises(UnsafeCommitError):
        ds.rollback(1)
    with pytest.raises(UnsafeCommitError):
        ds.compact()


def test_conditional_publisher_no_lost_update(spark, tmp_ds_path):
    """Object-store-style commit protocol: manifests publish through an
    atomic create-if-absent publisher (O_CREAT|O_EXCL here — true
    atomicity, like S3 If-None-Match) with NO existence pre-check. The
    exact race the rename lock loses — two committers both past any
    existence check, claiming the same version — is driven directly:
    the loser must observe failure and retry, never overwrite."""
    import os

    from pydala2_spark.plans.fs import schemeless

    def publisher(uri, payload):
        p = schemeless(uri)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        try:
            fd = os.open(p, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        return True

    ds = SnapshotDataset(spark, tmp_ds_path, commit_publisher=publisher)
    m1 = ds.commit(_df(spark, 0, 10, "a"))
    assert m1["version"] == 1
    # the race: two fully-built manifests for the SAME version slot
    winner = dict(m1, version=2, parent=1, ts=0.0)
    loser = dict(m1, version=2, parent=1, ts=1.0)
    assert ds._try_publish(winner) is True
    assert ds._try_publish(loser) is False  # create-if-absent: no overwrite
    # the winning manifest's content survived intact
    assert ds._read_manifest(2)["ts"] == 0.0
    # and a losing COMMIT retries to the next slot, merging the new head
    m3 = ds.commit(_df(spark, 10, 20, "b"))
    assert m3["version"] == 3 and m3["parent"] == 2
    assert ds.read().count() == 20
    assert ds.read(version=1).count() == 10  # time travel intact


def test_s3_conditional_put_publisher_with_fake_client():
    """The boto3-backed publisher maps PreconditionFailed/412 to
    'lost the race' (False) and never overwrites; other errors
    propagate; non-bucket URIs are rejected."""
    from pydala2_spark.plans.snapshots import s3_conditional_put_publisher

    class _PreconditionFailed(Exception):
        def __init__(self):
            super().__init__("exists")
            self.response = {
                "Error": {"Code": "PreconditionFailed"},
                "ResponseMetadata": {"HTTPStatusCode": 412},
            }

    class FakeS3:
        def __init__(self):
            self.objects = {}

        def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
            assert IfNoneMatch == "*"  # the atomicity contract
            if (Bucket, Key) in self.objects:
                raise _PreconditionFailed()
            self.objects[(Bucket, Key)] = Body

    c = FakeS3()
    pub = s3_conditional_put_publisher(client=c)
    assert pub("s3a://b/ds/_snapshots/v00000001.json", '{"v": 1}') is True
    assert pub("s3a://b/ds/_snapshots/v00000001.json", '{"v": "x"}') is False
    assert c.objects[("b", "ds/_snapshots/v00000001.json")] == b'{"v": 1}'
    with pytest.raises(ValueError, match="bucket/key"):
        pub("not-a-uri", "{}")

    class Boom(Exception):
        pass

    class Bad:
        def put_object(self, **kw):
            raise Boom()

    with pytest.raises(Boom):
        s3_conditional_put_publisher(client=Bad())("s3://b/k.json", "{}")


def test_publish_guard_and_stream_publisher_plumbing(spark, tmp_ds_path):
    """Round-6 review regressions: (a) s3n URIs normalize like s3a in
    the stats layer; (b) snapshot_stream and Dataset.snapshots()
    accept commit_publisher (object-store targets were otherwise
    impossible even for callers holding a valid hook); (c) a local
    path's effective scheme is 'file'-or-None, so the guard stays
    quiet there."""
    import inspect

    from pydala2_spark.plans.stats import _normalize_uri
    from pydala2_spark.sources.dataset import Dataset
    from pydala2_spark.streaming.pipeline import snapshot_stream

    assert _normalize_uri("s3n://bucket/k") == "s3://bucket/k"
    assert "commit_publisher" in inspect.signature(snapshot_stream).parameters
    ds = SnapshotDataset(spark, tmp_ds_path)
    assert ds._effective_scheme() in (None, "file")
    ds.commit(_df(spark, 0, 3))  # guard quiet on local paths

    # snapshots(commit_publisher=...) routes through for_path: the
    # hook sticks on object-store paths and is DROPPED on local ones
    # (rename is already atomic there; an S3 hook would reject the
    # scheme-less manifest path)
    def pub(uri, payload):  # pragma: no cover
        raise AssertionError("not called")

    d = Dataset(tmp_ds_path, spark=spark)
    assert d.snapshots(commit_publisher=pub).commit_publisher is None
    assert (
        SnapshotDataset.for_path(
            spark, "s3a://bucket/ds", commit_publisher=pub
        ).commit_publisher
        is pub
    )
    # direct construction keeps the publisher (explicit choice — the
    # O_EXCL local-publisher test above depends on it)
    assert SnapshotDataset(spark, tmp_ds_path, commit_publisher=pub).commit_publisher is pub


def test_s3_conditional_put_publisher_against_moto():
    """The boto3 publisher against a REAL S3 API implementation (moto),
    not a hand-built fake: create-if-absent wins once, every later
    attempt observes PreconditionFailed/412 → False, and the winning
    manifest's bytes survive untouched. Closes the r6 verdict's
    'fake-client-tested only' caveat to the extent the container
    allows (moto is in-process; a networked MinIO race would be the
    only stronger check)."""
    moto = pytest.importorskip("moto")
    import boto3

    from pydala2_spark.plans.snapshots import s3_conditional_put_publisher

    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="commit-bucket")
        pub = s3_conditional_put_publisher(client=client)
        uri = "s3a://commit-bucket/ds/_snapshots/v00000002.json"
        assert pub(uri, '{"ts": 0.0}') is True
        # the race, as S3 itself adjudicates it: same version slot,
        # fully-built payload, no existence pre-check anywhere
        assert pub(uri, '{"ts": 1.0}') is False
        got = client.get_object(
            Bucket="commit-bucket", Key="ds/_snapshots/v00000002.json"
        )["Body"].read()
        assert got == b'{"ts": 0.0}'  # loser never overwrote

        # many committers past any check, one slot: exactly one winner
        import threading

        wins = []
        lock = threading.Lock()

        def commit(i):
            ok = pub(
                "s3a://commit-bucket/ds/_snapshots/v00000003.json",
                '{"writer": %d}' % i,
            )
            with lock:
                wins.append((i, ok))

        threads = [threading.Thread(target=commit, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        winners = [i for i, ok in wins if ok]
        assert len(winners) == 1
        body = client.get_object(
            Bucket="commit-bucket", Key="ds/_snapshots/v00000003.json"
        )["Body"].read().decode()
        assert body == '{"writer": %d}' % winners[0]


def test_tags_pin_versions_survive_vacuum_and_are_immutable(spark, tmp_path):
    """A tag resolves to its pinned bytes across later commits; tagged
    versions survive keep_last vacuum; tags are create-once (racing or
    repeated tagging raises); delete_tag frees the version for aging."""
    import pytest

    from pydala2_spark.plans.snapshots import SnapshotConflictError, SnapshotDataset

    ds = SnapshotDataset(spark, str(tmp_path / "tagged"))
    ds.commit(spark.range(3).selectExpr("id", "'a' AS v"), mode="overwrite")
    ds.commit(spark.range(5).selectExpr("id", "'b' AS v"), mode="overwrite")
    ds.tag("train-v1", version=1)
    ds.commit(spark.range(7).selectExpr("id", "'c' AS v"), mode="overwrite")
    ds.commit(spark.range(9).selectExpr("id", "'d' AS v"), mode="overwrite")

    assert ds.tags() == {"train-v1": 1}
    assert ds.read(tag="train-v1").count() == 3
    assert {r["v"] for r in ds.read(tag="train-v1").collect()} == {"a"}

    with pytest.raises(SnapshotConflictError, match="immutable"):
        ds.tag("train-v1", version=2)
    with pytest.raises(ValueError, match="invalid tag"):
        ds.tag("../escape", version=1)
    with pytest.raises(ValueError, match="no such version"):
        ds.tag("ghost", version=99)
    with pytest.raises(ValueError, match="version OR tag"):
        ds.read(version=1, tag="train-v1")
    with pytest.raises(ValueError, match="unknown tag"):
        ds.read(tag="nope")

    # keep_last=1 would normally age out v1..v3 — the tag holds v1
    ds.vacuum(keep_last=1, orphan_grace_seconds=0)
    assert ds.read(tag="train-v1").count() == 3  # bytes intact
    assert ds.read().count() == 9

    # delete the tag: the version becomes vacuum-eligible again
    assert ds.delete_tag("train-v1") is True
    assert ds.delete_tag("train-v1") is False
    ds.vacuum(keep_last=1, orphan_grace_seconds=0)
    with pytest.raises(Exception):
        ds.read(version=1).count()


def test_snapshot_row_level_delete_and_update(spark, tmp_path):
    """delete_where/update_where publish NEW versions via file-selective
    manifest swap: untouched files carry by NAME, old versions still
    time-travel to pre-DML bytes, NULL predicates preserve rows, SET
    sees the pre-update row, and vacuum reclaims replaced files."""
    import pytest
    from pyspark.sql import functions as F

    from pydala2_spark.plans.snapshots import SnapshotDataset

    ds = SnapshotDataset(spark, str(tmp_path / "dml"))
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "a"), (3, 30.0, "b"), (4, 40.0, "b")],
        "id long, x double, g string",
    )
    ds.commit(df.repartition("g"), mode="overwrite", partition_by=["g"])
    m1 = ds._read_manifest(1)

    out = ds.delete_where("x >= 30 AND g = 'b'")
    assert out["rows"] == 2 and out["version"] == 2
    assert sorted(r["id"] for r in ds.read().collect()) == [1, 2]
    assert sorted(r["id"] for r in ds.read(1).collect()) == [1, 2, 3, 4]
    m2 = ds._read_manifest(2)
    untouched = [f for f in m1["files"] if "g=a" in f]
    assert untouched and set(untouched) <= set(m2["files"])  # carried by name

    up = ds.update_where("x IS NULL", set={"x": "99.0"})
    assert up["rows"] == 1 and up["version"] == 3
    got = {r["id"]: r["x"] for r in ds.read().collect()}
    assert got == {1: 10.0, 2: 99.0}
    # pre-update bytes still travel
    assert {r["id"]: r["x"] for r in ds.read(2).collect()}[2] is None

    # no-match is version-neutral
    nm = ds.delete_where("x > 1e9")
    assert nm["rows"] == 0 and nm["version"] == 3
    assert ds.current_version() == 3

    with pytest.raises(ValueError, match="SET assignment"):
        ds.update_where("x > 0", set={})
    with pytest.raises(ValueError, match="SET columns"):
        ds.update_where("x > 0", set={"nope": "1"})

    # replaced files reclaim once their versions age out
    before = len(ds.files())
    ds.vacuum(keep_last=1, orphan_grace_seconds=0)
    assert ds.read().count() == 2
    assert len(ds.files()) <= before


def test_changes_accepts_tag_endpoints(spark, tmp_path):
    """changes('release', ...) resolves tags to versions — the 'what
    changed since the last release' probe."""
    from pydala2_spark.plans.snapshots import SnapshotDataset

    ds = SnapshotDataset(spark, str(tmp_path / "cdf_tags"))
    ds.commit(spark.range(3).selectExpr("id", "'a' AS v"), mode="overwrite")
    ds.tag("release")
    ds.commit(spark.range(4).selectExpr("id", "'a' AS v"), mode="overwrite")
    got = {(r["id"], r["_change_type"])
           for r in ds.changes("release", key_cols=["id"]).collect()}
    assert got == {(3, "insert")}
    assert ds.changes("release", "release", key_cols=["id"]).count() == 0


def test_row_level_dml_with_unnormalized_paths(spark, tmp_path):
    """ADVICE r7 (medium): _mutate_where previously derived the matched
    file list with a Python split(base) but selected touched rows with a
    Column substring(len(base)+1) — a non-normalized self.path ('//',
    '/./') made the two disagree, publishing a version that dropped the
    matched files with an EMPTY replacement (silent row loss). Both
    sides now derive from one __rel column over the Hadoop-qualified
    base; this drives DML through '//' and '/./' spellings of the same
    dataset and checks no rows are lost. (Fully-relative spellings
    resolve against the JVM's cwd and are covered by the same
    makeQualified call.)"""
    from pydala2_spark.plans.snapshots import SnapshotDataset

    absdir = str(tmp_path / "dml_rel")
    ds = SnapshotDataset(spark, absdir)
    ds.commit(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "id long, x double"
        ),
        mode="overwrite",
    )

    # run the mutations through a doubled-separator spelling
    odd = SnapshotDataset(spark, str(tmp_path) + "//dml_rel")
    assert odd.read().count() == 4
    out = odd.delete_where("id = 4")
    assert out["rows"] == 1 and len(out["matched_files"]) >= 1
    assert sorted(r["id"] for r in odd.read().collect()) == [1, 2, 3]

    # and a /./ spelling
    dot = SnapshotDataset(spark, str(tmp_path) + "/./dml_rel")
    up = dot.update_where("id = 1", set={"x": "x + 5"})
    assert up["rows"] == 1
    got = {r["id"]: r["x"] for r in dot.read().collect()}
    assert got == {1: 15.0, 2: 20.0, 3: 30.0}

    # the normalized-spelling handle sees the same post-DML state
    assert {r["id"]: r["x"] for r in ds.read().collect()} == {
        1: 15.0,
        2: 20.0,
        3: 30.0,
    }


def test_row_level_dml_under_escaped_partition_dirs(spark, tmp_path):
    """A hive dir written for a timestamp string holds a space and an
    escaped ':' (``ts=2024-01-01 00%3A00%3A00``), which
    ``_metadata.file_path`` reports URI-encoded (``%20`` / ``%253A``).
    delete_where and update_where must still name each touched file
    in the manifest's spelling: the rows go, the other files carry by
    name, and no version drops a file it did not rewrite."""
    ds = SnapshotDataset(spark, str(tmp_path / "esc"))
    stamps = ["2024-01-01 00:00:00", "2024-01-02 12:30:00"]
    df = spark.createDataFrame(
        [(i, float(i), stamps[i % 2]) for i in range(10)],
        "id long, x double, ts string",
    )
    ds.commit(df.repartition("ts"), mode="overwrite", partition_by=["ts"])
    files = ds._read_manifest(1)["files"]
    assert len(files) == 2 and all(" " in f and "%3A" in f for f in files)

    out = ds.delete_where("id >= 8")
    assert out["rows"] == 2 and out["version"] == 2
    assert set(out["matched_files"]) == set(files)
    assert sorted(r["id"] for r in ds.read().collect()) == list(range(8))

    up = ds.update_where("id = 1", set={"x": "-1.0"})
    assert up["rows"] == 1 and up["version"] == 3
    m2, m3 = ds._read_manifest(2), ds._read_manifest(3)
    assert len(up["matched_files"]) == 1
    assert set(m2["files"]) - set(up["matched_files"]) <= set(m3["files"])
    got = {r["id"]: r["x"] for r in ds.read().collect()}
    assert got == {i: (-1.0 if i == 1 else float(i)) for i in range(8)}
    assert sorted(r["id"] for r in ds.read(1).collect()) == list(range(10))
