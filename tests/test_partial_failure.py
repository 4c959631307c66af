"""Partial-failure recovery contracts + merge size-gate fallback.

Behavior parity with the reference's recovery surface
(`/root/reference/pydala/io.py:41-64`,
`/root/reference/tests/test_dataset_merge.py:701-757`): typed errors
that carry what already happened, so a caller can complete or undo a
half-applied mutation deliberately.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from pydala2_spark.errors import PartialMergeError, PartialWriteError


def t(**cols):
    return pa.table(cols)


def read_rows(spark, path, *cols):
    return sorted(tuple(r[c] for c in cols) for r in spark.read.parquet(path).collect())


# -- writer: idempotent append retry ----------------------------------


def test_append_retry_does_not_double_append(spark, tmp_ds_path, monkeypatch):
    """A first write attempt that fails is re-run; because the write is
    staged, the retry cannot duplicate rows (the old save-again retry
    re-appended everything the first attempt had committed)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pydala2_spark.sources.writer import Writer

    w = Writer(spark, tmp_ds_path)
    w.write(t(id=[1, 2], v=["a", "b"]), mode="append")

    real_save = DataFrameWriter.save
    calls = {"n": 0}

    def flaky_save(self, path=None, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected transient failure")
        return real_save(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "save", flaky_save)
    w.write(t(id=[3], v=["c"]), mode="append")
    monkeypatch.undo()

    assert calls["n"] == 2  # failed once, retried once
    assert read_rows(spark, tmp_ds_path, "id", "v") == [(1, "a"), (2, "b"), (3, "c")]


def test_append_publish_failure_surfaces_partial_write_error(
    spark, tmp_ds_path, monkeypatch
):
    """If the publish (staging → target renames) dies partway, the
    typed error reports what moved and where the rest still lives —
    and re-running the publish from that payload completes the append
    without duplicates."""
    import pydala2_spark.plans.fs as fs
    from pydala2_spark.sources.writer import Writer

    w = Writer(spark, tmp_ds_path)
    w.write(t(id=[1], v=["a"]), mode="append")

    real_rename = fs.rename

    def failing_rename(spark_, src, dst):
        raise IOError("injected publish failure")

    monkeypatch.setattr(fs, "rename", failing_rename)
    with pytest.raises(PartialWriteError) as ei:
        w.write(t(id=[2], v=["b"]), mode="append")
    monkeypatch.undo()

    err = ei.value
    assert err.staging_dir and "_staging_" in err.staging_dir
    # nothing published → target still readable and un-duplicated
    assert read_rows(spark, tmp_ds_path, "id", "v") == [(1, "a")]

    # recovery: finish the publish from the error payload
    for f in fs.list_files(spark, err.staging_dir):
        rel = f.split("_staging_", 1)[1].split("/", 1)[1]
        assert real_rename(spark, f, f"{tmp_ds_path}/{rel}")
    fs.delete_paths(spark, [err.staging_dir])
    assert read_rows(spark, tmp_ds_path, "id", "v") == [(1, "a"), (2, "b")]


def test_snapshot_commit_move_failure_publishes_no_version(spark, tmp_ds_path, monkeypatch):
    """Snapshot commits publish through the append's staged step: a
    move that fails raises the same PartialWriteError, no manifest is
    published and readers stay on the previous version. No manifest
    can adopt the files left staged, so the staging dir is deleted;
    the file already moved is an orphan that vacuum removes."""
    import pydala2_spark.plans.fs as fs
    from pydala2_spark.plans.snapshots import SnapshotDataset

    ds = SnapshotDataset(spark, tmp_ds_path)
    ds.commit(spark.createDataFrame([(1, "a")], "id long, v string"))

    real_rename, calls = fs.rename, []

    def failing_second_rename(spark_, src, dst):
        calls.append(src)
        if len(calls) > 1:
            raise IOError("injected publish failure")
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(fs, "rename", failing_second_rename)
    with pytest.raises(PartialWriteError) as ei:
        # two partition values: two staged files in two directories
        two = spark.createDataFrame([(2, "b"), (3, "c")], "id long, v string")
        ds.commit(two, partition_by=["v"])
    monkeypatch.undo()

    err = ei.value
    assert len(err.files) == 1 and err.staging_dir is None
    assert not [d for d in fs.child_dirs(spark, tmp_ds_path) if d.startswith("_staging_")]
    assert ds.versions() == [1]
    assert sorted((r["id"], r["v"]) for r in ds.read().collect()) == [(1, "a")]

    def data_files():
        listed = fs.rel_statuses(spark, tmp_ds_path)
        return sorted(rel for rel, _, _, _ in listed if rel.endswith(".parquet"))

    v1 = ds._read_manifest(1)["files"]
    assert len(data_files()) == len(v1) + 1, "the moved file is an orphan until vacuum"
    ds.vacuum(orphan_grace_seconds=0)
    assert data_files() == v1


def test_error_mode_not_retried(spark, tmp_ds_path):
    from pydala2_spark.sources.writer import Writer

    w = Writer(spark, tmp_ds_path)
    w.write(t(id=[1]), mode="append")
    with pytest.raises(Exception):
        w.write(t(id=[2]), mode="error")  # path exists → deterministic error
    assert read_rows(spark, tmp_ds_path, "id") == [(1,)]


# -- merge: partial-failure contract ----------------------------------


def test_merge_delete_failure_raises_partial_merge_error(
    spark, tmp_ds_path, monkeypatch
):
    """Replacement files written but originals not removed → the error
    carries the MergeResult so far plus the exact pending deletes; the
    recovery step is literally delete_paths(pending_deletes)."""
    import pydala2_spark.operators.merge as m
    import pydala2_spark.plans.fs as fs_mod
    from pydala2_spark.operators.merge import merge

    merge(spark, tmp_ds_path, t(id=[1, 2], v=["a", "b"]), strategy="upsert", key_columns=["id"])

    orig = fs_mod.delete_paths  # merge binds delete_paths at call time

    def failing_delete(spark_, paths):
        raise IOError("injected delete failure")

    monkeypatch.setattr(fs_mod, "delete_paths", failing_delete)
    with pytest.raises(PartialMergeError) as ei:
        merge(spark, tmp_ds_path, t(id=[2], v=["B"]), strategy="update", key_columns=["id"])
    monkeypatch.undo()

    err = ei.value
    assert err.merge_result is not None and err.merge_result.updated == 1
    assert err.pending_deletes, "replaced files must be reported"
    # pre-recovery: both old and new copies of key 2 exist (documented state)
    vals = read_rows(spark, tmp_ds_path, "id", "v")
    assert (2, "b") in vals and (2, "B") in vals

    # recovery: apply the pending deletes → merge is complete
    orig(spark, err.pending_deletes)
    assert read_rows(spark, tmp_ds_path, "id", "v") == [(1, "a"), (2, "B")]


def test_merge_counts_with_duplicate_target_keys(spark, tmp_ds_path):
    """Plain appends can leave several target rows per key; the rewrite
    collapses them onto one source row, and target_count_after must
    reflect that (was: before + inserted)."""
    from pydala2_spark.operators.merge import merge
    from pydala2_spark.sources.writer import Writer

    w = Writer(spark, tmp_ds_path)
    w.write(t(id=[1, 2], v=["a", "b"]), mode="append")
    w.write(t(id=[2], v=["b2"]), mode="append")  # duplicate key 2

    r = merge(spark, tmp_ds_path, t(id=[2, 3], v=["B", "c"]), strategy="upsert", key_columns=["id"])
    assert r.updated == 1 and r.inserted == 1
    assert read_rows(spark, tmp_ds_path, "id", "v") == [(1, "a"), (2, "B"), (3, "c")]
    assert r.target_count_after == 3  # 3 before − 2 matched + 1 updated + 1 inserted


def test_merge_large_source_falls_back_to_shuffle_join(
    spark, tmp_ds_path, monkeypatch
):
    """Above the broadcast row gate the merge must keep working (plain
    shuffle join) — same results, no broadcast of an oversized side."""
    import pydala2_spark.operators.merge as m
    from pydala2_spark.operators.merge import merge

    merge(spark, tmp_ds_path, t(id=[1, 2], v=["a", "b"]), strategy="upsert", key_columns=["id"])
    monkeypatch.setattr(m, "BROADCAST_ROW_LIMIT", 0)
    r = merge(spark, tmp_ds_path, t(id=[2, 3], v=["B", "c"]), strategy="upsert", key_columns=["id"])
    monkeypatch.undo()
    assert r.updated == 1 and r.inserted == 1
    assert read_rows(spark, tmp_ds_path, "id", "v") == [(1, "a"), (2, "B"), (3, "c")]


# -- staging swap: chaos between the two renames ----------------------


def test_staging_swap_rollback_when_publish_rename_fails(
    spark, tmp_ds_path, monkeypatch
):
    """Failure injected BETWEEN the two renames (dataset already moved
    aside, staging not yet published): the swap must roll the original
    back in, delete the staging dir, and raise — readers never see a
    missing dataset."""
    import pydala2_spark.plans.fs as m
    from pydala2_spark.operators.maintenance import repartition_dataset
    from pydala2_spark.plans.fs import path_exists

    spark.createDataFrame(
        [(i, f"p{i % 2}") for i in range(40)], "id long, part string"
    ).write.parquet(tmp_ds_path)
    before = read_rows(spark, tmp_ds_path, "id", "part")

    real_rename = m.rename
    calls = {"n": 0}

    def chaos_rename(s, src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # the publish rename: staging -> path
            return False
        return real_rename(s, src, dst)

    monkeypatch.setattr(m, "rename", chaos_rename)
    with pytest.raises(IOError, match="could not publish"):
        repartition_dataset(spark, tmp_ds_path, partitioning_columns=["part"])
    monkeypatch.undo()

    # rollback restored the ORIGINAL dataset, staging is gone, no
    # __old_/__staging_ side dirs leak next to it
    assert read_rows(spark, tmp_ds_path, "id", "part") == before
    parent = tmp_ds_path.rstrip("/").rsplit("/", 1)[0]
    import os

    leftovers = [d for d in os.listdir(parent) if "__old_" in d or "__staging_" in d]
    assert leftovers == [], leftovers
    assert path_exists(spark, tmp_ds_path)


def test_staging_swap_aborts_cleanly_when_aside_rename_fails(
    spark, tmp_ds_path, monkeypatch
):
    """Failure on the FIRST rename (dataset couldn't be moved aside):
    the original stays untouched and the staging dir is cleaned up."""
    import pydala2_spark.plans.fs as m
    from pydala2_spark.operators.maintenance import repartition_dataset

    spark.createDataFrame(
        [(i, f"p{i % 2}") for i in range(20)], "id long, part string"
    ).write.parquet(tmp_ds_path)
    before = read_rows(spark, tmp_ds_path, "id", "part")

    monkeypatch.setattr(m, "rename", lambda s, src, dst: False)
    with pytest.raises(IOError, match="could not move"):
        repartition_dataset(spark, tmp_ds_path, partitioning_columns=["part"])
    monkeypatch.undo()

    assert read_rows(spark, tmp_ds_path, "id", "part") == before
    parent = tmp_ds_path.rstrip("/").rsplit("/", 1)[0]
    import os

    leftovers = [d for d in os.listdir(parent) if "__staging_" in d]
    assert leftovers == [], leftovers


# -- every file rewrite: one partial-failure contract -------------------


def _merge_update(spark, p):
    from pydala2_spark.operators.merge import merge

    return merge(
        spark, p, t(id=[5, 15, 25], x=[-5.0, -15.0, -25.0]), strategy="update", key_columns=["id"]
    )


def _delete_where(spark, p):
    from pydala2_spark.operators.merge import delete_where

    return delete_where(spark, p, "id % 10 = 5")


def _update_where(spark, p):
    from pydala2_spark.operators.merge import update_where

    return update_where(spark, p, "id % 10 = 5", set={"x": "-x"})


def _compact_partitions(spark, p):
    from pydala2_spark.operators.maintenance import compact_partitions

    return compact_partitions(spark, p)


def _compact_by_rows(spark, p):
    from pydala2_spark.operators.maintenance import compact_by_rows

    return compact_by_rows(spark, p)


def _compact_by_timeperiod(spark, p):
    from pydala2_spark.operators.maintenance import compact_by_timeperiod

    return compact_by_timeperiod(spark, p, "1d", "ts")


def _compact_by_timeperiod_split(spark, p):
    """The per-interval loop: 30 rows at 20 per file need two outputs."""
    from pydala2_spark.operators.maintenance import compact_by_timeperiod

    return compact_by_timeperiod(spark, p, "1d", "ts", max_rows_per_file=20)


_ROWS = [(i, float(i)) for i in range(30)]
_NEGATED = [(i, -x if i % 10 == 5 else x) for i, x in _ROWS]
_REWRITES = {
    "merge_update": (_merge_update, _NEGATED),
    "delete_where": (_delete_where, [(i, x) for i, x in _ROWS if i % 10 != 5]),
    "update_where": (_update_where, _NEGATED),
    "compact_partitions": (_compact_partitions, _ROWS),
    "compact_by_rows": (_compact_by_rows, _ROWS),
    "compact_by_timeperiod": (_compact_by_timeperiod, _ROWS),
    "compact_by_timeperiod_split": (_compact_by_timeperiod_split, _ROWS),
}


@pytest.mark.parametrize("op", list(_REWRITES))
def test_rewrite_raises_partial_merge_error_when_delete_removes_nothing(
    spark, tmp_ds_path, monkeypatch, op
):
    """``fs.delete`` returning False is silent: a rewrite that ignored
    it left each replaced file next to its replacement, duplicating its
    rows. Every rewrite (merge, row DML, each compaction path) raises
    PartialMergeError whose pending_deletes are exactly the replaced
    files; deleting them gives the exact rows."""
    import pydala2_spark.plans.fs as fs_mod

    run, want = _REWRITES[op]
    for lo in (0, 10, 20):  # three files, one day; each holds a touched row
        spark.range(lo, lo + 10).selectExpr(
            "id", "CAST(id AS double) AS x", "TIMESTAMP '2024-01-01 06:00:00' AS ts"
        ).coalesce(1).write.mode("append").parquet(tmp_ds_path)
    replaced = fs_mod.list_files(spark, tmp_ds_path)
    assert len(replaced) == 3

    real_delete = fs_mod.delete_paths
    monkeypatch.setattr(fs_mod, "delete_paths", lambda spark_, paths: 0)
    with pytest.raises(PartialMergeError) as ei:
        run(spark, tmp_ds_path)
    monkeypatch.undo()

    err = ei.value
    assert sorted(err.pending_deletes) == replaced
    if op == "merge_update":
        assert err.merge_result.updated == 3 and err.merge_result.rewritten_files
    real_delete(spark, err.pending_deletes)
    assert read_rows(spark, tmp_ds_path, "id", "x") == want
