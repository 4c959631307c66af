"""Merge contract tests — behavior parity with the reference's
tests/test_dataset_merge.py (insert/update/upsert counts, null-safe
keys, last-row-wins, inferred keys, list-as-batch, partition rules)."""

from __future__ import annotations

import pyarrow as pa
import pytest

from pydala2_spark import Dataset, MergeResult


def t(**cols):
    return pa.table(cols)


def rows(ds, *cols):
    ds.clear_cache()
    return sorted([tuple(r[c] for c in cols) for r in ds.df.collect()])


def test_merge_into_missing_target_inserts_all(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    r = ds.merge(t(id=[1, 2, 3], v=["a", "b", "c"]), strategy="insert", key_columns=["id"])
    assert isinstance(r, MergeResult)
    assert r.inserted == 3
    assert r.target_count_after == 3


def test_merge_typed_result_counts(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    r = ds.merge(t(id=[1, 2], v=["a", "b"]), strategy="upsert", key_columns=["id"])
    assert r.strategy == "upsert"
    assert r.target_count_before == 0
    assert r.target_count_after == 2
    assert r.inserted == 2
    assert r.updated == 0


def test_merge_insert_noop_when_keys_exist(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(id=[1, 2], v=["a", "b"]), strategy="upsert", key_columns=["id"])
    r = ds.merge(t(id=[1, 2], v=["X", "X"]), strategy="insert", key_columns=["id"])
    assert r.inserted == 0 and r.updated == 0
    assert rows(ds, "id", "v") == [(1, "a"), (2, "b")]


def test_merge_update_noop_when_no_match(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(id=[1, 2], v=["a", "b"]), strategy="upsert", key_columns=["id"])
    r = ds.merge(t(id=[3, 4], v=["c", "d"]), strategy="update", key_columns=["id"])
    assert r.inserted == 0 and r.updated == 0
    assert rows(ds, "id", "v") == [(1, "a"), (2, "b")]


def test_merge_upsert_updates_and_inserts(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(id=[1, 2], v=["a", "b"]), strategy="upsert", key_columns=["id"])
    r = ds.merge(t(id=[2, 3], v=["B", "c"]), strategy="upsert", key_columns=["id"])
    assert r.updated == 1 and r.inserted == 1
    assert rows(ds, "id", "v") == [(1, "a"), (2, "B"), (3, "c")]


def test_merge_update_rewrites_matched_files_only(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(id=[1], v=["a"]), strategy="upsert", key_columns=["id"])
    ds.merge(t(id=[2], v=["b"]), strategy="upsert", key_columns=["id"])
    r = ds.merge(t(id=[1], v=["A"]), strategy="update", key_columns=["id"])
    assert r.updated == 1 and r.inserted == 0
    assert len(r.rewritten_files) >= 1
    assert r.preserved_files
    assert rows(ds, "id", "v") == [(1, "A"), (2, "b")]


def test_merge_null_safe_composite_keys(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(id=[121221], value=["abc"]), strategy="insert", key_columns=["id", "value"])
    r1 = ds.merge(t(id=[121221], value=[None]), strategy="insert", key_columns=["id", "value"])
    r2 = ds.merge(t(id=[121221], value=[None]), strategy="insert", key_columns=["id", "value"])
    assert r1.inserted == 1
    assert r2.inserted == 0


def test_merge_duplicate_source_keys_last_wins(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(id=[1], v=["orig"]), strategy="upsert", key_columns=["id"])
    r = ds.merge(
        t(id=[2, 2, 2], v=["first", "second", "third"]), strategy="upsert", key_columns=["id"]
    )
    assert r.inserted == 1
    assert rows(ds, "id", "v") == [(1, "orig"), (2, "third")]


def test_merge_list_is_one_batch_last_wins(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    r = ds.merge(
        [t(id=[1], v=["first"]), t(id=[1], v=["second"])], strategy="upsert", key_columns=["id"]
    )
    assert r.inserted == 1
    assert rows(ds, "id", "v") == [(1, "second")]


def test_merge_composite_keys(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(a=[1, 1], b=["x", "y"], v=["ax", "by"]), strategy="upsert", key_columns=["a", "b"])
    r = ds.merge(t(a=[1, 2], b=["x", "z"], v=["AX", "cz"]), strategy="upsert", key_columns=["a", "b"])
    assert r.updated == 1 and r.inserted == 1
    assert rows(ds, "a", "b", "v") == [(1, "x", "AX"), (1, "y", "by"), (2, "z", "cz")]


def test_merge_key_inference_whole_row(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(id=[1], value=["first"]), strategy="upsert")
    r = ds.merge(t(id=[1], value=["changed"]), strategy="upsert")
    assert r.inserted == 1
    assert rows(ds, "id", "value") == [(1, "changed"), (1, "first")]


def test_merge_schema_cast_to_target(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(id=[1], v=["a"]), strategy="upsert", key_columns=["id"])
    r = ds.merge(
        pa.table({"id": pa.array([2], pa.int64()), "v": pa.array([42], pa.int32())}),
        strategy="insert",
        key_columns=["id"],
    )
    assert r.inserted == 1
    assert rows(ds, "id", "v") == [(1, "a"), (2, "42")]


def test_merge_partitioned_upsert(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(
        t(id=[1, 2], region=["eu", "us"], v=["one", "two"]),
        strategy="upsert",
        key_columns=["id"],
        partition_by=["region"],
    )
    r = ds.merge(
        t(id=[1, 3], region=["eu", "eu"], v=["ONE", "three"]),
        strategy="upsert",
        key_columns=["id"],
        partition_by=["region"],
    )
    assert r.updated == 1 and r.inserted == 1
    assert rows(ds, "id", "region", "v") == [
        (1, "eu", "ONE"),
        (2, "us", "two"),
        (3, "eu", "three"),
    ]


def test_merge_rejects_partition_move(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(
        t(id=[1], region=["eu"], v=["one"]),
        strategy="upsert",
        key_columns=["id"],
        partition_by=["region"],
    )
    with pytest.raises(ValueError):
        ds.merge(
            t(id=[1], region=["us"], v=["moved"]),
            strategy="update",
            key_columns=["id"],
            partition_by=["region"],
        )
    assert rows(ds, "id", "region", "v") == [(1, "eu", "one")]


def test_merge_partition_aware_followup(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(
        t(id=[1], region=["eu"], v=["one"]),
        strategy="upsert",
        key_columns=["id"],
        partition_by=["region"],
    )
    r = ds.merge(t(id=[2], region=["us"], v=["two"]), strategy="insert", key_columns=["id"])
    assert r.inserted == 1
    import glob

    assert glob.glob(f"{tmp_ds_path}/region=us/*.parquet")


def test_merge_rejects_bad_args(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    with pytest.raises(ValueError):
        ds.merge(t(id=[1]), strategy="delete", key_columns=["id"])
    with pytest.raises(ValueError):
        ds.merge(t(id=[1]), strategy="upsert", key_columns=[])
    with pytest.raises(TypeError):
        ds.merge("not a frame", strategy="upsert", key_columns=["id"])


def test_merge_empty_source_noop(spark, tmp_ds_path):
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(id=[1], v=["a"]), strategy="upsert", key_columns=["id"])
    r = ds.merge(t(id=pa.array([], pa.int64()), v=pa.array([], pa.string())),
                 strategy="upsert", key_columns=["id"])
    assert r.inserted == 0 and r.updated == 0
    assert r.source_count == 0
    assert rows(ds, "id", "v") == [(1, "a")]


def test_merge_rejects_a_source_sharing_no_column(spark, tmp_ds_path):
    """Inferred keys need a shared column: with none the merge raises
    before any write (an empty key set matched every target row)."""
    ds = Dataset(tmp_ds_path, spark)
    ds.merge(t(id=[1, 2], v=["a", "b"]), strategy="upsert", key_columns=["id"])
    with pytest.raises(ValueError, match="share no column"):
        ds.merge(t(other=[9]), strategy="upsert")
    assert rows(ds, "id", "v") == [(1, "a"), (2, "b")]


def test_merge_source_families(spark, tmp_ds_path):
    import duckdb
    import pandas as pd

    families = [
        pa.table({"id": [1], "v": ["a"]}),
        pa.RecordBatch.from_arrays([pa.array([1]), pa.array(["a"])], names=["id", "v"]),
        pd.DataFrame({"id": [1], "v": ["a"]}),
        duckdb.sql("SELECT 1 AS id, 'a' AS v"),
    ]
    for i, src in enumerate(families):
        ds = Dataset(f"{tmp_ds_path}_{i}", spark)
        r = ds.merge(src, strategy="upsert", key_columns=["id"])
        assert r.target_count_after == 1, type(src)


# -- delete_where: row-level predicate delete (round 6) -----------------


def test_delete_where_file_selective(spark, tmp_path):
    """Only files containing matching rows rewrite; untouched files
    keep their names; counts and survivors are exact."""
    from pydala2_spark.operators.merge import delete_where
    from pydala2_spark.plans.fs import list_files

    p = str(tmp_path / "ds")
    # three files with disjoint id ranges
    for lo in (0, 100, 200):
        spark.range(lo, lo + 50).selectExpr(
            "id", "id % 7 AS grp"
        ).repartition(1).write.mode("append").parquet(p)
    before = set(list_files(spark, p))
    assert len(before) == 3

    out = delete_where(spark, p, "id >= 100 AND id < 110")
    assert out["deleted_rows"] == 10
    assert len(out["matched_files"]) == 1  # min/max isolates one file
    after = spark.read.parquet(p)
    assert after.count() == 140
    assert after.filter("id >= 100 AND id < 110").count() == 0
    # the two untouched files survive by NAME
    preserved = set(out["preserved_files"])
    assert preserved <= before and len(preserved) == 2
    assert preserved <= set(list_files(spark, p))


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE three-valued logic: rows where the predicate is
    NULL are NOT deleted."""
    from pydala2_spark.operators.merge import delete_where

    p = str(tmp_path / "ds")
    spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 50.0)], "id long, v double"
    ).repartition(1).write.parquet(p)
    out = delete_where(spark, p, "v > 10")
    assert out["deleted_rows"] == 1
    left = {r["id"] for r in spark.read.parquet(p).collect()}
    assert left == {1, 2}  # the NULL row survives


def test_delete_where_noop_and_missing_target(spark, tmp_path):
    from pydala2_spark.operators.merge import delete_where

    p = str(tmp_path / "ds")
    assert delete_where(spark, p, "id > 5")["deleted_rows"] == 0  # absent
    spark.range(10).repartition(1).write.parquet(p)
    out = delete_where(spark, p, "id > 99")  # no matches
    assert out["deleted_rows"] == 0 and out["rewritten_files"] == []
    assert spark.read.parquet(p).count() == 10


def test_delete_where_partitioned_dataset(spark, tmp_path):
    """Rewrites land back in the right hive partitions; whole-partition
    deletes leave the other partitions untouched."""
    from pydala2_spark.sources.dataset import Dataset

    p = str(tmp_path / "ds")
    spark.range(100).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS part"
    ).write.partitionBy("part").parquet(p)
    ds = Dataset(p, spark=spark, partitioning=["part"])
    out = ds.delete_where("part = 'a' AND id < 50")
    assert out["deleted_rows"] == 25
    left = ds.df
    assert left.count() == 75
    assert left.filter("part = 'a'").count() == 25
    assert left.filter("part = 'b'").count() == 50
    # partition column still rehydrates from directories
    assert set(r["part"] for r in left.select("part").distinct().collect()) == {"a", "b"}


def test_delete_where_predicate_pushdown(spark, tmp_path):
    """The matched-file discovery scan pushes the predicate to parquet
    (min/max row-group pruning does the skipping at scale) — asserted
    on the REAL discovery frame delete_where scans (_delete_discovery),
    not a re-implementation."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.merge import _FILE, _delete_discovery

    p = str(tmp_path / "ds")
    spark.range(1000).repartition(1).write.parquet(p)
    tagged = spark.read.parquet(p).withColumn(_FILE, F.col("_metadata.file_path"))
    plan = (
        _delete_discovery(tagged, F.expr("id > 900"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "id" in plan.split("PushedFilters:")[1][:120]


def test_file_filter_broadcast_join_above_literal_limit(spark, tmp_path, monkeypatch):
    """Above _FILE_LITERAL_LIMIT the matched-file restriction switches
    from a driver-built IN literal to a broadcast semi-join: identical
    delete/merge semantics, and the physical plan carries a broadcast
    join instead of a file-list literal (a 10^5-file predicate at
    100 TB would otherwise be a multi-megabyte plan string)."""
    from pydala2_spark.operators import merge as m
    from pydala2_spark.operators.merge import delete_where, merge

    monkeypatch.setattr(m, "_FILE_LITERAL_LIMIT", 0)  # force the join path

    # the helper itself: no IN literal, broadcast join in the plan
    import pyspark.sql.functions as F

    p0 = str(tmp_path / "probe")
    spark.range(0, 100).repartition(1).write.parquet(p0)
    tagged = spark.read.parquet(p0).withColumn(
        m._FILE, F.col("_metadata.file_path")
    )
    files = [r[m._FILE] for r in tagged.select(m._FILE).distinct().collect()]
    plan = m._filter_to_files(tagged, files)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert files[0] not in plan  # file names are broadcast data, not plan text
    assert m._filter_to_files(tagged, files).count() == 100

    # delete_where end-to-end through the join path
    p = str(tmp_path / "ds")
    for lo in (0, 100, 200):
        spark.range(lo, lo + 50).selectExpr("id", "id % 7 AS grp").coalesce(
            1
        ).write.mode("append").parquet(p)
    out = delete_where(spark, p, "id >= 100 AND id < 110")
    assert out["deleted_rows"] == 10
    after = spark.read.parquet(p)
    assert after.count() == 140
    assert after.filter("id >= 100 AND id < 110").count() == 0

    # merge upsert end-to-end through the join path
    p2 = str(tmp_path / "ds2")
    spark.range(0, 20).selectExpr("id", "id * 2 AS v").repartition(1).write.parquet(p2)
    src = spark.range(15, 25).selectExpr("id", "id * 100 AS v")
    res = m.merge(spark, p2, src, key_columns=["id"], strategy="upsert")
    assert res.updated == 5 and res.inserted == 5
    got = {r["id"]: r["v"] for r in spark.read.parquet(p2).collect()}
    assert got[15] == 1500 and got[24] == 2400 and got[0] == 0 and len(got) == 25


def test_update_where_semantics_and_file_selectivity(spark, tmp_path):
    """SET applies only to TRUE-predicate rows (NULL preserves); all
    assignments see the PRE-update row (swap stays correct); files
    without matches keep their names; SET validation raises."""
    import pytest
    from pyspark.sql import functions as F

    from pydala2_spark.operators.merge import update_where

    path = str(tmp_path / "upd")
    rows = [
        (1, 10.0, 100.0, "a"),
        (2, 20.0, 200.0, "a"),
        (3, None, 300.0, "b"),   # NULL predicate -> preserved
        (4, 40.0, 400.0, "b"),
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double, g string")
    # one file per g-partition so selectivity is observable
    df.repartition("g").write.partitionBy("g").parquet(path)

    before = set(spark.read.parquet(path).select(
        F.col("_metadata.file_path")).distinct().toPandas()["file_path"])

    out = update_where(
        spark, path, "x >= 20 AND g = 'a'",
        set={"x": "y", "y": "x"},  # swap: both read pre-update values
    )
    assert out["updated_rows"] == 1
    got = {r["id"]: (r["x"], r["y"]) for r in spark.read.parquet(path).collect()}
    assert got[2] == (200.0, 20.0)      # swapped
    assert got[1] == (10.0, 100.0)      # untouched (pred false)
    assert got[3] == (None, 300.0)      # NULL predicate preserved
    assert got[4] == (40.0, 400.0)

    after = set(spark.read.parquet(path).select(
        F.col("_metadata.file_path")).distinct().toPandas()["file_path"])
    preserved_b = {f for f in before if "g=b" in f}
    assert preserved_b <= after  # b-partition files untouched
    assert set(out["preserved_files"]) == {f for f in before if "g=b" in f}

    with pytest.raises(ValueError, match="SET columns"):
        update_where(spark, path, "x > 0", set={"nope": "1"})
    with pytest.raises(ValueError, match="SET assignment"):
        update_where(spark, path, "x > 0", set={})

    # idempotence of a no-match predicate
    out2 = update_where(spark, path, "x > 1e9", set={"x": "0.0"})
    assert out2["updated_rows"] == 0 and out2["rewritten_files"] == []


def test_merge_and_row_dml_under_escaped_partition_dirs(spark, tmp_path):
    """A hive dir written for a timestamp value holds a space and an
    escaped ':' (``ts=2024-01-01 00%3A00%3A00``), which
    ``_metadata.file_path`` reports URI-encoded (``%20`` / ``%253A``).
    merge, delete_where and update_where must delete each replaced
    file by its listing name: exact rows after each step, the replaced
    files gone, and matched/preserved/rewritten lists in one spelling."""
    from pydala2_spark.operators.merge import delete_where, merge, update_where
    from pydala2_spark.plans.fs import list_files

    p = str(tmp_path / "esc")
    stamps = ["2024-01-01 00:00:00", "2024-01-02 12:30:00"]
    spark.createDataFrame(
        [(i, float(i), stamps[i % 2]) for i in range(10)], "id long, x double, ts string"
    ).repartition("ts").write.partitionBy("ts").parquet(p)

    def table():
        return sorted((r["id"], r["x"]) for r in spark.read.parquet(p).collect())

    def check_spelling(before, out):
        matched, preserved = set(out["matched_files"]), set(out["preserved_files"])
        after = list_files(spark, p)
        assert all(" " in f and "%3A" in f for f in before + after)
        assert matched and matched <= set(before)
        assert not matched & set(after)  # replaced files gone
        assert preserved == set(before) - matched
        assert preserved | set(out["rewritten_files"]) == set(after)

    before = list_files(spark, p)
    assert len(before) == 2
    src = spark.createDataFrame(
        [(3, -3.0, stamps[1]), (10, 10.0, stamps[0])], "id long, x double, ts string"
    )
    r = merge(spark, p, src, strategy="upsert", key_columns=["id"], partition_by=["ts"])
    assert (r.updated, r.inserted, r.target_count_after) == (1, 1, 11)
    assert table() == [(i, -3.0 if i == 3 else float(i)) for i in range(11)]
    check_spelling(
        before,
        {
            "matched_files": [f for f in before if f not in r.preserved_files],
            "preserved_files": r.preserved_files,
            "rewritten_files": r.files,
        },
    )

    before = list_files(spark, p)
    out = delete_where(spark, p, "id >= 8")
    assert out["deleted_rows"] == 3
    assert table() == [(i, -3.0 if i == 3 else float(i)) for i in range(8)]
    check_spelling(before, out)

    before = list_files(spark, p)
    out = update_where(spark, p, "id = 1", set={"x": "-1.0"})
    assert out["updated_rows"] == 1
    assert table() == [(i, -float(i) if i in (1, 3) else float(i)) for i in range(8)]
    check_spelling(before, out)


def test_upsert_job_ceiling(spark, tmp_ds_path):
    """An upsert finds the matched files and counts the matched target
    rows in ONE grouped collect (it ran the broadcast semi-join of the
    target twice: a distinct-file collect, then a count). Duplicate
    target keys make the row count differ from the updated count."""
    from conftest import spark_jobs

    from pydala2_spark.operators.merge import merge
    from pydala2_spark.sources.writer import Writer

    w = Writer(spark, tmp_ds_path)
    for lo in (0, 100, 200):
        ids = list(range(lo, lo + 100))
        w.write(t(id=ids, v=[f"v{i}" for i in ids]), mode="append")
    w.write(t(id=[150], v=["dup"]), mode="append")  # second row for key 150
    src = t(id=[5, 150, 151, 400], v=["A", "B", "C", "D"])
    r, jobs = spark_jobs(
        spark,
        lambda: merge(spark, tmp_ds_path, src, strategy="upsert", key_columns=["id"]),
    )
    assert (r.updated, r.inserted) == (3, 1)
    assert len(r.rewritten_files) >= 2 and r.preserved_files
    # 301 before − 4 matched rows + 3 updated + 1 inserted
    assert r.target_count_before == 301 and r.target_count_after == 301
    assert spark.read.parquet(tmp_ds_path).count() == 301
    assert jobs <= 20, jobs  # 23 with the two semi-join jobs


# Jobs of one upsert on the year-partitioned layout below, measured on a
# 4-core machine: 12 once the target is scanned once (parent: 25, a
# source count, a target count, a grouped file collect, a matched-keys
# checkpoint, a partition-guard join and a split aggregate, each with
# its own broadcast and AQE stage jobs).
PARTITIONED_UPSERT_JOBS = 12
MERGE_LABELS = {f"merge: {phase}" for phase in ("source", "discovery", "split", "insert", "rewrite")}


def test_partitioned_upsert_scans_the_target_once(spark, tmp_ds_path):
    """One source job, one discovery job over the target (the target
    count, the matched files and the partition guard come from its
    metrics), one split count over the matched-rows checkpoint, then the
    two writes. Every job carries a ``merge: <phase>`` label."""
    from conftest import spark_job_labels

    from pydala2_spark.operators.merge import merge
    from pydala2_spark.plans.fs import list_files
    from pydala2_spark.sources.writer import Writer

    w = Writer(spark, tmp_ds_path)
    for lo in (0, 100, 200):
        ids = list(range(lo, lo + 100))
        w.write(
            t(id=ids, v=[f"v{i}" for i in ids], year=[2020 + i % 3 for i in ids]),
            mode="append",
            partition_by=["year"],
        )
    src = t(id=[5, 150, 151, 400], v=["A", "B", "C", "D"], year=[2022, 2020, 2021, 2020])
    files = list_files(spark, tmp_ds_path)
    r, labels = spark_job_labels(
        spark, lambda: merge(spark, tmp_ds_path, src, strategy="upsert", key_columns=["id"])
    )
    assert (r.source_count, r.updated, r.inserted) == (4, 3, 1)
    assert (r.target_count_before, r.target_count_after) == (300, 301)
    assert len(files) - len(r.preserved_files) == 3  # one matched file per year
    assert r.rewritten_files and not set(r.rewritten_files) & set(files)
    assert [f.split("/")[-2] for f in r.inserted_files] == ["year=2020"]
    got = sorted(map(tuple, spark.read.parquet(tmp_ds_path).select("id", "v", "year").collect()))
    want = {i: (f"v{i}", 2020 + i % 3) for i in range(300)}
    want.update({5: ("A", 2022), 150: ("B", 2020), 151: ("C", 2021), 400: ("D", 2020)})
    assert got == sorted((i, v, y) for i, (v, y) in want.items())
    assert len(labels) <= PARTITIONED_UPSERT_JOBS, labels
    assert set(labels) == MERGE_LABELS, labels


@pytest.mark.parametrize("spelling", ["plain", "uri"])
def test_rewrites_under_kv_parent_dir(spark, tmp_path, spelling):
    """A dataset stored under a ``k=v`` directory (``.../run=3/ds``) is
    unpartitioned: ``run`` is a directory ABOVE its root, not a
    partition column. Upsert, delete_where, update_where and
    compact_partitions give exact rows, with the path spelled plain and
    as a ``file://`` URI."""
    from pydala2_spark.operators.maintenance import compact_partitions
    from pydala2_spark.operators.merge import delete_where, merge, update_where
    from pydala2_spark.plans.fs import list_files, partition_columns

    base = str(tmp_path / "run=3" / "ds")
    p = base if spelling == "plain" else f"file://{base}"
    for lo in (0, 10):
        spark.range(lo, lo + 10).selectExpr("id", "CAST(id AS double) AS x").coalesce(
            1
        ).write.mode("append").parquet(base)

    def table():
        return sorted((r["id"], r["x"]) for r in spark.read.parquet(p).collect())

    want = {i: float(i) for i in range(20)}
    assert partition_columns(spark, p) == []

    r = merge(spark, p, t(id=[3, 20], x=[-3.0, 20.0]), strategy="upsert", key_columns=["id"])
    assert (r.updated, r.inserted) == (1, 1)
    want.update({3: -3.0, 20: 20.0})
    assert table() == sorted(want.items())

    out = delete_where(spark, p, "id >= 18")
    assert out["deleted_rows"] == 3
    want = {i: x for i, x in want.items() if i < 18}
    assert table() == sorted(want.items())

    out = update_where(spark, p, "id = 1", set={"x": "-1.0"})
    assert out["updated_rows"] == 1
    want[1] = -1.0
    assert table() == sorted(want.items())

    compact_partitions(spark, p)
    assert len(list_files(spark, p)) == 1
    assert table() == sorted(want.items())


def test_row_dml_job_ceilings(spark, tmp_path):
    """delete_where and update_where each run at most 4 Spark jobs on
    three appended 100-row files: one grouped discovery collect plus
    the rewrite's write."""
    from conftest import spark_jobs

    from pydala2_spark.operators.merge import delete_where, update_where

    for name, run in (
        ("delete", lambda p: delete_where(spark, p, "id % 7 = 0")),
        ("update", lambda p: update_where(spark, p, "id % 7 = 0", set={"v": "'x'"})),
    ):
        p = str(tmp_path / name)
        for lo in (0, 100, 200):
            spark.range(lo, lo + 100).selectExpr("id", "concat('v', id) AS v").coalesce(
                1
            ).write.mode("append").parquet(p)
        out, jobs = spark_jobs(spark, lambda: run(p))
        assert len(out["matched_files"]) == 3
        assert jobs <= 4, (name, jobs)
