"""Dataset lifecycle tests: dynamic per-day overwrite, daily job runner,
dataset comparator (SURVEY.md Phase 3)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from telemetry_parquet_spark.operators.compare import (
    assert_dataframes_equal,
    compare_datasets,
)
from telemetry_parquet_spark.plans.jobs import dates_between, run_daily, yesterday
from telemetry_parquet_spark.sources.writers import (
    dataset_path,
    read_dataset,
    write_partitioned,
)


def test_dates_between():
    assert dates_between("20240128", "20240202") == [
        "20240128", "20240129", "20240130", "20240131", "20240201", "20240202",
    ]
    assert dates_between("20240101", "20240101") == ["20240101"]
    assert dates_between("20240102", "20240101") == []
    assert len(yesterday()) == 8


def test_dynamic_partition_overwrite(spark, tmp_path):
    """The 'replace exactly one day' discipline (SyncView.scala:88-98) via
    partitionOverwriteMode=dynamic: rewriting day2 leaves day1 intact."""
    path = dataset_path(str(tmp_path), "events_daily", 1)
    d1 = spark.createDataFrame(
        [(1, "20240101"), (2, "20240101"), (3, "20240102")], ["id", "submission_date_s3"]
    )
    write_partitioned(d1, path)
    d2 = spark.createDataFrame([(99, "20240102")], ["id", "submission_date_s3"])
    write_partitioned(d2, path)

    got = read_dataset(spark, path)
    rows = {(r.id, r.submission_date_s3) for r in got.collect()}
    assert rows == {(1, "20240101"), (2, "20240101"), (99, "20240102")}
    # partition layout on disk is hive-style
    assert os.path.isdir(os.path.join(path, "submission_date_s3=20240101"))


def test_dynamic_overwrite_under_static_session_conf(spark, tmp_path):
    """Dynamic overwrite is a per-write option: with the session set to
    STATIC, rewriting one day still replaces only that day, and the
    session conf is never touched (no save/restore to race with)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    path = str(tmp_path / "static_session")
    spark.conf.set(key, "STATIC")
    try:
        write_partitioned(
            spark.createDataFrame(
                [(1, "20240101"), (2, "20240102")], ["id", "submission_date_s3"]
            ),
            path,
        )
        write_partitioned(
            spark.createDataFrame([(99, "20240102")], ["id", "submission_date_s3"]),
            path,
        )
        assert spark.conf.get(key) == "STATIC"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    rows = {(r.id, r.submission_date_s3) for r in read_dataset(spark, path).collect()}
    assert rows == {(1, "20240101"), (99, "20240102")}


def test_run_daily(spark, tmp_path):
    path = str(tmp_path / "daily")

    def compute(s, day):
        return s.createDataFrame([(day, 1), (day, 2)], ["tag", "n"]).select(
            F.col("tag"), F.col("n")
        )

    results = run_daily(
        spark, compute, path, from_day="20240101", to_day="20240103"
    )
    assert [r.day for r in results] == ["20240101", "20240102", "20240103"]
    assert all(r.rows == 2 for r in results)
    got = read_dataset(spark, path)
    assert got.count() == 6
    # idempotent re-run of one day
    run_daily(spark, compute, path, from_day="20240102", to_day="20240102")
    assert read_dataset(spark, path).count() == 6


def test_schema_merge_read(spark, tmp_path):
    """S3: schema evolution across partitions reconciled with mergeSchema
    (DatasetComparator.scala:92)."""
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "20240101")], ["id", "submission_date_s3"])
    write_partitioned(v1, path)
    v2 = spark.createDataFrame(
        [(2, "new-col", "20240102")], ["id", "extra", "submission_date_s3"]
    )
    write_partitioned(v2, path)
    merged = read_dataset(spark, path, merge_schema=True)
    assert set(merged.columns) == {"id", "extra", "submission_date_s3"}
    rows = {r.id: r.extra for r in merged.collect()}
    assert rows == {1: None, 2: "new-col"}


def test_compaction(spark, tmp_path):
    import glob
    import os

    from telemetry_parquet_spark.sources.writers import compact_dataset

    path = str(tmp_path / "fragmented")
    # simulate micro-batch fragmentation: 12 files in one day partition
    df = spark.createDataFrame(
        [(i, "20240101") for i in range(120)], ["id", "submission_date_s3"]
    )
    write_partitioned(df, path, files_per_partition=None, mode="overwrite")
    frag = df.repartition(12)
    frag.write.mode("overwrite").partitionBy("submission_date_s3").parquet(path)
    before = len(glob.glob(os.path.join(path, "submission_date_s3=20240101", "*.parquet")))
    assert before >= 10

    compact_dataset(spark, path, target_file_bytes=1 << 30)
    after = len(glob.glob(os.path.join(path, "submission_date_s3=20240101", "*.parquet")))
    assert after == 1
    got = read_dataset(spark, path)
    assert got.count() == 120 and got.select("id").distinct().count() == 120


def test_comparator(spark):
    left = spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, "c", "y")], ["id", "s", "nullable"]
    )
    same = left.select("id", "s", "nullable")
    assert compare_datasets(left, same).equivalent
    assert_dataframes_equal(left, same)

    # row drift
    fewer = left.where(F.col("id") != 2)
    res = compare_datasets(left, fewer)
    assert not res.equivalent
    assert res.left_minus_right == 1 and res.right_minus_left == 0

    # null-count drift
    drift = left.withColumn(
        "nullable", F.when(F.col("id") == 1, F.lit("filled")).otherwise(F.col("nullable"))
    )
    res = compare_datasets(left, drift)
    assert res.null_count_diffs == {"nullable": (1, 0)}

    # column add/drop
    extra = left.withColumn("extra", F.lit(1))
    res = compare_datasets(left, extra)
    assert res.columns_only_in_right == ["extra"]


def test_compaction_crash_leaves_old_partition_intact(spark, tmp_path, monkeypatch):
    """Failure injection: kill the job between the temp-dir write and the
    directory swap — the live partition must still read back complete and
    byte-identical, and a retry must succeed and clean up the leftovers."""
    import glob
    import os

    from telemetry_parquet_spark.sources import writers
    from telemetry_parquet_spark.sources.writers import compact_dataset

    path = str(tmp_path / "fragmented")
    df = spark.createDataFrame(
        [(i, "20240101") for i in range(120)], ["id", "submission_date_s3"]
    )
    df.repartition(12).write.mode("overwrite").partitionBy(
        "submission_date_s3"
    ).parquet(path)
    live = os.path.join(path, "submission_date_s3=20240101")
    before_files = sorted(os.listdir(live))

    def boom(tmp, live_dir, old):
        raise RuntimeError("injected crash before swap")

    monkeypatch.setattr(writers, "_swap_partition_dirs", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_dataset(spark, path, target_file_bytes=1 << 30)

    # old partition untouched, still fully readable, temp dir hidden from scans
    assert sorted(os.listdir(live)) == before_files
    got = read_dataset(spark, path)
    assert got.count() == 120 and got.select("id").distinct().count() == 120

    # retry without the fault: compacts to one file and clears temp dirs
    monkeypatch.undo()
    sizes = compact_dataset(spark, path, target_file_bytes=1 << 30)
    assert sizes == {"20240101": 1}
    assert len(glob.glob(os.path.join(live, "*.parquet"))) == 1
    assert not glob.glob(os.path.join(path, ".compact-*"))
    got = read_dataset(spark, path)
    assert got.count() == 120 and got.select("id").distinct().count() == 120
