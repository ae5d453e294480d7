"""Metadata commits are driver-side file operations: a tag, an ALTER,
a RESTORE and the manifest list run no Spark job, and a tombstone
delete runs only the jobs of its tombstone write. Job counts are
deterministic, unlike timings, so they pin the property exactly."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

import ml_pipelines_spark.operators.manifest as M

_groups = itertools.count()


def _jobs(spark, fn, *args, **kw) -> int:
    """Spark jobs ``fn(*args, **kw)`` runs, counted under a job group."""
    sc = spark.sparkContext
    group = f"mlps-metadata-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn(*args, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def table(spark, tmp_path):
    d = str(tmp_path / "table")
    rows = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("val")
    )
    M.write_manifest_table(rows, d, "k", num_files=4)
    M.append_snapshot(
        spark.range(200, 260).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("val")
        ),
        d,
        "k",
        num_files=2,
    )
    return d


def test_metadata_commits_run_no_spark_job(spark, table):
    calls = [
        ("tag_snapshot", M.tag_snapshot, (spark, table, "release")),
        ("drop_tag", M.drop_tag, (spark, table, "release")),
        ("add_column", M.add_column, (spark, table, "c", "int", "7")),
        ("rename_column", M.rename_column, (spark, table, "c", "d")),
        ("drop_column", M.drop_column, (spark, table, "d")),
        ("restore_snapshot", M.restore_snapshot, (spark, table, 1)),
        ("build_manifest_list", M.build_manifest_list, (spark, table)),
    ]
    counts = {name: _jobs(spark, fn, *args) for name, fn, args in calls}
    assert counts == {name: 0 for name, _, _ in calls}
    # the commits took effect: v=3..5 ALTERs, v=6 restores v=1
    assert M.versions(spark, table) == [1, 2, 3, 4, 5, 6]
    assert M.list_tags(spark, table) == {}
    got = M.read_snapshot_evolved(spark, table)
    assert got.columns == ["k", "val"]
    assert got.count() == 200
    assert M.pruned_shard_count(spark, table, 0, 10**6)[1] >= 1


def test_delete_runs_only_its_tombstone_write(spark, table, tmp_path):
    keys = spark.range(10, 30).select(F.col("id").alias("k"))
    # the tombstone write alone, same shape as delete_from_snapshot's
    tombstones = _jobs(
        spark,
        lambda: keys.select("k")
        .distinct()
        .withColumn("v", F.lit(3))
        .repartition(1)
        .write.mode("append")
        .partitionBy("v")
        .parquet(str(tmp_path / "tombstones")),
    )
    assert tombstones > 0
    assert _jobs(spark, M.delete_from_snapshot, spark, table, "k", keys) == (
        tombstones
    )
    assert M.snapshot_row_count(spark, table) == 240
