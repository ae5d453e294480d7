"""Metadata commits are driver-side file operations: a tag, an ALTER,
a RESTORE and the manifest list run no Spark job, and a tombstone
delete runs only the jobs of its tombstone write. The secondary-stats
and partition-spec sidecars follow the same rule: their file counters
run no job, and their writers run only their data work. Job counts are
deterministic, unlike timings, so they pin the property exactly."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

import ml_pipelines_spark.operators.filestats as FS
import ml_pipelines_spark.operators.manifest as M
import ml_pipelines_spark.operators.partspec as PS
import ml_pipelines_spark.operators.posdeletes as P

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


def test_live_reads_and_rewrites_pin_their_jobs(spark, table):
    # a table with tombstones and DV runs and no schema event — the
    # corpus table's shape: its reads and rewrites run no more jobs
    # than before they shared one reader (the counts measured then)
    M.delete_from_snapshot(
        spark, table, "k", spark.range(10, 30).select(F.col("id").alias("k"))
    )
    P.delete_where(spark, table, "k >= 250")
    updates = spark.range(40, 60).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("val")
    )
    counts = {
        "read_snapshot": _jobs(
            spark, lambda: M.read_snapshot(spark, table).count()
        ),
        "read_pruned": _jobs(
            spark, lambda: M.read_pruned(spark, table, "k", 0, 99).count()
        ),
        "merge_snapshot": _jobs(
            spark, M.merge_snapshot, spark, table, "k", updates
        ),
        "compact_small_files": _jobs(
            spark, M.compact_small_files, spark, table, "k", target_rows=200
        ),
    }
    before = {
        "read_snapshot": 5,
        "read_pruned": 5,
        "merge_snapshot": 12,
        "compact_small_files": 11,
    }
    assert all(counts[name] <= n for name, n in before.items()), counts
    got = {r.k: r.val for r in M.read_snapshot(spark, table).collect()}
    assert got == {
        k: -1 if 40 <= k < 60 else 2 * k
        for k in range(250)
        if not 10 <= k < 30
    }


def _stats_aggregate(spark, path, cols):
    """write_file_stats's per-file aggregate over the snapshot, alone."""
    files = [r["file"] for r in M._manifest_rows(spark, path, None)[0]]
    spark.read.parquet(*files).select(
        F.input_file_name().alias("file"),
        *[F.col(c).cast("double").alias(c) for c in cols],
    ).groupBy("file").agg(
        *[F.min(c) for c in cols], *[F.max(c) for c in cols]
    ).collect()


def test_file_stats_write_runs_only_its_aggregate(spark, table):
    for cols in (["val"], ["val", "k"]):
        alone = _jobs(spark, _stats_aggregate, spark, table, cols)
        assert alone > 0
        assert _jobs(spark, FS.write_file_stats, spark, table, cols) == alone
    assert FS.write_file_stats(spark, table, ["val", "k"]) == 0


def _spec_frame(spark):
    return spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("s")
    )


def test_spec_write_runs_only_its_write_and_aggregate(spark, tmp_path):
    df = _spec_frame(spark)

    def alone(d):
        # the data write and per-file aggregate, same shape as
        # write_spec_snapshot's
        df.withColumn("_p_s", F.col("s")).withColumn(
            "_v_s", F.col("s")
        ).repartition("_p_s").write.partitionBy("_p_s").parquet(d)
        spark.read.parquet(d).select(
            F.input_file_name().alias("file"), "_v_s", "k"
        ).groupBy("file").agg(
            F.count(F.lit(1)), F.first("_v_s"), F.min("k"), F.max("k")
        ).collect()

    n = _jobs(spark, alone, str(tmp_path / "alone"))
    assert n > 0
    spec = str(tmp_path / "spec")
    # v=1, then v=2 carrying v=1's rows on the driver
    assert _jobs(spark, PS.write_spec_snapshot, df, spec, ["s"], "k") == n
    assert _jobs(spark, PS.write_spec_snapshot, df, spec, ["s"]) == n
    assert PS.spec_versions(spark, spec) == [1, 2]


def test_spec_compaction_jobs_do_not_grow_with_tuples(spark, tmp_path):
    # one read and one write whatever the tuple count (one read and one
    # write per tuple before: 6 jobs for 1 tuple, 12 for 3)
    counts = {}
    for n in (1, 3):
        spec = str(tmp_path / f"spec{n}")
        df = spark.range(0, 300).select(
            F.col("id").alias("k"), (F.col("id") % n).cast("string").alias("s")
        )
        PS.write_spec_snapshot(df, spec, ["s"])
        PS.write_spec_snapshot(df, spec, ["s"])
        counts[n] = _jobs(spark, PS.compact_spec_snapshot, spark, spec)
        got = PS.read_spec_pruned(spark, spec, {})
        keys = sorted(r.k for r in got.collect())
        assert keys == sorted(2 * list(range(300)))
        assert PS.spec_pruned_file_count(spark, spec, {}) == (n, n)
    assert counts[3] == counts[1] <= 6, counts


def test_file_counters_run_no_spark_job(spark, table, tmp_path):
    spec = str(tmp_path / "spec")
    PS.write_spec_snapshot(_spec_frame(spark), spec, ["s"])
    PS.write_spec_snapshot(_spec_frame(spark), spec, ["s"], "k")
    band = (spark, table, "val", 0, 99)
    calls = [
        ("spec_versions", PS.spec_versions, (spark, spec)),
        (
            "spec_pruned_file_count",
            PS.spec_pruned_file_count,
            (spark, spec, {"s": "1"}, None, ("k", 400, 500)),
        ),
        (
            "pruned_stats_file_count (unindexed)",
            FS.pruned_stats_file_count,
            band,
        ),
        (
            "point_lookup_file_count (unindexed)",
            FS.point_lookup_file_count,
            (spark, table, "val", 42),
        ),
    ]
    counts = {name: _jobs(spark, fn, *args) for name, fn, args in calls}
    FS.write_file_stats(spark, table, ["val"])
    counts["pruned_stats_file_count"] = _jobs(
        spark, FS.pruned_stats_file_count, *band
    )
    assert counts == dict.fromkeys(counts, 0)
    # v=1's s=1 file has no stats and is kept; v=2's is outside the band
    assert PS.spec_pruned_file_count(
        spark, spec, {"s": "1"}, band=("k", 400, 500)
    ) == (1, 6)
    kept, total = FS.pruned_stats_file_count(*band)
    assert kept < total == 6


def test_expire_filestats_gc_runs_no_job(spark, tmp_path):
    def expire_jobs(name, stats):
        d = str(tmp_path / name)
        rows = spark.range(0, 200).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("val")
        )
        M.write_manifest_table(rows, d, "k", num_files=4)
        if stats:
            FS.write_file_stats(spark, d, ["val"])
        M.compact_snapshot(spark, d, "k", target_rows=100)
        return d, _jobs(spark, M.expire_snapshots, spark, d, keep_last=1)

    _, base = expire_jobs("plain", False)
    indexed, with_stats = expire_jobs("indexed", True)
    assert with_stats <= base
    # every stats row named a compacted-away file: none survive
    assert spark.read.parquet(f"{indexed}/_filestats").count() == 0
    assert M.snapshot_row_count(spark, indexed) == 200


def test_commit_jobs_pin_their_counts(spark, tmp_path):
    # every commit runs its data work and nothing more; the counts were
    # measured before the commits shared one seam, which adds no job
    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("val")
        )

    d = str(tmp_path / "table")
    zd = str(tmp_path / "zordered")
    counts = {
        "write_manifest_table": _jobs(
            spark, M.write_manifest_table, rows(0, 200), d, "k", num_files=4
        ),
        "append_snapshot": _jobs(
            spark, M.append_snapshot, rows(200, 260), d, "k", num_files=2
        ),
        "stage_snapshot": _jobs(
            spark, M.stage_snapshot, rows(260, 280), d, "k", num_files=1
        ),
    }
    M.abort_staged(spark, d, 3)
    counts["delete_where"] = _jobs(spark, P.delete_where, spark, d, "k >= 250")
    counts["merge_on_read"] = _jobs(
        spark, P.merge_on_read, spark, d, rows(40, 60), "k"
    )
    counts["write_manifest_table_zordered"] = _jobs(
        spark,
        FS.write_manifest_table_zordered,
        rows(0, 200),
        zd,
        "k",
        "val",
        num_files=4,
    )
    assert counts == {
        "write_manifest_table": 6,
        "append_snapshot": 6,
        "stage_snapshot": 5,
        "delete_where": 4,
        "merge_on_read": 14,
        "write_manifest_table_zordered": 11,
    }
    assert M.versions(spark, d) == [1, 2, 3, 4]
    assert M.read_snapshot(spark, d).count() == 250
