"""Secondary per-file stats + bloom point-lookup index
(operators/filestats.py): pruning evidence, correctness via residual
filters, tombstone honoring, write-once idempotence, expire GC."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from ml_pipelines_spark.operators.filestats import (
    point_lookup,
    point_lookup_file_count,
    pruned_stats_file_count,
    read_pruned_stats,
    write_file_bloom,
    write_file_stats,
)
from ml_pipelines_spark.operators.manifest import write_manifest_table


def _table(spark, d):
    """1000 rows sorted by k; ts2 correlates with k (prunable band),
    grp is k//125 (8 clustered point-lookup groups)."""
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") * 2 + 7).alias("ts2"),
        (F.col("id") / 125).cast("long").alias("grp"),
    )
    return write_manifest_table(df, d, "k", num_files=8)


def test_secondary_stats_prune_and_correct(spark):
    d = tempfile.mkdtemp(prefix="mlps_filestats_")
    try:
        _table(spark, d)
        n = write_file_stats(spark, d, ["ts2"])
        assert n == 8  # one stat row per file
        # ts2 in [200, 300] lives in ~1 of 8 range-laid files
        kept, total = pruned_stats_file_count(spark, d, "ts2", 200, 300)
        assert total == 8 and kept <= 2
        got = sorted(
            r.k for r in read_pruned_stats(spark, d, "ts2", 200, 300).collect()
        )
        assert got == [k for k in range(1000) if 200 <= 2 * k + 7 <= 300]
        # second write is a no-op (file-keyed, immutable)
        assert write_file_stats(spark, d, ["ts2"]) == 0
        # extending the column list writes only the new column's rows
        assert write_file_stats(spark, d, ["ts2", "grp"]) == 8
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stats_unknown_files_conservative(spark):
    """Files without stats rows are kept, so results stay exact even
    when only part of the snapshot is indexed."""
    from ml_pipelines_spark.operators.manifest import append_snapshot

    d = tempfile.mkdtemp(prefix="mlps_filestats_cons_")
    try:
        _table(spark, d)
        write_file_stats(spark, d, ["ts2"])
        batch = spark.range(1000, 1200).select(
            F.col("id").alias("k"),
            (F.col("id") * 2 + 7).alias("ts2"),
            (F.col("id") / 125).cast("long").alias("grp"),
        )
        append_snapshot(batch, d, "k", num_files=2)  # not yet indexed
        got = sorted(
            r.k
            for r in read_pruned_stats(spark, d, "ts2", 2100, 2300).collect()
        )
        assert got == [k for k in range(1200) if 2100 <= 2 * k + 7 <= 2300]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bloom_point_lookup(spark):
    d = tempfile.mkdtemp(prefix="mlps_filebloom_")
    try:
        _table(spark, d)
        assert write_file_bloom(spark, d, "grp") == 8
        assert write_file_bloom(spark, d, "grp") == 0  # idempotent
        # grp=3 lives in rows 375..499 — 1-2 of the 8 range files
        kept, total = point_lookup_file_count(spark, d, "grp", 3)
        assert total == 8 and kept <= 3
        got = sorted(r.k for r in point_lookup(spark, d, "grp", 3).collect())
        assert got == list(range(375, 500))
        # absent value: no false negatives required, near-zero opens
        kept, _ = point_lookup_file_count(spark, d, "grp", 999)
        assert kept <= 1
        assert point_lookup(spark, d, "grp", 999).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_point_lookup_honors_tombstones(spark):
    from ml_pipelines_spark.operators.manifest import delete_from_snapshot

    d = tempfile.mkdtemp(prefix="mlps_filebloom_del_")
    try:
        _table(spark, d)
        write_file_bloom(spark, d, "grp")
        dels = spark.range(375, 400).select(F.col("id").alias("k"))
        delete_from_snapshot(spark, d, "k", dels)
        got = sorted(r.k for r in point_lookup(spark, d, "grp", 3).collect())
        assert got == list(range(400, 500))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_expire_gc_sweeps_sidecars(spark):
    from ml_pipelines_spark.operators.manifest import (
        compact_snapshot,
        expire_snapshots,
    )

    d = tempfile.mkdtemp(prefix="mlps_filestats_gc_")
    try:
        _table(spark, d)
        write_file_stats(spark, d, ["ts2"])
        write_file_bloom(spark, d, "grp")
        compact_snapshot(spark, d, "k", target_rows=500)  # v2 rewrites
        expire_snapshots(spark, d, keep_last=1)
        # v1's files are gone, so their sidecar rows must be too
        assert spark.read.parquet(f"{d}/_filestats").count() == 0
        assert spark.read.parquet(f"{d}/_filebloom").count() == 0
        # re-index the compacted snapshot: everything works again
        assert write_file_stats(spark, d, ["ts2"]) == 2
        kept, total = pruned_stats_file_count(spark, d, "ts2", 200, 300)
        assert total == 2 and kept == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_zordered_manifest_two_axis_prune(spark):
    """A Z-ordered snapshot prunes band reads on BOTH axes; a linear
    sort prunes only its sort column. Results stay exact either way."""
    from ml_pipelines_spark.operators.filestats import (
        write_manifest_table_zordered,
    )

    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("long").alias("b"),
        F.col("id").alias("payload"),
    )
    d = tempfile.mkdtemp(prefix="mlps_zorder_manifest_")
    try:
        write_manifest_table_zordered(df, d, "a", "b", num_files=16, bits=6)
        # ~12% band on each axis: a Z-layout keeps a minority of files
        ka, total = pruned_stats_file_count(spark, d, "a", 0, 7)
        kb, _ = pruned_stats_file_count(spark, d, "b", 0, 7)
        assert total == 16 and ka <= 8 and kb <= 8
        got_a = sorted(
            r.payload for r in read_pruned_stats(spark, d, "a", 0, 7).collect()
        )
        assert got_a == sorted(i for i in range(4096) if i % 64 <= 7)
        got_b = sorted(
            r.payload for r in read_pruned_stats(spark, d, "b", 0, 7).collect()
        )
        assert got_b == list(range(0, 8 * 64))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_corrupt_sidecar_raises_loudly(spark):
    """A sidecar that EXISTS but cannot be read is corruption and must
    surface as an error — not silently degrade into a full-table read
    (read path) or duplicate stats rows (write path)."""
    import os

    import pytest

    d = tempfile.mkdtemp(prefix="mlps_filestats_corrupt_")
    try:
        _table(spark, d)
        os.makedirs(f"{d}/_filestats")
        with open(f"{d}/_filestats/part-garbage.parquet", "wb") as f:
            f.write(b"this is not parquet")
        with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
            read_pruned_stats(spark, d, "ts2", 200, 300).collect()
        with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
            write_file_stats(spark, d, ["ts2"])
        os.makedirs(f"{d}/_filebloom")
        with open(f"{d}/_filebloom/part-garbage.parquet", "wb") as f:
            f.write(b"junk either")
        with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
            point_lookup(spark, d, "grp", 3).collect()
        with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
            write_file_bloom(spark, d, "grp")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stats_file_count_on_unindexed_table(spark):
    """No ``_filestats`` yet: the counter keeps every file, like
    ``read_pruned_stats`` on the same table."""
    d = tempfile.mkdtemp(prefix="mlps_filestats_none_")
    try:
        _table(spark, d)
        assert pruned_stats_file_count(spark, d, "ts2", 200, 300) == (8, 8)
        assert read_pruned_stats(spark, d, "ts2", 200, 300).count() == 50
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_point_lookup_file_count_on_unindexed_table(spark):
    """No ``_filebloom`` yet: the counter keeps every file, like
    ``point_lookup`` on the same table."""
    d = tempfile.mkdtemp(prefix="mlps_filebloom_none_")
    try:
        _table(spark, d)
        assert point_lookup_file_count(spark, d, "grp", 3) == (8, 8)
        assert point_lookup(spark, d, "grp", 3).count() == 125
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_all_null_file_stats_keep_the_file(spark):
    """A file whose column is all null records null bounds; band reads
    treat them as unknown (kept, the residual filter drops the rows)."""
    d = tempfile.mkdtemp(prefix="mlps_filestats_nulls_")
    try:
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"),
            F.when(F.col("id") >= 500, F.col("id")).alias("m"),
        )
        write_manifest_table(df, d, "k", num_files=8)
        assert write_file_stats(spark, d, ["m"]) == 8
        kept, total = pruned_stats_file_count(spark, d, "m", 0, 10**6)
        assert kept == total == 8
        assert read_pruned_stats(spark, d, "m", 0, 10**6).count() == 500
    finally:
        shutil.rmtree(d, ignore_errors=True)
