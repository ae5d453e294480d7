"""Positional deletion vectors (round 10; VERDICT r09 item 8):
merge-on-read by (file, row position) runs — zero data files touched,
O(runs) sidecar instead of O(deleted rows), readers stitch Spark's
native ``_metadata.row_index``."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ml_pipelines_spark.operators.manifest import (
    append_snapshot,
    compact_snapshot,
    expire_snapshots,
    merge_snapshot,
    read_pruned,
    read_snapshot,
    snapshot_row_count,
    write_manifest_table,
)
from ml_pipelines_spark.operators.posdeletes import (
    delete_where,
    merge_on_read,
)


@pytest.fixture()
def table(spark):
    out = tempfile.mkdtemp(prefix="posdel_test_")
    base = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("val"),
        (F.col("id") % 7).alias("bucket"),
    )
    write_manifest_table(base, out, "k", num_files=4)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _mtimes(table):
    return {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{table}/v=*/**/*.parquet", recursive=True)
    }


def test_delete_where_zero_data_files_touched(spark, table):
    before = _mtimes(table)
    v = delete_where(spark, table, "k >= 100 AND k < 600")
    assert v == 2
    assert _mtimes(table) == before  # merge-on-read: bytes untouched
    got = read_snapshot(spark, table)
    assert got.count() == 500
    assert got.filter((F.col("k") >= 100) & (F.col("k") < 600)).count() == 0
    # time travel: v1 still sees every row
    assert read_snapshot(spark, table, 1).count() == 1000
    assert snapshot_row_count(spark, table) == 500
    assert snapshot_row_count(spark, table, 1) == 1000


def test_wide_delete_compresses_to_one_run_per_file(spark, table):
    # the table is range-clustered on k, so a contiguous k-band is a
    # contiguous POSITION band within each file: the gaps-and-islands
    # RLE must record at most one run per touched file — the O(runs)
    # story that makes DVs the wide-delete shape
    delete_where(spark, table, "k >= 100 AND k < 600")
    runs = spark.read.parquet(f"{table}/_posdeletes").collect()
    assert 1 <= len(runs) <= 4  # ≤ one run per file, for 500 dead rows
    assert sum(r["pos_end"] - r["pos_start"] + 1 for r in runs) == 500


def test_scattered_delete_runs_still_exact(spark, table):
    delete_where(spark, table, "bucket = 3")  # every 7th row
    got = read_snapshot(spark, table)
    assert got.count() == 1000 - len([k for k in range(1000) if k % 7 == 3])
    assert got.filter(F.col("bucket") == 3).count() == 0


def test_reinserted_keys_survive_old_dv(spark, table):
    delete_where(spark, table, "k < 10")
    re_ins = spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.lit(-1).alias("val"),
        F.lit(99).alias("bucket"),
    )
    append_snapshot(re_ins, table, "k")
    got = read_snapshot(spark, table)
    assert got.count() == 1000  # 990 survivors + 10 re-inserts
    # the re-inserted rows are the NEW values (positions pin old files)
    assert {
        r["val"] for r in got.filter(F.col("k") < 10).collect()
    } == {-1}


def test_merge_does_not_resurrect_dv_deleted_rows(spark, table):
    delete_where(spark, table, "k >= 200 AND k < 300")
    updates = spark.range(250, 260).select(
        F.col("id").alias("k"),
        F.lit(7).alias("val"),
        F.lit(7).alias("bucket"),
    )
    merge_snapshot(spark, table, "k", updates)
    got = read_snapshot(spark, table)
    # 900 survivors + 10 upserted keys back in
    assert got.count() == 910
    assert got.filter((F.col("k") >= 200) & (F.col("k") < 250)).count() == 0
    assert {
        r["val"] for r in got.filter(F.col("k") == 255).collect()
    } == {7}


def test_dv_composes_with_key_tombstones(spark, table):
    from ml_pipelines_spark.operators.manifest import delete_from_snapshot

    delete_where(spark, table, "k < 100")
    delete_from_snapshot(
        spark, table, "k",
        spark.range(900, 1000).select(F.col("id").alias("k")),
    )
    got = read_snapshot(spark, table)
    assert got.count() == 800
    assert got.agg(F.min("k"), F.max("k")).collect()[0] == (100, 899)
    assert snapshot_row_count(spark, table) == 800


def test_pruned_read_honors_dvs(spark, table):
    delete_where(spark, table, "k >= 100 AND k < 600")
    got = read_pruned(spark, table, "k", 50, 150)
    assert got.count() == 50  # 50..99 survive, 100..150 are dead
    assert got.agg(F.max("k")).collect()[0][0] == 99


def test_compact_purges_dv_debt_then_expire_gcs_runs(spark, table):
    delete_where(spark, table, "k >= 100 AND k < 600")
    cv = compact_snapshot(spark, table, "k", target_rows=300)
    got = read_snapshot(spark, table, cv)
    assert got.count() == 500  # compaction read through the DV filter
    # runs still reference the OLD files; after expire drops them, the
    # dead DV rows are GC'd with them
    expire_snapshots(spark, table, keep_last=1)
    assert read_snapshot(spark, table).count() == 500
    # every run referenced a now-deleted file: the sidecar itself is gone
    assert not os.path.exists(f"{table}/_posdeletes")


def _updates(spark, lo, hi, val=-5, bucket=42):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.lit(val).cast("long").alias("val"),
        F.lit(bucket).cast("long").alias("bucket"),
    )


def test_merge_on_read_upsert_zero_rewrite(spark, table):
    before = _mtimes(table)
    v = merge_on_read(spark, table, _updates(spark, 100, 120), "k")
    assert v == 2
    # every pre-merge data file byte-identical — MoR rewrites NOTHING
    # (the CoW twin would rewrite the whole overlapping file)
    after = _mtimes(table)
    assert all(after[p] == t for p, t in before.items())
    got = read_snapshot(spark, table)
    assert got.count() == 1000
    assert {
        r["val"]
        for r in got.filter(
            (F.col("k") >= 100) & (F.col("k") < 120)
        ).collect()
    } == {-5}
    # unmatched rows untouched; time travel sees pre-merge values
    assert got.filter(F.col("k") == 50).collect()[0]["val"] == 150
    v1 = read_snapshot(spark, table, 1)
    assert v1.count() == 1000
    assert v1.filter(F.col("k") == 100).collect()[0]["val"] == 300


def test_merge_on_read_inserts_unmatched_keys(spark, table):
    merge_on_read(spark, table, _updates(spark, 995, 1010), "k")
    got = read_snapshot(spark, table)
    assert got.count() == 1010  # 5 updated in place, 10 inserted
    assert got.filter(F.col("k") >= 1000).count() == 10
    assert {
        r["val"] for r in got.filter(F.col("k") >= 995).collect()
    } == {-5}


def test_merge_on_read_matches_cow_merge(spark, table):
    # semantic twin check: MoR and CoW merges of the same batch read
    # back identically (only the physical strategy differs)
    cow = tempfile.mkdtemp(prefix="posdel_cow_")
    try:
        write_manifest_table(
            read_snapshot(spark, table, 1), cow, "k", num_files=4
        )
        batch = _updates(spark, 400, 450)
        merge_on_read(spark, table, batch, "k")
        merge_snapshot(spark, cow, "k", batch)
        a = sorted(map(tuple, read_snapshot(spark, table).collect()))
        b = sorted(map(tuple, read_snapshot(spark, cow).collect()))
        assert a == b
    finally:
        shutil.rmtree(cow, ignore_errors=True)


def test_merge_on_read_position_scan_prunes(spark, table):
    # the victim-finding scan opens only zone-map-overlapping files:
    # a batch confined to k<10 must record runs ONLY in the one
    # range-clustered file that holds low k
    import re

    def _n(p):  # input_file_name says file:///, _metadata says file:/
        return re.sub(r"^file:/+", "/", p)

    merge_on_read(spark, table, _updates(spark, 0, 10), "k")
    runs = spark.read.parquet(f"{table}/_posdeletes").collect()
    manifest = spark.read.parquet(f"{table}/_manifest").filter(
        F.col("v") == 1
    ).collect()
    overlapping = {_n(r["file"]) for r in manifest if r["min_v"] <= 9}
    assert len(overlapping) == 1  # 4 range-clustered files over 0..999
    assert {_n(r["file"]) for r in runs} <= overlapping
    assert sum(r["pos_end"] - r["pos_start"] + 1 for r in runs) == 10


def test_merge_on_read_rejects_empty_batch(spark, table):
    with pytest.raises(ValueError, match="empty updates batch"):
        merge_on_read(
            spark, table, _updates(spark, 0, 10).filter("k < 0"), "k"
        )
    # no version minted, no sidecar stranded
    assert read_snapshot(spark, table).count() == 1000
    assert not os.path.exists(f"{table}/_posdeletes")


def test_merge_on_read_then_compact_clears_debt(spark, table):
    merge_on_read(spark, table, _updates(spark, 100, 200), "k")
    cv = compact_snapshot(spark, table, "k", target_rows=500)
    got = read_snapshot(spark, table, cv)
    assert got.count() == 1000
    assert {
        r["val"]
        for r in got.filter(
            (F.col("k") >= 100) & (F.col("k") < 200)
        ).collect()
    } == {-5}
    expire_snapshots(spark, table, keep_last=1)
    assert read_snapshot(spark, table).count() == 1000
    assert not os.path.exists(f"{table}/_posdeletes")


def test_merge_on_read_after_dv_delete_reinserts(spark, table):
    # keys killed by an earlier DV delete come BACK when a later MoR
    # merge upserts them — the merge's rows live in a new file the old
    # DV cannot touch (positions pin old files)
    delete_where(spark, table, "k < 100")
    assert read_snapshot(spark, table).count() == 900
    merge_on_read(spark, table, _updates(spark, 50, 150), "k")
    got = read_snapshot(spark, table)
    # 900 live - 50 matched (100..149, DV-killed) + 100 batch rows:
    # 50..99 resurrect as inserts, 0..49 stay dead
    assert got.count() == 950
    assert {
        r["val"]
        for r in got.filter(
            (F.col("k") >= 50) & (F.col("k") < 150)
        ).collect()
    } == {-5}
    assert got.filter(F.col("k") < 50).count() == 0  # still dead


def test_sequential_mor_merges_compose(spark, table):
    merge_on_read(spark, table, _updates(spark, 0, 500, val=-1), "k")
    merge_on_read(spark, table, _updates(spark, 250, 750, val=-2), "k")
    got = read_snapshot(spark, table)
    assert got.count() == 1000
    assert got.filter(F.col("val") == -1).count() == 250  # 0..249
    assert got.filter(F.col("val") == -2).count() == 500  # 250..749
    assert got.filter(F.col("k") >= 750).filter(
        F.col("val") < 0
    ).count() == 0


def test_evolved_read_honors_dvs(spark, table):
    from ml_pipelines_spark.operators.manifest import (
        add_column,
        read_snapshot_evolved,
    )

    add_column(spark, table, "flag", "string", "'x'")
    delete_where(spark, table, "k >= 500")
    got = read_snapshot_evolved(spark, table)
    assert got.count() == 500
    assert set(got.columns) == {"k", "val", "bucket", "flag"}
    assert got.filter(F.col("k") >= 500).count() == 0


def test_stream_upsert_sink_bootstrap_and_lww(spark):
    # batch 0 bootstraps the table; batch 1 carries TWO images for the
    # same keys — seq_col must pick the later image (CDC
    # last-writer-wins); the ledger mints exactly one version per batch
    import glob as _glob
    import uuid

    from ml_pipelines_spark.operators.manifest import versions
    from ml_pipelines_spark.operators.posdeletes import (
        stream_upsert_sink,
    )

    src = tempfile.mkdtemp(prefix="cdc_sink_src_")
    tbl = tempfile.mkdtemp(prefix="cdc_sink_tbl_")
    ckpt = tempfile.mkdtemp(prefix="cdc_sink_ck_") + f"/{uuid.uuid4().hex}"
    try:
        b0 = spark.range(0, 100).select(
            F.col("id").alias("k"),
            F.col("id").alias("val"),
            F.lit(0).cast("long").alias("seq"),
        )
        b1 = spark.range(0, 10).select(
            F.col("id").alias("k"),
            F.lit(-1).cast("long").alias("val"),
            F.lit(1).cast("long").alias("seq"),
        ).unionByName(
            spark.range(0, 10).select(
                F.col("id").alias("k"),
                F.lit(-2).cast("long").alias("val"),
                F.lit(2).cast("long").alias("seq"),
            )
        )
        for i, b in enumerate((b0, b1)):
            stage = f"{src}/_stage{i}"
            b.coalesce(1).write.parquet(stage)
            part = _glob.glob(f"{stage}/part-*.parquet")[0]
            shutil.move(part, f"{src}/b{i}.parquet")
            shutil.rmtree(stage)
            os.utime(f"{src}/b{i}.parquet", (1_700_000_000 + i * 100,) * 2)
        schema = spark.read.parquet(f"{src}/b0.parquet").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_upsert_sink(
            stream, tbl, "k", ckpt, num_files=2, seq_col="seq"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert versions(spark, tbl) == [1, 2]
        got = read_snapshot(spark, tbl)
        assert got.count() == 100
        assert {
            r["val"] for r in got.filter(F.col("k") < 10).collect()
        } == {-2}  # seq=2 image won
        assert got.filter(F.col("k") == 50).collect()[0]["val"] == 50
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(tbl, ignore_errors=True)
        shutil.rmtree(os.path.dirname(ckpt), ignore_errors=True)


def test_compact_small_files_selective(spark):
    # 2 big files + 6 small append files with DV debt across both
    # classes: selective compaction must rewrite ONLY the small files,
    # clear ONLY their debt, and leave the big bytes untouched
    from ml_pipelines_spark.operators.manifest import (
        compact_small_files,
    )

    out = tempfile.mkdtemp(prefix="smallfiles_")
    try:
        base = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("val")
        )
        write_manifest_table(base, out, "k", num_files=2)  # 2x500 rows
        for i in range(6):
            batch = spark.range(1000 + i * 30, 1030 + i * 30).select(
                F.col("id").alias("k"), F.lit(-1).cast("long").alias("val")
            )
            append_snapshot(batch, out, "k", num_files=1)
        delete_where(spark, out, "k % 10 = 7")  # debt on big AND small
        want = sorted(
            map(tuple, read_snapshot(spark, out).collect())
        )
        before = _mtimes(out)
        big_files = {
            p for p in before if "/v=1/" in p
        }
        v = compact_small_files(spark, out, "k", target_rows=100)
        assert v == 9
        after = _mtimes(out)
        # big files byte-identical and still part of the snapshot
        assert all(after[p] == before[p] for p in big_files)
        man = {
            r["file"]
            for r in spark.read.parquet(f"{out}/_manifest")
            .filter(F.col("v") == v)
            .collect()
        }
        assert sum(1 for f in man if "/v=1/" in f) == 2
        # the 6 small files left the manifest; ~180 live rows in 2 new
        new_files = {f for f in man if f"/v={v}/" in f}
        assert 1 <= len(new_files) <= 2
        got = sorted(map(tuple, read_snapshot(spark, out).collect()))
        assert got == want  # read-equivalence through the rewrite
        # big files' DV debt still applies (k%10==7 from 0..999 dead)
        assert (
            read_snapshot(spark, out)
            .filter((F.col("k") < 1000) & (F.col("k") % 10 == 7))
            .count()
            == 0
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_compact_small_files_noop_below_two(spark, table):
    from ml_pipelines_spark.operators.manifest import (
        compact_small_files,
    )

    # all 4 files are >= small_rows: returns the current version,
    # mints nothing
    v = compact_small_files(
        spark, table, "k", target_rows=100, small_rows=10
    )
    assert v == 1
    from ml_pipelines_spark.operators.manifest import versions

    assert versions(spark, table) == [1]


def test_insert_only_upsert_batch_commits(spark):
    """Self-review r11: an upsert batch with NO matched keys writes no
    DV partition; the pre-commit sidecar verify must not mistake that
    for a concurrent sweep and wedge the commit (this broke insert-only
    CDC micro-batches)."""
    import shutil
    import tempfile

    from ml_pipelines_spark.operators.manifest import (
        read_snapshot,
        write_manifest_table,
    )
    from ml_pipelines_spark.operators.posdeletes import merge_on_read

    d = tempfile.mkdtemp(prefix="mlps_insertonly_")
    try:
        base = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("val")
        )
        write_manifest_table(base, d, "k", num_files=2)
        fresh = spark.range(100, 120).select(
            F.col("id").alias("k"), F.lit(-1).alias("val")
        )
        v = merge_on_read(spark, d, fresh, "k")
        assert v == 2
        got = {r.k: r.val for r in read_snapshot(spark, d).collect()}
        assert len(got) == 120
        assert all(got[k] == -1 for k in range(100, 120))
        assert got[50] == 100
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_zero_match_delete_where_commits(spark):
    import shutil
    import tempfile

    from ml_pipelines_spark.operators.manifest import (
        read_snapshot,
        versions,
        write_manifest_table,
    )
    from ml_pipelines_spark.operators.posdeletes import delete_where

    d = tempfile.mkdtemp(prefix="mlps_zeromatch_")
    try:
        base = spark.range(0, 50).select(F.col("id").alias("k"))
        write_manifest_table(base, d, "k", num_files=2)
        v = delete_where(spark, d, "k > 1000")  # matches nothing
        assert v == 2
        assert versions(spark, d) == [1, 2]
        assert read_snapshot(spark, d).count() == 50
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_expire_keeps_surviving_dv_runs(spark, table):
    """The DV GC's other outcome: runs on files a retained snapshot
    still references survive the expire and keep deleting rows, while
    the runs of a rewritten file go with it."""
    delete_where(spark, table, "k >= 100 AND k < 600")
    before = spark.read.parquet(f"{table}/_posdeletes").count()
    # copy-on-write rewrite of the first file only
    updates = spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.lit(7).alias("val"),
        F.lit(7).alias("bucket"),
    )
    merge_snapshot(spark, table, "k", updates)
    expire_snapshots(spark, table, keep_last=1)
    after = spark.read.parquet(f"{table}/_posdeletes").count()
    assert 0 < after < before
    got = read_snapshot(spark, table)
    assert got.count() == 500
    assert got.filter((F.col("k") >= 100) & (F.col("k") < 600)).count() == 0
