"""Shallow clone (round 10, second session): Delta-style metadata-only
table fork — zero data bytes copied, clone born at src's latest version
number so tombstone origin arithmetic covers every cloned file."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ml_pipelines_spark.operators import sidecars
from ml_pipelines_spark.operators.manifest import (
    append_snapshot,
    compact_snapshot,
    delete_from_snapshot,
    expire_snapshots,
    read_snapshot,
    shallow_clone,
    versions,
    write_manifest_table,
)
from ml_pipelines_spark.operators.posdeletes import (
    delete_where,
    merge_on_read,
)


@pytest.fixture()
def src(spark):
    out = tempfile.mkdtemp(prefix="clone_src_")
    base = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("val")
    )
    write_manifest_table(base, out, "k", num_files=4)
    yield out
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture()
def dst():
    out = tempfile.mkdtemp(prefix="clone_dst_")
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _data_files(root):
    return glob.glob(f"{root}/v=*/**/*.parquet", recursive=True)


def test_clone_is_zero_copy_and_reads_identically(spark, src, dst):
    v = shallow_clone(spark, src, dst)
    assert v == 1
    assert _data_files(dst) == []  # not one data byte moved
    a = sorted(map(tuple, read_snapshot(spark, src).collect()))
    b = sorted(map(tuple, read_snapshot(spark, dst).collect()))
    assert a == b
    assert versions(spark, dst) == [1]


def test_clone_freezes_live_deletes(spark, src, dst):
    delete_where(spark, src, "k < 100")  # DV runs at src v2
    delete_from_snapshot(  # key tombstones at src v3
        spark, src, "k",
        spark.range(900, 1000).select(F.col("id").alias("k")),
    )
    v = shallow_clone(spark, src, dst)
    assert v == 3  # born at src's latest version NUMBER
    got = read_snapshot(spark, dst)
    assert got.count() == 800  # both delete kinds visible in the clone
    assert got.agg(F.min("k"), F.max("k")).collect()[0] == (100, 899)


def test_clone_diverges_both_ways(spark, src, dst):
    shallow_clone(spark, src, dst)
    append_snapshot(  # src moves on
        spark.range(1000, 1100).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("val")
        ),
        src,
        "k",
    )
    merge_on_read(  # clone moves differently
        spark,
        dst,
        spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("val")
        ),
        "k",
    )
    s = read_snapshot(spark, src)
    c = read_snapshot(spark, dst)
    assert s.count() == 1100
    assert s.filter(F.col("k") < 10).agg(F.max("val")).collect()[0][0] == 27
    assert c.count() == 1000  # clone never saw src's append
    assert {
        r["val"] for r in c.filter(F.col("k") < 10).collect()
    } == {-1}


def test_tombstones_in_clone_cover_all_cloned_origins(spark, src, dst):
    # src files span origins 1..3; the clone is born at v=3, so a
    # clone-local tombstone (v=4) has every cloned origin below it. A
    # clone born at v=1 would let origin-2/3 files ESCAPE the delete —
    # the bug the birth-version choice prevents.
    append_snapshot(
        spark.range(1000, 1100).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("val")
        ),
        src,
        "k",
    )
    append_snapshot(
        spark.range(1100, 1200).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("val")
        ),
        src,
        "k",
    )
    v = shallow_clone(spark, src, dst)
    assert v == 3
    kill = spark.createDataFrame(
        [(5,), (1050,), (1150,)], "k bigint"
    )  # one key per origin
    delete_from_snapshot(spark, dst, "k", kill)
    got = read_snapshot(spark, dst)
    assert got.count() == 1197
    assert got.filter(F.col("k").isin(5, 1050, 1150)).count() == 0
    assert read_snapshot(spark, src).count() == 1200  # src untouched


def test_expire_on_clone_never_deletes_src_files(spark, src, dst):
    shallow_clone(spark, src, dst)
    # rewrite the clone so its latest manifest references NO src file,
    # then expire with keep_last=1 — the aggressive case
    compact_snapshot(spark, dst, "k", target_rows=500)
    expire_snapshots(spark, dst, keep_last=1)
    assert len(_data_files(src)) == 4  # src's files all survive
    assert read_snapshot(spark, src).count() == 1000
    assert read_snapshot(spark, dst).count() == 1000


def test_clone_into_existing_table_rejected(spark, src, dst):
    shallow_clone(spark, src, dst)
    with pytest.raises(ValueError, match="already holds a table"):
        shallow_clone(spark, src, dst)


def test_failed_clone_backs_out_cleanly(spark, src, dst, monkeypatch):
    with monkeypatch.context() as m:

        def boom(*a, **kw):
            raise RuntimeError("injected clone failure")

        m.setattr(sidecars, "write", boom)
        with pytest.raises(RuntimeError, match="injected"):
            shallow_clone(spark, src, dst)
    assert not os.path.exists(f"{dst}/_manifest")
    # a retry starts clean
    assert shallow_clone(spark, src, dst) == 1
    assert read_snapshot(spark, dst).count() == 1000
