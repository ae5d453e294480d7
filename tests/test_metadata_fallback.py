"""Table metadata is read and written on the driver through
``operators.sidecars``; only the data-sized delete sidecars keep a
distributed read, above a size or row cap. These tests run a full
table lifecycle on a bare path and on a ``file://``-qualified one
(the URI form a remote deployment passes), force the capped fallbacks
(tiny _LOCAL_RUNS_MAX, zero size cap), and assert identical results."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import ml_pipelines_spark.operators.manifest as M
import ml_pipelines_spark.operators.posdeletes as P


def _lifecycle(spark, d):
    base = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("val")
    )
    M.write_manifest_table(base, d, "k", num_files=3)
    M.append_snapshot(
        spark.range(300, 400).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("val")
        ),
        d,
        "k",
        num_files=1,
    )
    M.delete_from_snapshot(
        spark, d, "k", spark.range(10, 30).select(F.col("id").alias("k"))
    )
    P.delete_where(spark, d, "k >= 390")
    P.merge_on_read(
        spark,
        d,
        spark.range(50, 60).select(
            F.col("id").alias("k"), F.lit(-1).alias("val")
        ),
        "k",
    )
    M.rename_column(spark, d, "val", "amount")
    got = {
        r.k: r.amount
        for r in M.read_snapshot_evolved(spark, d).collect()
    }
    return got, M.versions(spark, d), M.snapshot_row_count(spark, d)


def _expected():
    rows = {k: k * 3 for k in range(400)}
    for k in range(10, 30):
        del rows[k]
    for k in range(390, 400):
        del rows[k]
    for k in range(50, 60):
        rows[k] = -1
    return rows


def test_lifecycle_file_uri_table_path(spark):
    # the same lifecycle addressed by a scheme-qualified URI: metadata
    # I/O resolves the filesystem from the qualified path
    d = tempfile.mkdtemp(prefix="mlps_fileuri_")
    try:
        got, vs, n = _lifecycle(spark, f"file://{d}")
        assert got == _expected()
        assert vs == [1, 2, 3, 4, 5, 6]
        assert n == len(got)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_lifecycle_driver_metadata_path_matches(spark):
    d = tempfile.mkdtemp(prefix="mlps_driverpath_")
    try:
        got, vs, n = _lifecycle(spark, d)
        assert got == _expected()
        assert vs == [1, 2, 3, 4, 5, 6]
        assert n == len(got)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_big_runs_take_distributed_scan(spark, monkeypatch):
    # _LOCAL_RUNS_MAX = 0 forces the DV runs frame back to the
    # distributed parquet scan even for small sidecars; results must
    # not change
    monkeypatch.setattr(P, "_LOCAL_RUNS_MAX", 0)
    d = tempfile.mkdtemp(prefix="mlps_bigruns_")
    try:
        base = spark.range(0, 500).select(F.col("id").alias("k"))
        M.write_manifest_table(base, d, "k", num_files=2)
        P.delete_where(spark, d, "k % 2 = 0")  # scattered: 250 runs
        got = sorted(r.k for r in M.read_snapshot(spark, d).collect())
        assert got == [k for k in range(500) if k % 2]
        assert M.snapshot_row_count(spark, d) == 250
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_driver_sidecar_cap_falls_back(spark, monkeypatch):
    # a sidecar above the size cap must return None (distributed read),
    # not explode the driver
    monkeypatch.setattr(M, "_DRIVER_METADATA_CAP", 0)
    d = tempfile.mkdtemp(prefix="mlps_cap_")
    try:
        base = spark.range(0, 100).select(F.col("id").alias("k"))
        M.write_manifest_table(base, d, "k", num_files=2)
        assert M._driver_sidecar_table(spark, d, "_manifest") is None
        # NOTE: versions()/_manifest_rows use the partition LISTING,
        # which is size-independent; row READS fall back
        assert M.versions(spark, d) == [1]
        assert M.read_snapshot(spark, d).count() == 100
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_temporary_wreckage_is_not_metadata(spark, tmp_path):
    """Self-review r11: a crashed writer's _temporary/ subtree must not
    count toward the driver read's file census — the dataset discovery
    ignores those files, so counting them would return an EMPTY table
    where 'exists but holds no readable parquet' must raise."""
    import os

    import pytest as _pytest

    d = str(tmp_path / "table")
    side = os.path.join(d, "_refs", "_temporary", "0")
    os.makedirs(side)
    # a parquet-named file inside the temp subtree (wreckage)
    with open(os.path.join(side, "part-00000.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    with _pytest.raises(Exception):
        M._driver_sidecar_table(spark, d, "_refs")
