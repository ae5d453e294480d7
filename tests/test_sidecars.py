"""The driver-side metadata writer keeps the contract Spark's
``errorifexists`` writes had: an existing target raises the error
callers map to CommitConflict, files appear only under their final
names, and Spark reads them back with the intended types."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

import ml_pipelines_spark.operators.manifest as M
from ml_pipelines_spark.operators import sidecars


def _table():
    ts = dt.datetime(2024, 3, 10, 7, 30, tzinfo=dt.timezone.utc)
    return pa.table(
        {
            "n": pa.array([1], pa.int64()),
            "instant": pa.array([ts], pa.timestamp("us", "UTC")),
            "wall": pa.array([ts.replace(tzinfo=None)], pa.timestamp("us")),
        }
    )


def test_write_refuses_existing_target_and_appends(tmp_path):
    fs, root = sidecars.resolve(f"file://{tmp_path}")
    target = f"{root}/_refs/seq=1"
    sidecars.write(fs, target, _table())
    with pytest.raises(sidecars.SidecarExistsError) as err:
        sidecars.write(fs, target, _table())
    assert M._is_path_exists_error(err.value)
    sidecars.write(fs, target, _table(), append=True)
    # only final names: no temp file is left behind or listed
    assert len(os.listdir(target)) == 2
    assert all(not f.startswith(".") for f in os.listdir(target))
    assert len(sidecars.list_files(fs, f"{root}/_refs")) == 2
    assert sidecars.read_table(fs, f"{root}/_refs")["seq"].to_pylist() == [1, 1]


def test_spark_reads_driver_files_with_intended_types(spark, tmp_path):
    fs, root = sidecars.resolve(str(tmp_path))
    sidecars.write(fs, f"{root}/_restores", _table(), append=True)
    df = spark.read.parquet(f"{tmp_path}/_restores")
    types = {f.name: f.dataType for f in df.schema.fields}
    assert types == {
        "n": LongType(),
        "instant": TimestampType(),
        "wall": TimestampNTZType(),
    }
    row = df.collect()[0]
    instant = dt.datetime(2024, 3, 10, 7, 30, tzinfo=dt.timezone.utc)
    assert row["instant"].astimezone(dt.timezone.utc) == instant
    assert row["wall"] == dt.datetime(2024, 3, 10, 7, 30)


def test_half_written_sidecar_raises(tmp_path):
    fs, root = sidecars.resolve(str(tmp_path))
    os.makedirs(f"{root}/_manifest/v=1")
    open(f"{root}/_manifest/v=1/.part-00000-x.parquet.tmp", "wb").close()
    assert sidecars.committed_versions(fs, root) == []
    with pytest.raises(IOError):
        sidecars.read_table(fs, f"{root}/_manifest")


@pytest.mark.parametrize("uri", ["s3a://bucket/table", "viewfs://cluster/t"])
def test_unsupported_scheme_is_a_named_error(uri):
    with pytest.raises(sidecars.UnsupportedFilesystemError):
        sidecars.resolve(uri)
