"""Timestamp-typed sort/tombstone keys on a NON-UTC driver (ADVICE
r11): pyarrow reads Spark's parquet timestamps as tz-naive UTC walls,
while Spark's Python conversions (collect / createDataFrame / F.lit)
speak tz-naive PROCESS-LOCAL walls. Un-normalized, the driver-side
local-frame metadata path shifts tombstone keys and zone-map bounds by
the tz offset relative to collected rows — deletes silently miss rows
and MoR victim pruning skips files. These tests run the timestamp-key
lifecycle with the process tz forced to America/New_York
(DST-observing, so the offset is not even constant), on a bare and on
a ``file://``-qualified table path, and assert both agree with ground
truth."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

import ml_pipelines_spark.operators.manifest as M
import ml_pipelines_spark.operators.posdeletes as P


@pytest.fixture
def new_york_tz():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = old
    time.tzset()


def _ts_table(spark):
    # hourly timestamps spanning a DST boundary (2024-03-10 in
    # America/New_York), so a constant-offset bug cannot cancel out
    return spark.range(0, 240).select(
        (
            F.to_timestamp(F.lit("2024-03-08 00:00:00"))
            + F.make_interval(hours=F.col("id"))
        ).alias("ts"),
        F.col("id").alias("x"),
    )


def _lifecycle(spark, d):
    M.write_manifest_table(_ts_table(spark), d, "ts", num_files=4)
    # tombstone-delete 24 hourly keys by timestamp
    doomed = _ts_table(spark).filter(
        (F.col("x") >= 48) & (F.col("x") < 72)
    ).select("ts")
    M.delete_from_snapshot(spark, d, "ts", doomed)
    # MoR upsert keyed on the timestamp: victim files are pruned by the
    # manifest's [min_v, max_v] band comparison against the batch band
    updates = _ts_table(spark).filter(
        (F.col("x") >= 100) & (F.col("x") < 110)
    ).select("ts", F.lit(-1).alias("x"))
    P.merge_on_read(spark, d, updates, "ts")
    return {r.ts: r.x for r in M.read_snapshot(spark, d).collect()}


def _expected(spark):
    rows = {r.ts: r.x for r in _ts_table(spark).collect()}
    doomed = [ts for ts, x in rows.items() if 48 <= x < 72]
    for ts in doomed:
        del rows[ts]
    for ts, x in list(rows.items()):
        if 100 <= x < 110:
            rows[ts] = -1
    return rows


def test_timestamp_keys_driver_path_non_utc(spark, new_york_tz):
    d = tempfile.mkdtemp(prefix="mlps_tz_local_")
    try:
        assert _lifecycle(spark, d) == _expected(spark)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_timestamp_keys_file_uri_path_non_utc(spark, new_york_tz):
    d = tempfile.mkdtemp(prefix="mlps_tz_uri_")
    try:
        assert _lifecycle(spark, f"file://{d}") == _expected(spark)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_timestamp_keys_both_paths_agree_utc(spark):
    # same lifecycle on the UTC container default — guards the
    # normalization itself (it must be a no-op when local == UTC)
    d = tempfile.mkdtemp(prefix="mlps_tz_utc_")
    try:
        assert _lifecycle(spark, d) == _expected(spark)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# TIMESTAMP_NTZ keys hold walls, not instants: collect() returns them as
# stored whatever the process tz, so zone-map bounds and band literals
# must not be shifted by the driver's offset.
_NTZ_T0 = datetime.datetime(2024, 3, 8)


def _ntz_table(spark):
    return spark.range(0, 48).select(
        (
            F.to_timestamp_ntz(F.lit("2024-03-08 00:00:00"))
            + F.make_interval(hours=F.col("id"))
        ).alias("ts"),
        F.col("id").alias("x"),
    )


def _ntz_merge(spark, d):
    M.write_manifest_table(_ntz_table(spark), d, "ts", num_files=4)
    updates = _ntz_table(spark).filter(F.col("x").isin(9, 10)).select(
        "ts", F.lit(-1).cast("long").alias("x")
    )
    M.merge_snapshot(spark, d, "ts", updates)
    got = [(r.ts, r.x) for r in M.read_snapshot(spark, d).collect()]
    want = [
        (_NTZ_T0 + datetime.timedelta(hours=h), -1 if h in (9, 10) else h)
        for h in range(48)
    ]
    # one row per key: the files holding 09:00-10:00 were rewritten,
    # not carried next to the new rows
    assert sorted(got) == want


def _ntz_band(spark, d):
    M.write_manifest_table(_ntz_table(spark), d, "ts", num_files=4)
    lo = _NTZ_T0 + datetime.timedelta(hours=20)
    hi = _NTZ_T0 + datetime.timedelta(hours=26)
    scan = M.read_snapshot(spark, d).collect()
    want = sorted(r.ts for r in scan if lo <= r.ts <= hi)
    got = sorted(r.ts for r in M.read_pruned(spark, d, "ts", lo, hi).collect())
    assert len(want) == 7 and got == want
    kept, total = M.pruned_file_count(spark, d, lo, hi)
    assert kept < total


@pytest.mark.parametrize("case", [_ntz_merge, _ntz_band])
def test_ntz_keys_non_utc(spark, new_york_tz, case):
    d = tempfile.mkdtemp(prefix="mlps_tz_ntz_")
    try:
        case(spark, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("case", [_ntz_merge, _ntz_band])
def test_ntz_keys_utc(spark, case):
    d = tempfile.mkdtemp(prefix="mlps_tz_ntz_utc_")
    try:
        case(spark, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)
