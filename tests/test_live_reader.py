"""Every reader of a snapshot's live rows returns the same rows.

One table takes each kind of delete debt and a schema event — a key
tombstone (``delete_from_snapshot``), a deletion vector
(``delete_where``), a merge-on-read upsert and a rename of a non-key
column — plus the manifest list, file stats and file blooms. Each
reader is asked for its predicate's rows and checked against rows
computed in Python from the operations applied, never against another
reader. Writes on the renamed column (a positional delete and a
copy-on-write merge) must resolve it by its current name.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import ml_pipelines_spark.operators.filestats as FS
import ml_pipelines_spark.operators.manifest as M
import ml_pipelines_spark.operators.posdeletes as P

N = 1000


def _frame(spark, lo, hi, x=None):
    """Rows k in [lo, hi) with x = 2k (or the constant ``x``), w = 3k."""
    xcol = F.col("id") * 2 if x is None else F.lit(x).cast("long")
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), xcol.alias("x"), (F.col("id") * 3).alias("w")
    )


def _expected() -> dict[int, tuple[int, int]]:
    """{k: (x, w)} after the table's operations, in Python."""
    rows = {k: (2 * k, 3 * k) for k in range(N)}
    for k in range(10, 30):  # tombstones
        del rows[k]
    for k in range(100, 200):  # deletion vector
        del rows[k]
    for k in range(300, 310):  # merge-on-read upsert
        rows[k] = (-1, 3 * k)
    return rows


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("live_reader") / "t")
    M.write_manifest_table(_frame(spark, 0, N), d, "k", num_files=8)
    M.delete_from_snapshot(
        spark, d, "k", spark.range(10, 30).select(F.col("id").alias("k"))
    )
    P.delete_where(spark, d, "k >= 100 AND k < 200")
    P.merge_on_read(spark, d, _frame(spark, 300, 310, x=-1), "k")
    M.rename_column(spark, d, "x", "y")
    M.build_manifest_list(spark, d, num_shards=4)
    FS.write_file_stats(spark, d, ["w"])
    FS.write_file_bloom(spark, d, "w")
    return d


def _got(df) -> dict[int, tuple[int, int]]:
    assert df.columns == ["k", "y", "w"]
    got = {r.k: (r.y, r.w) for r in df.collect()}
    assert len(got) == df.count()
    return got


def _where(rows, pred):
    return {k: v for k, v in rows.items() if pred(k, *v)}


def test_every_reader_returns_the_live_rows(spark, table):
    rows = _expected()
    cases = [
        ("read_snapshot", M.read_snapshot(spark, table), rows),
        (
            "read_pruned",
            M.read_pruned(spark, table, "k", 0, 499),
            _where(rows, lambda k, y, w: k <= 499),
        ),
        (
            "read_pruned_two_tier",
            M.read_pruned_two_tier(spark, table, "k", 0, 499),
            _where(rows, lambda k, y, w: k <= 499),
        ),
        (
            "read_pruned_stats",
            FS.read_pruned_stats(spark, table, "w", 0, 1497),
            _where(rows, lambda k, y, w: w <= 1497),
        ),
        (
            "read_pruned_rect",
            FS.read_pruned_rect(spark, table, ("k", 0, 499), ("w", 300, 900)),
            _where(rows, lambda k, y, w: k <= 499 and 300 <= w <= 900),
        ),
    ]
    for k in (15, 150, 305, 700):  # tombstoned, DV-deleted, upserted, live
        cases.append(
            (
                f"point_lookup w={3 * k}",
                FS.point_lookup(spark, table, "w", 3 * k),
                _where(rows, lambda k_, y, w, k=k: k_ == k),
            )
        )
    got = {name: _got(df) for name, df, _ in cases}
    assert got == {name: want for name, _, want in cases}
    # a band no file overlaps: no rows, the snapshot's logical schema
    assert _got(M.read_pruned(spark, table, "k", 10**6, 10**7)) == {}
    assert _got(M.read_pruned_two_tier(spark, table, "k", 10**6, 10**7)) == {}
    # time travel before the rename reads the old name
    assert M.read_snapshot(spark, table, 4).columns == ["k", "x", "w"]


def test_read_staged_returns_the_live_rows(spark, table):
    sv = M.stage_snapshot(
        _frame(spark, N, N + 10).withColumnRenamed("x", "y"), table, "k"
    )
    try:
        want = dict(_expected())
        want.update({k: (2 * k, 3 * k) for k in range(N, N + 10)})
        assert _got(M.read_staged(spark, table, sv)) == want
    finally:
        M.abort_staged(spark, table, sv)


def test_writes_resolve_the_renamed_column(spark, tmp_path):
    d = str(tmp_path / "t")
    M.write_manifest_table(_frame(spark, 0, 200), d, "k", num_files=4)
    M.delete_from_snapshot(
        spark, d, "k", spark.range(10, 30).select(F.col("id").alias("k"))
    )
    M.rename_column(spark, d, "x", "y")
    rows = {k: (2 * k, 3 * k) for k in range(200) if not 10 <= k < 30}
    P.delete_where(spark, d, "y < 80")
    rows = _where(rows, lambda k, y, w: y >= 80)
    assert _got(M.read_snapshot(spark, d)) == rows
    updates = _frame(spark, 90, 110, x=-2).withColumnRenamed("x", "y")
    M.merge_snapshot(spark, d, "k", updates)
    rows.update({k: (-2, 3 * k) for k in range(90, 110)})
    assert _got(M.read_snapshot(spark, d)) == rows
    assert _got(M.read_pruned(spark, d, "k", 0, 99)) == _where(
        rows, lambda k, y, w: k <= 99
    )
