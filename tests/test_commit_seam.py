"""Every table commit goes through one seam, ``manifest._commit``: it
claims version N, writes under the claim and, on failure, backs out
everything N owns (``manifest._version_paths``) and releases the
claim. These cases fail each commit at one point — its manifest write,
at the ``pyarrow.parquet.write_table`` level — and check that the table
is left as it was: the original error surfaces, no artifact of N and no
claim on N remain, the latest read returns the pre-commit rows, and the
next commit lands N. A second case per commit plants its manifest
target first: a claimed version whose target exists is a crashed
writer's wreckage, and every commit reports it as ``CommitConflict``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import ml_pipelines_spark.operators.filestats as FS
import ml_pipelines_spark.operators.manifest as M
import ml_pipelines_spark.operators.partspec as PS
import ml_pipelines_spark.operators.posdeletes as P
from ml_pipelines_spark.operators.claims import get_claim_backend


def _rows(spark, lo, hi, mult=2):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * mult).alias("val")
    )


def _spec_rows(spark):
    return _rows(spark, 0, 60).withColumn(
        "s", (F.col("k") % 2).cast("string")
    )


# each commit of a manifest table, run against a table at v=1 (two
# 50-row files, so compact_small_files has small files to rewrite)
_MANIFEST_COMMITS = {
    "write_manifest_table": lambda s, t: M.write_manifest_table(
        _rows(s, 100, 120), t, "k", num_files=1
    ),
    "append_snapshot": lambda s, t: M.append_snapshot(
        _rows(s, 100, 120), t, "k", num_files=1
    ),
    "merge_snapshot": lambda s, t: M.merge_snapshot(
        s, t, "k", _rows(s, 40, 60, 9), num_files=1
    ),
    "compact_small_files": lambda s, t: M.compact_small_files(
        s, t, "k", target_rows=200
    ),
    "delete_from_snapshot": lambda s, t: M.delete_from_snapshot(
        s, t, "k", _rows(s, 0, 10)
    ),
    "add_column": lambda s, t: M.add_column(s, t, "c", "int"),
    "restore_snapshot": lambda s, t: M.restore_snapshot(s, t, 1),
    "stage_snapshot": lambda s, t: M.stage_snapshot(
        _rows(s, 100, 120), t, "k", num_files=1
    ),
    "delete_where": lambda s, t: P.delete_where(s, t, "k < 10"),
    "merge_on_read": lambda s, t: P.merge_on_read(
        s, t, _rows(s, 40, 60, 9), "k", num_files=1
    ),
    "write_manifest_table_zordered": (
        lambda s, t: FS.write_manifest_table_zordered(
            _rows(s, 100, 120), t, "k", "val", num_files=1
        )
    ),
}

_SPEC_COMMITS = {
    "write_spec_snapshot": lambda s, t: PS.write_spec_snapshot(
        _spec_rows(s), t, ["s"]
    ),
    "compact_spec_snapshot": lambda s, t: PS.compact_spec_snapshot(s, t),
}


def _table(spark, tmp_path, name):
    """A manifest table at v=1; a restore needs an earlier version, so
    its table gets a v=2."""
    t = str(tmp_path / "t")
    M.write_manifest_table(_rows(spark, 0, 100), t, "k", num_files=2)
    if name == "restore_snapshot":
        M.append_snapshot(_rows(spark, 100, 110), t, "k", num_files=1)
    return t


def _live(spark, t):
    return sorted(tuple(r) for r in M.read_snapshot(spark, t).collect())


def _assert_backed_out(spark, t, n, manifest_dir="_manifest"):
    appended, targets = M._version_paths(t, n, manifest_dir)
    assert [p for p in appended + targets if os.path.exists(p)] == []
    assert not get_claim_backend().holds(spark, t, f"v={n}")


@pytest.mark.parametrize("name", sorted(_MANIFEST_COMMITS))
def test_failed_commit_leaves_the_table_as_it_was(
    spark, tmp_path, fail_next_parquet_write, name
):
    t = _table(spark, tmp_path, name)
    n = M.versions(spark, t)[-1] + 1
    before = _live(spark, t)
    fail_next_parquet_write["on"] = True
    with pytest.raises(OSError, match="injected"):
        _MANIFEST_COMMITS[name](spark, t)
    assert not fail_next_parquet_write["on"]  # the injection fired
    _assert_backed_out(spark, t, n)
    assert _live(spark, t) == before
    # the next commit takes N; a stranded delete sidecar of N would
    # activate under it and change the rows
    nothing = _rows(spark, -1, 0)
    assert M.delete_from_snapshot(spark, t, "k", nothing) == n
    assert _live(spark, t) == before


@pytest.mark.parametrize("name", sorted(_MANIFEST_COMMITS))
def test_existing_target_is_a_commit_conflict(spark, tmp_path, name):
    t = _table(spark, tmp_path, name)
    n = M.versions(spark, t)[-1] + 1
    target = "_staged_manifest" if name == "stage_snapshot" else "_manifest"
    # a crashed writer's half-written manifest: a directory holding
    # only a hidden temp file
    os.makedirs(f"{t}/{target}/v={n}")
    open(f"{t}/{target}/v={n}/.part-00000-x.parquet.tmp", "wb").close()
    with pytest.raises(M.CommitConflict, match="sweep_orphan_versions"):
        _MANIFEST_COMMITS[name](spark, t)
    assert os.path.isdir(f"{t}/{target}/v={n}")  # not ours to delete
    for sidecar in ("_deletes", "_posdeletes"):
        assert not os.path.exists(f"{t}/{sidecar}/v={n}")
    assert not get_claim_backend().holds(spark, t, f"v={n}")


def _spec_table(spark, tmp_path):
    t = str(tmp_path / "spec")
    PS.write_spec_snapshot(_spec_rows(spark), t, ["s"])
    return t


def _spec_live(spark, t):
    return sorted(
        tuple(r) for r in PS.read_spec_pruned(spark, t, {}).collect()
    )


@pytest.mark.parametrize("name", sorted(_SPEC_COMMITS))
def test_failed_spec_commit_leaves_the_table_as_it_was(
    spark, tmp_path, fail_next_parquet_write, name
):
    t = _spec_table(spark, tmp_path)
    before = _spec_live(spark, t)
    fail_next_parquet_write["on"] = True
    with pytest.raises(OSError, match="injected"):
        _SPEC_COMMITS[name](spark, t)
    assert not fail_next_parquet_write["on"]
    _assert_backed_out(spark, t, 2, "_specmanifest")
    assert _spec_live(spark, t) == before
    assert _SPEC_COMMITS[name](spark, t) == 2


@pytest.mark.parametrize("name", sorted(_SPEC_COMMITS))
def test_existing_spec_target_is_a_commit_conflict(spark, tmp_path, name):
    t = _spec_table(spark, tmp_path)
    os.makedirs(f"{t}/_specmanifest/v=2")
    with pytest.raises(M.CommitConflict, match="sweep_orphan_versions"):
        _SPEC_COMMITS[name](spark, t)
    assert os.path.isdir(f"{t}/_specmanifest/v=2")
    assert not get_claim_backend().holds(spark, t, "v=2")


def test_failed_clone_leaves_no_table(
    spark, tmp_path, fail_next_parquet_write
):
    # shallow_clone refuses a target that holds a manifest before it
    # claims, so its target cannot exist under the claim; only the
    # failure case applies
    src = _table(spark, tmp_path, "shallow_clone")
    dst = str(tmp_path / "clone")
    fail_next_parquet_write["on"] = True
    with pytest.raises(OSError, match="injected"):
        M.shallow_clone(spark, src, dst)
    assert not os.path.exists(f"{dst}/_manifest")
    assert not get_claim_backend().holds(spark, dst, "v=1")
    assert M.shallow_clone(spark, src, dst) == 1
    assert _live(spark, dst) == _live(spark, src)


def test_sweep_of_a_spec_table_clears_only_its_orphans(spark, tmp_path):
    # a spec table has no _manifest: its latest version comes from
    # _specmanifest, and a crashed writer's v=2 owns v=2 and
    # _specmanifest/v=2 — committed versions must survive the sweep
    t = _spec_table(spark, tmp_path)
    before = _spec_live(spark, t)
    _spec_rows(spark).write.parquet(f"{t}/v=2")
    os.makedirs(f"{t}/_specmanifest/v=2")
    assert M._claim_version(spark, t, 2)
    assert M.sweep_orphan_versions(spark, t) == [2]
    _assert_backed_out(spark, t, 2, "_specmanifest")
    assert _spec_live(spark, t) == before
    assert _SPEC_COMMITS["write_spec_snapshot"](spark, t) == 2
