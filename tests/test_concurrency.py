"""Concurrent-writer torture for the table layer (VERDICT r08 item 5).

Two unstaged writers racing `append_snapshot`/`merge_snapshot` to the
same version id must resolve like Iceberg's optimistic commit: the
data-directory write IS the version claim (errorifexists), the loser
re-reads latest and retries (appends commute; merges RE-PLAN against
the advanced manifest), and no snapshot is lost. A crashed writer's
claimed-but-unmanifested directory is the one thing that wedges the
claim — `sweep_orphan_versions` clears it.

The race is simulated deterministically: writer B's first `versions()`
read is forced stale (monkeypatched to the value it would have read
before writer A committed), so B's first claim collides exactly as a
real interleaving would.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ml_pipelines_spark.operators import manifest as M
from ml_pipelines_spark.operators.manifest import (
    CommitConflict,
    append_snapshot,
    merge_snapshot,
    publish_branch,
    read_snapshot,
    stage_branch,
    sweep_orphan_versions,
    versions,
    write_manifest_table,
)


@pytest.fixture()
def table(spark):
    out = tempfile.mkdtemp(prefix="concurrency_test_")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("val")
    )
    write_manifest_table(base, out, "k", num_files=2)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _rows(spark, lo, hi, mult=2):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * mult).alias("val")
    )


def _stale_versions_once(monkeypatch, stale: list[int]):
    """Force the next versions() call to return a stale snapshot list —
    the read a slow writer took before a fast writer committed."""
    real = M.versions
    state = {"used": False}

    def fake(spark, path):
        if not state["used"]:
            state["used"] = True
            return list(stale)
        return real(spark, path)

    monkeypatch.setattr(M, "versions", fake)


def test_append_claim_collision_retries(spark, table, monkeypatch):
    # Writer A commits v=2 normally.
    assert append_snapshot(_rows(spark, 100, 150), table, "k") == 2
    # Writer B read versions() BEFORE A committed (stale [1]), so its
    # first claim targets v=2 and loses the errorifexists race; the
    # retry re-reads latest and lands v=3. No snapshot lost.
    _stale_versions_once(monkeypatch, [1])
    assert append_snapshot(_rows(spark, 200, 250), table, "k") == 3
    assert versions(spark, table) == [1, 2, 3]
    assert read_snapshot(spark, table).count() == 200
    # every committed version has a matching manifest (consistency)
    assert sweep_orphan_versions(spark, table) == []


def test_merge_claim_collision_replans(spark, table, monkeypatch):
    # Writer A merges an upsert of keys 0-9 (val*10), landing v=2.
    assert merge_snapshot(spark, table, "k", _rows(spark, 0, 10, 10)) == 2
    # Writer B planned its merge against the PRE-A manifest; the claim
    # for v=2 collides and the retry must RE-PLAN from v=2 — otherwise
    # it would rewrite A's files from stale inputs and resurrect the
    # old values of keys 0-9.
    stale_manifest = M._manifest_rows(spark, table, 1)

    real_rows = M._manifest_rows
    state = {"used": False}

    def fake_rows(spark_, path_, version_):
        if not state["used"] and version_ is None:
            state["used"] = True
            return stale_manifest
        return real_rows(spark_, path_, version_)

    monkeypatch.setattr(M, "_manifest_rows", fake_rows)
    assert merge_snapshot(spark, table, "k", _rows(spark, 50, 60, 100)) == 3
    out = {
        r["k"]: r["val"] for r in read_snapshot(spark, table).collect()
    }
    assert len(out) == 100
    assert out[5] == 50  # A's upsert survived B's re-planned rewrite
    assert out[55] == 5500  # B's upsert applied
    assert out[80] == 160  # untouched keys intact


def test_append_conflict_exhausts_retries_on_orphan(spark, table, monkeypatch):
    # A crashed writer claimed v=2 (data dir present) but never wrote
    # its manifest: the loser waits for the claim to resolve, times out
    # (shrunk for the test), and must fail with a clear CommitConflict,
    # not a raw path error.
    monkeypatch.setattr(M, "_CLAIM_WAIT_S", 0.5)
    _rows(spark, 100, 110).write.parquet(f"{table}/v=2")
    with pytest.raises(CommitConflict, match="sweep_orphan_versions"):
        append_snapshot(_rows(spark, 100, 150), table, "k")
    # The sweep clears exactly the orphan, after which the append lands.
    assert sweep_orphan_versions(spark, table) == [2]
    assert append_snapshot(_rows(spark, 100, 150), table, "k") == 2
    assert read_snapshot(spark, table).count() == 150


def test_failed_merge_plan_releases_its_claim(spark, table, monkeypatch):
    # The merge claims v=2, then its plan fails analysis (the updates
    # carry a column the table lacks). The failure must release the
    # claim: the next append commits v=2 instead of waiting out the
    # held claim and raising CommitConflict.
    from pyspark.errors import AnalysisException

    monkeypatch.setattr(M, "_CLAIM_WAIT_S", 0.5)
    bad = _rows(spark, 10, 20).withColumn("extra", F.lit(1))
    with pytest.raises(AnalysisException):
        merge_snapshot(spark, table, "k", bad)
    assert versions(spark, table) == [1]
    assert append_snapshot(_rows(spark, 100, 110), table, "k") == 2
    assert read_snapshot(spark, table).count() == 110


def test_publish_branch_rename_loser_gets_conflict(spark, table, monkeypatch):
    # Both branches validate against latest=1, both target v=2; the
    # rename loser must receive a retryable "conflict", not an IOError.
    stage_branch(_rows(spark, 100, 150), table, "k", "a")
    stage_branch(_rows(spark, 200, 240), table, "k", "b")
    assert publish_branch(spark, table, "a") == (2, "published")
    # Force b's publish to validate against a STALE latest (pre-a), so
    # it proceeds to claim v=2 — exactly the two-publisher race.
    _stale_versions_once(monkeypatch, [1])
    assert publish_branch(spark, table, "b") == (None, "conflict")
    # branch b stayed staged; a plain retry now validates against the
    # real latest and rebases onto v=3.
    assert publish_branch(spark, table, "b") == (3, "rebased")
    assert read_snapshot(spark, table).count() == 190


def test_stage_branch_rejects_empty(spark, table):
    empty = _rows(spark, 0, 10).filter(F.lit(False))
    with pytest.raises(ValueError, match="empty branch"):
        stage_branch(empty, table, "k", "nothing")
    # the aborted stage left no branch dir behind
    import os

    assert not os.path.exists(f"{table}/_branches/nothing")


def test_string_keyed_branch_publishes(spark, table):
    # ADVICE r08: publish_branch hardcoded bigint zone-map bounds; a
    # string-keyed table must stage AND publish with string bounds.
    out = tempfile.mkdtemp(prefix="concurrency_strkey_")
    try:
        base = spark.range(0, 50).select(
            F.format_string("key_%03d", F.col("id")).alias("k"),
            F.col("id").alias("val"),
        )
        write_manifest_table(base, out, "k", num_files=2)
        more = spark.range(50, 80).select(
            F.format_string("key_%03d", F.col("id")).alias("k"),
            F.col("id").alias("val"),
        )
        stage_branch(more, out, "k", "s")
        assert publish_branch(spark, out, "s") == (2, "published")
        snap = read_snapshot(spark, out)
        assert snap.count() == 80
        man = spark.read.parquet(f"{out}/_manifest").filter(F.col("v") == 2)
        kinds = {f.dataType.simpleString() for f in man.schema.fields
                 if f.name in ("min_v", "max_v")}
        assert kinds == {"string"}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_sweep_spares_staged_wap_snapshots(spark, table):
    # A write-audit-publish stage parks data under an unmanifested v=
    # dir BY DESIGN — the orphan sweep must not destroy pending stages,
    # only claims with neither a manifest nor a staged manifest.
    from ml_pipelines_spark.operators.manifest import (
        publish_staged,
        read_staged,
        stage_snapshot,
    )

    sv = stage_snapshot(_rows(spark, 100, 130), table, "k", num_files=1)
    # a genuine orphan above the stage
    _rows(spark, 500, 510).write.parquet(f"{table}/v={sv + 1}")
    assert sweep_orphan_versions(spark, table) == [sv + 1]
    # the stage survived and still audits + publishes
    assert read_staged(spark, table, sv).count() == 130
    assert publish_staged(spark, table, sv) == sv
    assert read_snapshot(spark, table).count() == 130


def test_sweep_never_touches_dirs_at_or_below_latest(spark, table):
    # Regression (round-9 review finding, reproduced live): after
    # expire_snapshots, the latest manifest can reference files that
    # physically live under an EXPIRED version's directory (appends are
    # metadata-only). The sweep must therefore never judge dirs at or
    # below latest by manifest presence — only claims ABOVE latest are
    # orphans.
    from ml_pipelines_spark.operators.manifest import expire_snapshots

    append_snapshot(_rows(spark, 100, 150), table, "k")  # v2 carries v1 files
    expire_snapshots(spark, table, keep_last=1)  # v1 manifest gone,
    # but v2's manifest still references files under v=1
    assert sweep_orphan_versions(spark, table) == []
    assert read_snapshot(spark, table).count() == 150  # still readable
    # a genuine orphan above latest is still swept
    _rows(spark, 500, 510).write.parquet(f"{table}/v=9")
    assert sweep_orphan_versions(spark, table) == [9]
    assert read_snapshot(spark, table).count() == 150


def test_live_concurrent_appends_both_commit(spark, table):
    # A REAL race, not a simulated one: two threads append distinct
    # batches simultaneously. The atomic version claim (_claims/v=N,
    # one mkdir syscall) guarantees exactly one writer per version id;
    # the loser waits for the winner's manifest and retries. Both must
    # land, on distinct versions, with no rows lost.
    from concurrent.futures import ThreadPoolExecutor

    def writer(lo, hi):
        return append_snapshot(_rows(spark, lo, hi), table, "k")

    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(writer, 100, 150)
        f2 = ex.submit(writer, 200, 260)
        v1, v2 = f1.result(timeout=120), f2.result(timeout=120)
    assert sorted([v1, v2]) == [2, 3]
    assert versions(spark, table) == [1, 2, 3]
    assert read_snapshot(spark, table).count() == 210
    assert sweep_orphan_versions(spark, table) == []


def test_abort_staged_releases_its_claim(spark, table):
    # An aborted write-audit-publish stage must release its version
    # claim, or the next append would wedge on an id nobody holds.
    from ml_pipelines_spark.operators.manifest import (
        abort_staged,
        stage_snapshot,
    )

    sv = stage_snapshot(_rows(spark, 100, 130), table, "k", num_files=1)
    abort_staged(spark, table, sv)
    assert append_snapshot(_rows(spark, 300, 320), table, "k") == sv
    assert read_snapshot(spark, table).count() == 120


# ---------------------------------------------------------------------------
# Round-10: pluggable claim backends (VERDICT r09 item 2), release-on-
# failure (ADVICE r09), atomic tag-seq claims (ADVICE r09 medium), and
# existence-probed version bootstrap (VERDICT r09 item 3).
# ---------------------------------------------------------------------------
from ml_pipelines_spark.operators.claims import (  # noqa: E402
    CatalogClaimBackend,
    FileSystemClaimBackend,
    claim_backend,
)


def test_catalog_backend_cas_is_atomic(spark):
    # 16 threads race one (table, key) through the CAS catalog: exactly
    # one claim wins — the contract every backend must meet.
    from concurrent.futures import ThreadPoolExecutor

    b = CatalogClaimBackend()
    with ThreadPoolExecutor(max_workers=16) as ex:
        wins = list(
            ex.map(lambda _: b.claim(spark, "/t/x", "v=1"), range(16))
        )
    assert sum(wins) == 1
    assert b.held(spark, "/t/x") == ["v=1"]
    b.release(spark, "/t/x", "v=1")
    assert b.held(spark, "/t/x") == []
    assert b.claim(spark, "/t/x", "v=1")  # released ids are claimable


def test_filesystem_backend_uri_and_bare_path_share_markers(spark):
    # The marker is placed on the RESOLVED filesystem (ADVICE r09): a
    # file:// URI and the equivalent bare path must contend for the
    # same claim, not two different markers.
    out = tempfile.mkdtemp(prefix="claimfs_")
    try:
        b = FileSystemClaimBackend()
        assert b.claim(spark, out, "v=7")
        assert not b.claim(spark, f"file:{out}", "v=7")
        assert b.held(spark, out) == ["v=7"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_catalog_backend_full_commit_race(spark):
    # The whole table layer rides the injected CAS backend — the
    # object-store deployment shape: two live writers race appends with
    # the catalog arbitrating versions; both land, no rows lost.
    from concurrent.futures import ThreadPoolExecutor

    out = tempfile.mkdtemp(prefix="catalog_race_")
    try:
        with claim_backend(CatalogClaimBackend()) as cat:
            write_manifest_table(_rows(spark, 0, 100), out, "k", num_files=2)

            def writer(lo, hi):
                return append_snapshot(_rows(spark, lo, hi), out, "k")

            with ThreadPoolExecutor(max_workers=2) as ex:
                f1 = ex.submit(writer, 100, 150)
                f2 = ex.submit(writer, 200, 260)
                v1, v2 = f1.result(timeout=120), f2.result(timeout=120)
            assert sorted([v1, v2]) == [2, 3]
            assert read_snapshot(spark, out).count() == 210
            # committed claims live in the catalog, none above latest
            assert sweep_orphan_versions(spark, out) == []
            assert cat.held(spark, out) == ["v=1", "v=2", "v=3"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_transient_write_failure_releases_claim(spark, table):
    # ADVICE r09: a post-claim write failure that is NOT a lost race
    # (here: a UDF raising mid-job) must back out the claim and the
    # partial data dir — the next writer proceeds WITHOUT a manual
    # sweep_orphan_versions.
    from pyspark.sql.types import LongType

    @F.udf(returnType=LongType())
    def boom(x):
        raise ValueError("injected failure")

    bad = spark.range(5).select(
        F.col("id").alias("k"), boom(F.col("id")).alias("val")
    )
    with pytest.raises(Exception) as ei:
        append_snapshot(bad, table, "k")
    assert not isinstance(ei.value, CommitConflict)  # the REAL error
    # claim released + partial dir gone: a plain append lands at v=2
    assert append_snapshot(_rows(spark, 100, 150), table, "k") == 2
    assert read_snapshot(spark, table).count() == 150
    assert sweep_orphan_versions(spark, table) == []


def test_concurrent_tag_ops_mint_distinct_seqs(spark, table):
    # ADVICE r09 (medium): tag ops claim their _refs seq through the
    # atomic backend — concurrent tags must land on DISTINCT seqs so
    # resolution never depends on collect order (tags gate expire GC).
    from concurrent.futures import ThreadPoolExecutor

    from ml_pipelines_spark.operators.manifest import (
        list_tags,
        tag_snapshot,
    )

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(
            ex.map(
                lambda n: tag_snapshot(spark, table, f"tag{n}", 1),
                range(4),
            )
        )
    refs = spark.read.parquet(f"{table}/_refs").collect()
    seqs = [int(r["seq"]) for r in refs]
    assert len(seqs) == len(set(seqs)) == 4  # no duplicate seq rows
    assert list_tags(spark, table) == {f"tag{n}": 1 for n in range(4)}


def test_corrupt_manifest_raises_instead_of_forking_history(spark):
    # VERDICT r09 item 3: an EXISTING-but-unreadable _manifest must
    # raise, not be misread as "first snapshot" (which would fork a
    # parallel v=1 history over live data).
    import os

    out = tempfile.mkdtemp(prefix="corrupt_manifest_")
    try:
        os.makedirs(f"{out}/_manifest")  # exists, holds nothing
        with pytest.raises(Exception):
            write_manifest_table(_rows(spark, 0, 10), out, "k")
        assert not os.path.exists(f"{out}/v=1")  # nothing bootstrapped
        # same guard on the spec-table writer (partspec bootstrap site)
        from ml_pipelines_spark.operators.partspec import (
            write_spec_snapshot,
        )

        os.makedirs(f"{out}/_specmanifest")
        df = _rows(spark, 0, 10).withColumn("status", F.lit("ok"))
        with pytest.raises(Exception):
            write_spec_snapshot(df, out, ["status"])
        # and on the z-ordered writer (filestats bootstrap site)
        from ml_pipelines_spark.operators.filestats import (
            write_manifest_table_zordered,
        )

        with pytest.raises(Exception):
            write_manifest_table_zordered(
                _rows(spark, 0, 10), out, "k", "val"
            )
        assert not os.path.exists(f"{out}/v=1")
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# Stranded delete-sidecar hazard (round 10, second session). Tombstone
# and DV sidecars are written BEFORE their manifest (the claim makes
# them invisible meanwhile) — so every path that releases a claim
# without a manifest MUST purge the sidecar partition, or the next
# committed v=N silently activates it: rows deleted that no committed
# operation asked to delete.
# ---------------------------------------------------------------------------
def test_delete_from_snapshot_lost_claim_conflicts(spark, table):
    import glob

    assert M._claim_version(spark, table, 2)  # another writer holds v=2
    try:
        with pytest.raises(CommitConflict):
            M.delete_from_snapshot(
                spark, table, "k", _rows(spark, 0, 10)
            )
        assert glob.glob(f"{table}/_deletes/v=*") == []
    finally:
        M._release_claim(spark, table, 2)
    # after the winner releases, the retry commits normally
    assert (
        M.delete_from_snapshot(spark, table, "k", _rows(spark, 0, 10))
        == 2
    )
    assert read_snapshot(spark, table).count() == 90


def test_merge_on_read_lost_claim_conflicts(spark, table):
    import glob

    from ml_pipelines_spark.operators.posdeletes import merge_on_read

    upd = _rows(spark, 0, 10, mult=9)
    assert M._claim_version(spark, table, 2)
    try:
        with pytest.raises(CommitConflict):
            merge_on_read(spark, table, upd, "k")
        assert glob.glob(f"{table}/_posdeletes/v=*") == []
        assert not __import__("os").path.exists(f"{table}/v=2")
    finally:
        M._release_claim(spark, table, 2)
    assert merge_on_read(spark, table, upd, "k") == 2
    got = read_snapshot(spark, table)
    assert got.count() == 100
    assert got.filter(F.col("k") < 10).agg(
        F.sum("val")
    ).collect()[0][0] == sum(9 * k for k in range(10))


def test_failed_tombstone_commit_purges_sidecar(spark, table, monkeypatch):
    # manifest write fails AFTER the tombstone sidecar landed: the
    # purge must remove _deletes/v=2 before the claim is released, and
    # the NEXT committed v=2 must lose no rows
    import glob

    keys = _rows(spark, 0, 50)
    with monkeypatch.context() as m:

        def boom(*a, **kw):
            raise RuntimeError("injected manifest failure")

        m.setattr(M.sidecars, "write", boom)
        with pytest.raises(RuntimeError, match="injected"):
            M.delete_from_snapshot(spark, table, "k", keys)
    assert glob.glob(f"{table}/_deletes/v=*") == []
    # v=2 commits as a plain append — none of the 100 base rows may die
    assert append_snapshot(_rows(spark, 100, 150), table, "k") == 2
    assert read_snapshot(spark, table).count() == 150


def test_failed_dv_commit_purges_sidecar(spark, table, monkeypatch):
    import glob

    from ml_pipelines_spark.operators.posdeletes import delete_where

    with monkeypatch.context() as m:

        def boom(*a, **kw):
            raise RuntimeError("injected manifest failure")

        m.setattr(M.sidecars, "write", boom)
        with pytest.raises(RuntimeError, match="injected"):
            delete_where(spark, table, "k < 50")
    assert glob.glob(f"{table}/_posdeletes/v=*") == []
    assert append_snapshot(_rows(spark, 100, 150), table, "k") == 2
    assert read_snapshot(spark, table).count() == 150


def test_sweep_purges_stranded_delete_sidecars(spark, table):
    # a CRASHED writer (no live except path) left sidecar partitions +
    # a claim above latest but no manifest: sweep must clear all three,
    # and the next committed v=2 must not inherit the dead rows
    import glob
    import os

    spark.range(0, 50).select(F.col("id").alias("k")).coalesce(
        1
    ).write.parquet(f"{table}/_deletes/v=2")
    files = [
        r["file"]
        for r in spark.read.parquet(f"{table}/_manifest").collect()
    ]
    spark.createDataFrame(
        [(files[0], 0, 10)], "file string, pos_start bigint, pos_end bigint"
    ).coalesce(1).write.parquet(f"{table}/_posdeletes/v=2")
    assert M._claim_version(spark, table, 2)
    swept = sweep_orphan_versions(spark, table)
    assert 2 in swept
    assert glob.glob(f"{table}/_deletes/v=*") == []
    assert glob.glob(f"{table}/_posdeletes/v=*") == []
    assert not os.path.exists(f"{table}/v=2")
    assert append_snapshot(_rows(spark, 100, 150), table, "k") == 2
    assert read_snapshot(spark, table).count() == 150


def test_sweep_spares_committed_sidecar_partitions(spark, table):
    # sidecars AT or BELOW latest belong to committed versions — sweep
    # must never touch them
    import glob

    from ml_pipelines_spark.operators.posdeletes import delete_where

    delete_where(spark, table, "k < 20")  # commits v=2 with a DV
    M.delete_from_snapshot(
        spark, table, "k", _rows(spark, 90, 100)
    )  # v=3 tombstones
    assert sweep_orphan_versions(spark, table) == []
    assert len(glob.glob(f"{table}/_posdeletes/v=*")) == 1
    assert len(glob.glob(f"{table}/_deletes/v=*")) == 1
    assert read_snapshot(spark, table).count() == 70


def _sweep_at_commit_point(monkeypatch):
    """Simulate sweep_orphan_versions landing at the WORST moment: after
    the writer's sidecar partition is written, immediately before its
    manifest write — the sweep deletes the partition and releases the
    claim (ADVICE r10)."""
    real = M._verify_sidecar_before_commit

    def sabotage(spark_, path, sidecar, version, **kw):
        fs, jvm = M._fs(spark_, path)
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{path}/{sidecar}/v={version}"),
            True,
        )
        M._release_claim(spark_, path, version)
        real(spark_, path, sidecar, version, **kw)

    monkeypatch.setattr(M, "_verify_sidecar_before_commit", sabotage)


def test_delete_commit_survives_sweep_race_loudly(spark, table, monkeypatch):
    # a tombstone delete whose sidecar a concurrent sweep destroyed
    # must FAIL LOUDLY, never commit a silent no-op delete
    from ml_pipelines_spark.operators.manifest import delete_from_snapshot

    _sweep_at_commit_point(monkeypatch)
    dels = spark.range(10, 20).select(F.col("id").alias("k"))
    with pytest.raises(CommitConflict):
        delete_from_snapshot(spark, table, "k", dels)
    # no manifest landed; the table still reads ALL rows
    assert versions(spark, table) == [1]
    assert read_snapshot(spark, table).count() == 100


def test_merge_on_read_survives_sweep_race_loudly(spark, table, monkeypatch):
    from ml_pipelines_spark.operators.posdeletes import merge_on_read

    _sweep_at_commit_point(monkeypatch)
    upd = spark.range(10, 15).select(
        F.col("id").alias("k"), F.lit(-1).alias("val")
    )
    with pytest.raises(CommitConflict):
        merge_on_read(spark, table, upd, "k")
    assert versions(spark, table) == [1]
    got = {r.k: r.val for r in read_snapshot(spark, table).collect()}
    assert got == {k: k * 2 for k in range(100)}


def test_delete_where_survives_sweep_race_loudly(spark, table, monkeypatch):
    from ml_pipelines_spark.operators.posdeletes import delete_where

    _sweep_at_commit_point(monkeypatch)
    with pytest.raises(CommitConflict):
        delete_where(spark, table, "k >= 90")
    assert versions(spark, table) == [1]
    assert read_snapshot(spark, table).count() == 100


# ---------------------------------------------------------------------------
# One commit seam (manifest._commit): a failed commit backs out
# everything its version owns, the half-written manifest directory
# included, and sweep_orphan_versions clears the same list for a
# crashed writer. The failure is injected where it happens in
# production — inside sidecars.write, after it created the version's
# manifest directory — not by replacing sidecars.write whole.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("commit", ["append", "delete", "restore"])
def test_failed_manifest_write_does_not_wedge_the_table(
    spark, table, fail_next_parquet_write, commit
):
    import os

    from ml_pipelines_spark.operators.claims import get_claim_backend

    append_snapshot(_rows(spark, 100, 150), table, "k")  # v=2
    run = {
        "append": lambda: append_snapshot(_rows(spark, 200, 210), table, "k"),
        "delete": lambda: M.delete_from_snapshot(
            spark, table, "k", _rows(spark, 0, 10)
        ),
        "restore": lambda: M.restore_snapshot(spark, table, 1),
    }[commit]
    fail_next_parquet_write["on"] = True
    with pytest.raises(OSError, match="injected"):
        run()
    assert not os.path.exists(f"{table}/_manifest/v=3")
    assert not get_claim_backend().holds(spark, table, "v=3")
    assert versions(spark, table) == [1, 2]
    # neither the next append nor the next delete is wedged
    assert append_snapshot(_rows(spark, 300, 310), table, "k") == 3
    keys = _rows(spark, 0, 10)
    assert M.delete_from_snapshot(spark, table, "k", keys) == 4
    assert read_snapshot(spark, table).count() == 150


def test_sweep_clears_a_half_written_manifest(spark, table):
    # a driver that crashed inside sidecars.write left _manifest/v=2/
    # holding only a hidden temp file: no committed version, but a
    # target every later commit of v=2 collides with
    import os

    os.makedirs(f"{table}/_manifest/v=2")
    open(f"{table}/_manifest/v=2/.part-00000-x.parquet.tmp", "wb").close()
    assert versions(spark, table) == [1]
    assert sweep_orphan_versions(spark, table) == [2]
    assert not os.path.exists(f"{table}/_manifest/v=2")
    assert append_snapshot(_rows(spark, 100, 150), table, "k") == 2
    assert read_snapshot(spark, table).count() == 150


@pytest.mark.parametrize(
    "error", [PermissionError, M.sidecars.UnsupportedFilesystemError]
)
def test_sweep_raises_when_the_manifest_listing_fails(
    spark, table, monkeypatch, error
):
    # a listing that fails (a transient store error, a scheme pyarrow
    # cannot open) is not "no committed version": read as latest 0, it
    # would sweep every committed version of the table
    import os

    assert append_snapshot(_rows(spark, 100, 150), table, "k") == 2
    assert M.delete_from_snapshot(spark, table, "k", _rows(spark, 0, 10)) == 3
    owned = [
        f"{table}/{d}"
        for d in ("v=1", "v=2", "_manifest/v=1", "_manifest/v=2",
                  "_manifest/v=3", "_deletes/v=3")
    ]
    assert all(os.path.exists(p) for p in owned)

    def fail(*a, **k):
        raise error("listing failed")

    monkeypatch.setattr(M.sidecars, "committed_versions", fail)
    with pytest.raises(error, match="listing failed"):
        sweep_orphan_versions(spark, table)
    monkeypatch.undo()
    assert all(os.path.exists(p) for p in owned)
    assert versions(spark, table) == [1, 2, 3]
    assert read_snapshot(spark, table).count() == 140


def test_failed_first_commit_leaves_no_manifest_dir(
    spark, fail_next_parquet_write
):
    # an empty _manifest reads as a corrupt table (see
    # test_corrupt_manifest_raises_instead_of_forking_history): a back-
    # out of v=1 must not leave one behind
    import os

    out = tempfile.mkdtemp(prefix="first_commit_")
    try:
        fail_next_parquet_write["on"] = True
        with pytest.raises(OSError, match="injected"):
            write_manifest_table(_rows(spark, 0, 10), out, "k")
        assert not os.path.exists(f"{out}/_manifest")
        assert write_manifest_table(_rows(spark, 0, 10), out, "k") == 1
        assert read_snapshot(spark, out).count() == 10
    finally:
        shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize(
    "case", ["bogus_curve", "empty_frame", "missing_column"]
)
def test_zordered_failures_release_their_claim(
    spark, table, monkeypatch, case
):
    from pyspark.errors import AnalysisException

    from ml_pipelines_spark.operators.claims import get_claim_backend
    from ml_pipelines_spark.operators.filestats import (
        write_manifest_table_zordered as zordered,
    )

    monkeypatch.setattr(M, "_CLAIM_WAIT_S", 0.5)
    rows = _rows(spark, 100, 150)
    call, err = {
        "bogus_curve": (
            lambda: zordered(rows, table, "k", "val", curve="bogus"),
            ValueError,
        ),
        "empty_frame": (
            lambda: zordered(rows.filter(F.lit(False)), table, "k", "val"),
            TypeError,
        ),
        "missing_column": (
            lambda: zordered(rows, table, "k", "nope"),
            AnalysisException,
        ),
    }[case]
    with pytest.raises(err):
        call()
    assert "v=2" not in get_claim_backend().held(spark, table)
    assert append_snapshot(_rows(spark, 100, 150), table, "k") == 2
    assert read_snapshot(spark, table).count() == 150
