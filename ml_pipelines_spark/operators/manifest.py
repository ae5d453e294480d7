"""Manifest-based file skipping with versioned snapshots — a minimal
Iceberg/Delta-style table layer over parquet directories.

At 100 TB the scan-planning cost itself matters: listing a huge
directory and opening every parquet footer to evaluate min/max is an
O(files) metadata storm per query. Table formats fix this by keeping a
MANIFEST — one small table of per-file column bounds — so planning
reads one object and prunes files before the FileIndex ever sees them.
And because each write lands as a new immutable SNAPSHOT with its own
manifest, readers get time travel and writers never disturb a running
query. This module implements that contract natively in Spark:

- ``write_manifest_table``: each call appends snapshot ``v=N`` (data
  files under ``<path>/v=N/``, zone map under
  ``<path>/_manifest/v=N/``). Data is range-laid-out on a sort column
  (repartitionByRange + sortWithinPartitions, so each file owns a
  tight value interval); the per-file (min, max, rows) map is derived
  in ONE distributed pass over the just-written files
  (``input_file_name()`` + groupBy). ``_manifest`` is an underscore
  path, which Spark's FileIndex ignores for data reads (the
  ``_delta_log`` convention).
- ``read_pruned``: load one snapshot's manifest (file-count rows,
  driver-side), keep files whose [min, max] interval overlaps the
  predicate band, and read ONLY those, re-applying the band as a
  residual filter for exactness. Files the band misses are never
  opened — not even their footers. ``version=None`` reads the latest
  snapshot; any earlier version stays readable forever (time travel).

The residual filter makes correctness independent of HOW files were
assigned (range-boundary sampling is not deterministic); the manifest
affects only which files can be skipped, never the result.

One reader serves every snapshot read: ``_read_live`` takes a file
list and an optional residual predicate, and every reader — the full
and pruned reads, the two-tier read, the staged audit read, the
secondary-stats and bloom reads of ``operators.filestats`` — and every
rewrite (``merge_snapshot``, the compactors, ``merge_on_read``'s victim
scan) goes through it. So every reader honours tombstones and DV runs
and replays schema events; planning differs only in which files it
keeps.

Metadata is a driver-side file operation: every metadata sidecar
(manifests, tags, restores, schema events, the manifest list, staged
and branch manifests) is listed, read and written through
``operators.sidecars`` (``pyarrow.fs``) — a tag, an ALTER or a RESTORE
runs no Spark job. Spark jobs are spent on data: the data writes, the
one zone-map aggregate per commit, and the data-sized ``_deletes`` /
``_posdeletes`` sidecars.

Scale bound, stated: planning reads the manifest on the driver —
O(files) rows of a few hundred bytes. That holds comfortably to ~10^6
files per snapshot (the compactor exists precisely to keep file counts
there); past that, ``build_manifest_list`` adds the manifest-of-
manifests tier (Iceberg manifest lists): the manifest itself is
range-sharded and a tiny per-shard bounds table lets
``read_pruned_two_tier`` plan a band read touching only the metadata
shards the band overlaps — the same zone-map trick one level up.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sidecars
from .claims import _fs
from .posdeletes import (
    _LOCAL_RUNS_MAX,
    _apply_pos_deletes,
    _pos_delete_runs,
    _strip_positions,
    _with_positions,
)


class CommitConflict(RuntimeError):
    """An optimistic commit lost its version-claim race and exhausted
    its retries (Iceberg's CommitFailedException shape). The table is
    consistent — the caller may re-plan and retry, or run
    ``sweep_orphan_versions`` if a crashed writer left an unmanifested
    ``v=N`` directory wedging the claim."""


# ---------------------------------------------------------------------------
# Driver-side metadata I/O. Every table format reads and writes its
# metadata tier on the DRIVER (Iceberg manifests, Delta's JSON log) — a
# distributed Spark job per few-row sidecar is pure scheduler latency.
# The table path is qualified once through the Hadoop config (a
# scheme-less path means the DEFAULT filesystem, which may be HDFS;
# ADVICE r9) and handed to ``operators.sidecars``. The data-sized
# delete sidecars (``_deletes``, ``_posdeletes``) are the one
# exception: above _DRIVER_METADATA_CAP bytes they keep the
# distributed read (metadata that outgrew the driver).
# ---------------------------------------------------------------------------
_DRIVER_METADATA_CAP = 64 * 1024 * 1024

# Delete-sidecar survivor sets at or below this row count enter plans
# as driver-local frames (zero probe jobs); bigger ones go back to the
# distributed scan — a LocalTableScan is single-partition, so a huge
# local anti-join build side would serialize. The same cap as the DV
# runs' (posdeletes._LOCAL_RUNS_MAX).
_LOCAL_SIDECAR_ROWS_MAX = _LOCAL_RUNS_MAX


def _qualified(spark: SparkSession, path: str) -> str:
    """``path`` qualified through the Hadoop configuration (scheme and
    authority made explicit, relative paths made absolute)."""
    fs, jvm = _fs(spark, path)
    return fs.makeQualified(jvm.org.apache.hadoop.fs.Path(path)).toString()


def _meta(spark: SparkSession, path: str):
    """(pyarrow FileSystem, root) of table ``path``. A scheme pyarrow
    cannot open raises ``sidecars.UnsupportedFilesystemError``."""
    return sidecars.resolve(_qualified(spark, path))


def _sidecar_rows(spark: SparkSession, path: str, name: str) -> list:
    """Rows of metadata sidecar ``<path>/<name>`` (hive partition
    directories become columns); raises when it holds no parquet."""
    fs, root = _meta(spark, path)
    return sidecars.read_table(fs, f"{root}/{name}").to_pylist()


def _driver_sidecar_table(
    spark: SparkSession, path: str, name: str, ts_mode: str = "local"
):
    """A sidecar as a pyarrow Table read in the driver — or None when
    it is above the size cap and the caller must use the distributed
    read (the data-sized delete sidecars). Raises when the directory holds no readable
    parquet (half-written metadata; callers' except-paths rely on it).

    ``ts_mode`` picks the timestamp convention (see
    ``_normalize_arrow_timestamps``): ``"local"`` (default) converts to
    process-local naive walls — the ``collect()`` convention, for
    ``to_pylist`` consumers whose values are compared against collected
    rows or re-enter via tuple ``createDataFrame``; ``"aware"`` casts to
    tz-aware UTC — for the ``to_pandas`` -> ``createDataFrame(pdf)``
    path, where Arrow interprets NAIVE walls in the session tz (not the
    process tz) and only aware values are unambiguous."""
    fs, root = _meta(spark, path)
    tbl = sidecars.read_table(
        fs, f"{root}/{name}", max_bytes=_DRIVER_METADATA_CAP
    )
    return None if tbl is None else _normalize_arrow_timestamps(tbl, ts_mode)


def _normalize_arrow_timestamps(tbl, ts_mode: str = "local"):
    """Normalize timestamp columns to the conventions of Spark's Python
    conversions (ADVICE r11).

    pyarrow reads Spark-written parquet timestamps as tz-NAIVE UTC
    wall clocks and driver-written ones as tz-aware UTC, but
    ``collect()`` yields tz-naive PROCESS-LOCAL walls, while
    ``createDataFrame`` over a PANDAS frame (Arrow-enabled, the repo
    default) interprets naive walls in the SESSION tz. Un-normalized,
    a non-UTC driver would shift timestamp-typed tombstone keys and
    zone-map bounds by the tz offset — deletes silently miss (or hit
    wrong) rows and MoR victim pruning skips files.

    ``ts_mode="local"``: per-value conversion through the epoch to
    process-local naive walls (DST resolved per instant, exactly like
    ``TimestampType.fromInternal``) — for values compared against or
    mixed with collected rows. ``ts_mode="aware"``: a metadata-only
    cast to tz-aware UTC — for frames re-entering Spark as pandas,
    where only aware values are unambiguous.

    A TIMESTAMP_NTZ column is no instant: ``collect()`` yields its
    walls as stored, so ``"local"`` leaves it as is. pyarrow tells the
    two apart by type: an instant is tz-aware (driver-written, or
    Spark's INT64 timestamps) or nanosecond naive (Spark's default
    INT96), while TIMESTAMP_NTZ is naive at any other unit (Spark and
    ``to_arrow_schema`` both write it as naive microseconds).
    """
    import datetime as _dt

    import pyarrow as pa

    def _to_local_wall(v):
        if v is None:
            return None
        # integer seconds through the epoch, microseconds re-attached —
        # exact at any date (no float in the second arithmetic)
        sec = int(
            v.replace(tzinfo=_dt.timezone.utc, microsecond=0).timestamp()
        )
        return _dt.datetime.fromtimestamp(sec).replace(
            microsecond=v.microsecond
        )

    out = tbl
    for i, f in enumerate(tbl.schema):
        if not pa.types.is_timestamp(f.type):
            continue
        ntz = f.type.tz is None and f.type.unit != "ns"
        if ntz and ts_mode == "local":
            continue
        # UTC walls, naive: an aware column drops its zone
        col = out.column(i).cast(pa.timestamp(f.type.unit))
        if ts_mode == "aware":
            col = col.cast(pa.timestamp(f.type.unit, "UTC"))
        else:
            col = pa.array(
                [_to_local_wall(v) for v in col.to_pylist()],
                type=pa.timestamp("us"),
            )
        out = out.set_column(i, f.name, col)
    return out


def _write_rows(
    spark: SparkSession, path: str, name: str, rows, schema
) -> None:
    """Write Python rows (dicts or Rows, in ``collect()`` conventions)
    as one driver-side file of sidecar ``<path>/<name>``, typed by the
    Spark ``schema``. Instants land as ``timestamp[us, UTC]``, taken
    from the process-local naive walls ``collect()`` and
    ``_manifest_rows`` yield through the epoch (fold-aware), so they
    are exact on a non-UTC driver."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def _epoch_us(v):
        sec = int(v.replace(microsecond=0).timestamp())
        return sec * 1_000_000 + v.microsecond

    arrow_schema = to_arrow_schema(schema)
    cols = []
    for f in arrow_schema:
        vals = [r[f.name] for r in rows]
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            ints = [None if v is None else _epoch_us(v) for v in vals]
            cols.append(pa.array(ints, pa.int64()).cast(f.type))
        else:
            cols.append(pa.array(vals, f.type))
    fs, root = _meta(spark, path)
    sidecars.write(
        fs, f"{root}/{name}", pa.Table.from_arrays(cols, schema=arrow_schema)
    )


def _local_sidecar_rows(
    spark: SparkSession,
    path: str,
    sidecar: str,
    version: int,
    min_origin: int | None = None,
    max_rows: int | None = None,
):
    """Shared driver-read + visibility filter for the delete sidecars
    (tombstones AND DV runs — one implementation so the two paths
    cannot drift). Returns ``(status, pdf, vis)``, ``vis`` being the
    visible-interval list the "big" path filters with:

    - ``("none", None, ...)``: sidecar absent/unreadable, or no rows
      survive the visibility/origin filters — the caller returns None
      with ZERO Spark jobs spent.
    - ``("local", pdf, vis)``: survivors fit ``max_rows`` — enter the
      plan as a local frame.
    - ``("big", None, vis)``: survivors exceed ``max_rows``, or the
      sidecar is above the driver size cap — the caller filters the
      distributed scan by ``vis`` (no emptiness probe).
    """
    if not _sidecar_exists(spark, path, sidecar):
        return "none", None, None
    try:
        # "aware": this pdf re-enters Spark via createDataFrame(pandas)
        # — naive walls would be read in the SESSION tz under Arrow
        tbl = _driver_sidecar_table(spark, path, sidecar, ts_mode="aware")
    except Exception:
        return "none", None, None
    vis = _visible_intervals(spark, path, version)
    if tbl is None:
        return "big", None, vis
    pdf = tbl.to_pandas()
    keep = pdf["v"].map(lambda v: any(lo < v <= hi for lo, hi in vis))
    if min_origin is not None:
        keep &= pdf["v"] > min_origin
    pdf = pdf[keep]
    if not len(pdf):
        return "none", None, vis
    cap = max_rows if max_rows is not None else _LOCAL_SIDECAR_ROWS_MAX
    if len(pdf) > cap:
        return "big", None, vis
    return "local", pdf, vis


def _visible_sidecar_scan(
    spark: SparkSession, path: str, sidecar: str, vis, min_origin=None
) -> DataFrame:
    """Distributed scan of a delete sidecar restricted to the visible
    version intervals (the "big" path of ``_local_sidecar_rows``)."""
    cond = F.lit(False)
    for lo, hi in vis:
        cond = cond | ((F.col("v") > lo) & (F.col("v") <= hi))
    out = spark.read.parquet(f"{path}/{sidecar}").filter(cond)
    if min_origin is not None:
        out = out.filter(F.col("v") > min_origin)
    return out


def _is_path_exists_error(e: Exception) -> bool:
    """True when a write failed because the target path already exists
    — the version-claim collision signal under ``errorifexists``
    (Spark 4 raises AnalysisException [PATH_ALREADY_EXISTS]; older
    builds phrase it 'already exists'). The check requires the
    DRIVER-side AnalysisException type, not just the phrase: an
    executor-side FileAlreadyExistsException from a task retry also
    says 'already exists' but is a genuine write failure, not a lost
    claim, and must propagate. A driver-side sidecar write signals the
    same collision with ``sidecars.SidecarExistsError``."""
    if isinstance(e, sidecars.SidecarExistsError):
        return True
    try:
        from pyspark.errors import AnalysisException
    except ImportError:  # pragma: no cover - very old pyspark
        return False
    if not isinstance(e, AnalysisException):
        return False
    s = str(e)
    return "PATH_ALREADY_EXISTS" in s or "already exists" in s


# How long a commit loser waits for the winner's manifest to land
# before declaring the claimed version an orphan. A real winner's
# manifest follows its data-dir claim within seconds; module-level so
# tests can shrink it.
_CLAIM_WAIT_S = 5.0


def _claim_version(spark: SparkSession, path: str, version: int) -> bool:
    """ATOMICALLY claim version id ``version``. Returns False when
    another writer holds it.

    The ``errorifexists`` data write alone is check-then-act: two
    drivers can both see the directory absent and both start writing
    into it (interleaved part files, double-commit attempts). The
    claim closes that window through the PLUGGABLE backend in
    ``operators.claims`` — marker files with the resolved filesystem's
    atomic create (local mkdir(2), HDFS create-no-overwrite) by
    default, or a CAS catalog for object stores where the filesystem
    has no atomic primitive (the Iceberg deployment model; the
    reference's data lives on GCS). Claims are permanent markers for
    committed versions; ``abort_staged`` releases its claim, and
    ``sweep_orphan_versions`` clears crashed writers' claims above the
    latest committed version."""
    from .claims import get_claim_backend

    return get_claim_backend().claim(spark, path, f"v={version}")


def _release_claim(spark: SparkSession, path: str, version: int) -> None:
    from .claims import get_claim_backend

    get_claim_backend().release(spark, path, f"v={version}")


def _abort_claim(spark: SparkSession, path: str, version: int) -> None:
    """Back out a FAILED post-claim commit: best-effort delete of the
    claimed version's (partial) data directory, then release the
    claim. Without this, a transient non-crash failure after a won
    claim — executor OOM, a bad input schema — leaves a permanent
    claim marker that wedges every later writer with CommitConflict
    until someone manually runs ``sweep_orphan_versions``, even though
    this driver is alive and can clean up (ADVICE r9). Never raises:
    the caller re-raises the ORIGINAL error, which is the one the user
    must see. Deleting ``v=N`` is safe here because the claim is ours
    and no manifest references it (the commit never completed)."""
    try:
        fs, jvm = _fs(spark, path)
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{path}/v={version}"), True
        )
    except Exception:
        pass
    try:
        _release_claim(spark, path, version)
    except Exception:
        pass


def _purge_sidecar_partition(
    spark: SparkSession, path: str, sidecar: str, version: int
) -> None:
    """Best-effort removal of a delete-sidecar's ``v=N`` partition —
    backing out a failed commit. A STRANDED sidecar partition is a
    data-loss hazard, not mere litter: tombstones or DV runs written
    for a version that never produced a manifest become ACTIVE the
    moment a later writer commits the same version number, silently
    deleting rows no committed operation asked to delete. While the
    claim is held the stranded rows are invisible (readers cap at the
    latest manifest), so purging before the claim is released closes
    the window. Never raises (cleanup path — the caller re-raises the
    original error)."""
    try:
        fs, jvm = _fs(spark, path)
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{path}/{sidecar}/v={version}"
            ),
            True,
        )
    except Exception:
        pass


def _sidecar_partition_exists(
    spark: SparkSession, path: str, sidecar: str, version: int
) -> bool:
    fs, jvm = _fs(spark, path)
    return fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{path}/{sidecar}/v={version}")
    )


def _verify_sidecar_before_commit(
    spark: SparkSession,
    path: str,
    sidecar: str,
    version: int,
    wrote: bool = True,
) -> None:
    """Immediately before the manifest write of a delete/merge commit:
    confirm the just-written sidecar partition STILL exists and the
    claim is STILL held (ADVICE r10). A concurrent
    ``sweep_orphan_versions`` cannot tell an in-flight writer's claimed
    version from a crashed writer's wreckage; if it swept this
    writer's ``_deletes``/``_posdeletes`` partition and released the
    claim, committing the manifest anyway would succeed with the
    tombstones/DV runs silently dropped — a no-op delete that LOOKS
    committed. This probe turns that race into a loud
    ``CommitConflict``; the residual window between probe and manifest
    write is the documented run-sweeps-only-when-quiescent contract.

    ``wrote=False`` skips the partition-existence check: an EMPTY
    delete set (zero-match predicate, insert-only upsert batch) writes
    no partition directory at all — demanding one would permanently
    fail every retry of a legitimate no-op delete. The claim check
    still runs, and it alone catches the sweep race: the sweep deletes
    sidecars and releases claims for the SAME version set, so a sweep
    that could have removed this writer's partition has also released
    its claim."""
    if wrote and not _sidecar_partition_exists(spark, path, sidecar, version):
        raise CommitConflict(
            f"commit of v={version} at {path}: the {sidecar} partition "
            "written by this commit has vanished (a concurrent "
            "sweep_orphan_versions?) — aborting instead of committing "
            "a silent no-op delete; re-issue the operation"
        )
    from .claims import get_claim_backend

    # point lookup (ADVICE r11): held() enumerates every permanent
    # committed-version claim — O(versions) per commit, growing with
    # table history; holds() is one exists/SELECT
    if not get_claim_backend().holds(spark, path, f"v={version}"):
        raise CommitConflict(
            f"commit of v={version} at {path}: this writer's claim was "
            "released externally (a concurrent sweep_orphan_versions?) "
            "— aborting; re-issue the operation"
        )


def _await_claim_release(
    spark: SparkSession, path: str, claimed: int
) -> bool:
    """After losing the ``errorifexists`` claim for version ``claimed``,
    wait for the winner's manifest to advance to (or past) it — the
    winner's data-dir appears at job START but its manifest commits
    seconds later, so an immediate re-read would still see the OLD
    latest, recompute the same version, and burn every retry in
    milliseconds against an in-flight writer. Returns True once the
    table advanced (safe to retry with a fresh version), False when the
    claim never resolved within ``_CLAIM_WAIT_S`` (a crashed writer's
    orphan, or a wedged stage — retrying cannot help)."""
    import time

    deadline = time.monotonic() + _CLAIM_WAIT_S
    while True:
        try:
            latest = _latest_version(spark, path) or 0
        except Exception:
            # the winner is mid-commit: its _manifest dir can exist
            # before its first version is visible (temp files only).
            # Outwaiting exactly that state is this loop's job, so keep
            # polling; persistent corruption still surfaces as a False
            # return -> CommitConflict at the caller.
            latest = 0
        if latest >= claimed:
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.25)


def versions(spark: SparkSession, path: str) -> list[int]:
    """Snapshot versions present at ``path``, ascending — answered
    from the manifest PARTITION LISTING (zero data bytes read)."""
    return sidecars.committed_versions(*_meta(spark, path))


def _head_version(spark: SparkSession, path: str) -> int:
    """Latest committed version; raises on a path holding no table."""
    v = _latest_version(spark, path)
    if v is None:
        raise ValueError(f"no manifest table at {path}")
    return v


def _latest_version(
    spark: SparkSession, path: str, manifest_dir: str = "_manifest"
) -> int | None:
    """Latest committed version at ``path``, or None for a brand-new
    table. "New table" is decided by a filesystem EXISTENCE probe on
    the manifest directory, never by catching the read error: a
    manifest that EXISTS but holds no committed version (a crashed
    first writer's wreckage) must RAISE — the old ``except Exception:
    version = 1`` bootstrap would misread it as "first snapshot" and
    fork a parallel v=1 history over live data (VERDICT r9 item 3)."""
    if not _sidecar_exists(spark, path, manifest_dir):
        return None
    if manifest_dir == "_manifest":
        # route through versions() — the module's one read point for
        # the primary manifest (tests simulate stale reads there)
        vs = versions(spark, path)
    else:
        vs = sidecars.committed_versions(*_meta(spark, path), manifest_dir)
    if not vs:
        raise IOError(
            f"{path}/{manifest_dir} exists but holds no versions — "
            "corrupted or half-written manifest; refusing to bootstrap "
            "a new v=1 history over it"
        )
    return vs[-1]


def write_manifest_table(
    df: DataFrame,
    path: str,
    sort_col: str,
    num_files: int = 16,
) -> int:
    """Append ``df`` as the next snapshot of the manifest table at
    ``path``; returns the new version number."""
    spark = df.sparkSession
    version = (_latest_version(spark, path) or 0) + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"write to {path} lost the claim for v={version}; another "
            "writer or a pending stage holds it"
        )
    data_dir = f"{path}/v={version}"
    try:
        (
            df.repartitionByRange(num_files, sort_col)
            .sortWithinPartitions(sort_col)
            .write.mode("errorifexists")
            .parquet(data_dir)
        )
        _commit_manifest(spark, path, version, data_dir, sort_col)
    except Exception as e:
        if _is_path_exists_error(e):
            # claimed, yet the target exists: wreckage of a crashed
            # pre-claim writer — NOT ours to delete (sweep's job)
            _release_claim(spark, path, version)
            raise CommitConflict(
                f"write to {path} claimed v={version} but its target "
                "already exists (unclaimed orphan); run "
                "sweep_orphan_versions"
            ) from e
        _abort_claim(spark, path, version)
        raise
    return version


def _manifest_table(spark: SparkSession, path: str, version: int | None):
    """(pyarrow Table, version) of one snapshot's manifest as stored —
    the latest when ``version`` is None. Only that version's file is
    opened, so planning stays O(files-per-snapshot) however many
    commits the table has accumulated."""
    fs, root = _meta(spark, path)
    vs = sidecars.committed_versions(fs, root)
    if not vs:
        raise IOError(f"{path}/_manifest holds no committed versions")
    v = version if version is not None else vs[-1]
    if v not in vs:
        # expired by ``expire_snapshots`` or never written — an error
        # beats silently returning an empty frame
        raise ValueError(f"no snapshot v={v} at {path}")
    return sidecars.read_table(fs, f"{root}/_manifest/v={v}"), v


def _manifest_rows(spark: SparkSession, path: str, version: int | None):
    tbl, v = _manifest_table(spark, path, version)
    return _normalize_arrow_timestamps(tbl).to_pylist(), v


def _copy_manifest(
    spark: SparkSession, src: str, src_v: int, dst: str, dst_v: int
) -> None:
    """Metadata-only commit: snapshot ``src_v``'s manifest carried
    VERBATIM as ``dst_v`` (the stored arrow table is rewritten as-is,
    so ``min_v``/``max_v`` keep the sort column's type)."""
    tbl, _ = _manifest_table(spark, src, src_v)
    fs, root = _meta(spark, dst)
    sidecars.write(fs, f"{root}/_manifest/v={dst_v}", tbl)


def _commit_manifest(
    spark: SparkSession,
    path: str,
    version: int,
    data_dir: str,
    sort_col: str,
    carried=(),
) -> None:
    """Derive the just-written files' zone map in ONE PARALLEL job and
    write carried + new manifest rows on the driver (VERDICT r10 item
    4). ``carried``: prior manifest rows (Rows or dicts) carried
    forward verbatim."""
    _write_manifest(
        spark, path, version, carried, _zone_map(spark, data_dir, sort_col)
    )


def _zone_map(spark: SparkSession, data_dir: str, sort_col: str):
    """Zone-map aggregate over a just-written data dir (one parallel
    job when collected)."""
    return (
        spark.read.parquet(data_dir)
        .select(
            F.input_file_name().alias("file"),
            F.col(sort_col).alias("v_"),
        )
        .groupBy("file")
        .agg(
            F.min("v_").alias("min_v"),
            F.max("v_").alias("max_v"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _write_manifest(
    spark: SparkSession,
    path: str,
    version: int,
    carried,
    zm: DataFrame,
    manifest_dir: str = "_manifest",
) -> None:
    """Collect the zone-map aggregate ``zm`` (file-count rows) and
    write carried + new manifest rows as one driver-side file, typed by
    the zone map's schema (the sort column's type: string/date tables
    must not coerce to bigint)."""
    rows = list(carried) + zm.collect()
    _write_rows(spark, path, f"{manifest_dir}/v={version}", rows, zm.schema)


def _band(df: DataFrame, sort_col: str, lo, hi) -> Column:
    """The residual filter ``lo <= sort_col <= hi``, in the convention
    the zone-map bounds are compared in (``collect()``'s). ``F.lit``
    of a naive datetime is a process-local instant, which on a non-UTC
    driver is not the wall a TIMESTAMP_NTZ column stores, so an NTZ
    column gets NTZ literals of the same walls."""
    from pyspark.sql.types import TimestampNTZType

    ntz = isinstance(df.schema[sort_col].dataType, TimestampNTZType)

    def lit(x):
        if ntz:
            return F.lit(x.isoformat(sep=" ")).cast("timestamp_ntz")
        return F.lit(x)

    return (F.col(sort_col) >= lit(lo)) & (F.col(sort_col) <= lit(hi))


def _overlaps(r, lo, hi) -> bool:
    """Whether manifest row ``r``'s [min_v, max_v] overlaps [lo, hi] —
    the one keep rule of every zone-map plan."""
    return not (r["max_v"] < lo or r["min_v"] > hi)


def read_pruned(
    spark: SparkSession,
    path: str,
    sort_col: str,
    lo,
    hi,
    version: int | None = None,
    with_positions: bool = False,
) -> DataFrame:
    """Read only the files of one snapshot whose zone-map interval
    overlaps [lo, hi], with the band re-applied as a residual filter.
    ``version=None`` = latest snapshot; earlier versions time-travel.
    ``with_positions`` keeps the posdeletes helper columns (file path +
    row position) — the seam ``merge_on_read`` finds matched-row
    positions through WITHOUT scanning non-overlapping files."""
    manifest, v = _manifest_rows(spark, path, version)
    keep = [r["file"] for r in manifest if _overlaps(r, lo, hi)]
    return _read_live(
        spark,
        path,
        v,
        keep,
        lambda df: _band(df, sort_col, lo, hi),
        with_positions,
    )


def pruned_file_count(
    spark: SparkSession,
    path: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[int, int]:
    """(files kept, files total) for a band — the skipping evidence."""
    manifest, _ = _manifest_rows(spark, path, version)
    return sum(1 for r in manifest if _overlaps(r, lo, hi)), len(manifest)


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    ref: str | None = None,
    with_positions: bool = False,
) -> DataFrame:
    """Full read of one snapshot (latest when ``version`` is None) —
    through the manifest's FILE LIST, so snapshots composed by
    metadata-only appends (files living under several ``v=`` dirs)
    read correctly, and through the schema-event log, so the result
    carries the snapshot's logical schema. ``ref`` reads the version a
    named tag points at (time travel by name, Iceberg ``VERSION AS OF
    'tag'``). ``with_positions`` keeps the posdeletes helper columns
    (file path + row position) on the result — the seam
    ``delete_where`` records new deletion vectors through."""
    if ref is not None:
        if version is not None:
            raise ValueError("pass version OR ref, not both")
        version = resolve_ref(spark, path, ref)
    manifest, v = _manifest_rows(spark, path, version)
    files = [r["file"] for r in manifest]
    return _read_live(spark, path, v, files, with_positions=with_positions)


# The evolved read is the only read: the old name stays for callers.
read_snapshot_evolved = read_snapshot


def compact_snapshot(
    spark: SparkSession,
    path: str,
    sort_col: str,
    target_rows: int,
) -> int:
    """Compact the latest snapshot into ~``target_rows``-row files,
    appended as a NEW snapshot (the old one stays readable — compaction
    under snapshot isolation, the Iceberg/Delta OPTIMIZE shape).

    The file count is planned from the MANIFEST alone (sum of per-file
    row counts — no data scan, no footer reads); the rewrite is one
    range-repartition pass. The small-file problem this solves is a
    100 TB killer: a streaming or per-batch writer leaves thousands of
    KB-sized files whose per-file open/seek overhead dominates scans
    and whose zone-map intervals overlap; compaction restores
    tight-interval, right-sized files and re-derives the zone map.

    Reads through ``read_snapshot``, which replays schema events: the
    new files physically carry the current logical schema their new
    origin implies — a raw-schema rewrite would detach them from the
    event log. ``sort_col`` is the column's CURRENT name.
    """
    manifest, v = _manifest_rows(spark, path, None)
    total = sum(int(r["n_rows"]) for r in manifest)
    n_files = max(1, -(-total // target_rows))
    return write_manifest_table(
        read_snapshot(spark, path, v), path, sort_col, num_files=n_files
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    sort_col: str,
    target_rows: int,
    small_rows: int | None = None,
) -> int:
    """SELECTIVE binpack compaction (Iceberg ``rewrite_data_files``
    with a size filter): rewrite ONLY the files below ``small_rows``
    (default ``target_rows // 2``) into ~``target_rows``-row files;
    every other file carries into the new manifest VERBATIM — zero
    bytes touched. ``compact_snapshot`` rewrites the whole snapshot,
    which at 100 TB is a job nobody runs; the steady-state maintenance
    loop compacts the small-file debt a streaming/CDC writer accretes
    and leaves the big files alone. Planned entirely from the manifest
    (no data scan decides the file set). Returns the new version, or
    the current one when fewer than two small files exist (a no-op
    compaction is not worth a version).

    Delete debt follows the rewrite boundary: the small files are read
    THROUGH visible tombstones and deletion vectors, so their debt is
    cleared (their DV runs go inert when the files leave the
    manifest); untouched files keep their debt until their own
    rewrite — exactly Iceberg's per-file delete-file scoping.

    Schema events compose (ADVICE r10): the small files are read
    through the live-row reader, so a rewrite after an add/rename/drop
    emits files that physically carry the current logical schema —
    consistent with their new origin, which replays no events. The
    UNTOUCHED files keep their old origins, so their events still
    replay; mixed physical schemas never meet in one raw
    ``spark.read.parquet(*files)``. ``sort_col`` is the CURRENT name."""
    if small_rows is None:
        small_rows = target_rows // 2
    manifest, prev = _manifest_rows(spark, path, None)
    small = [r for r in manifest if int(r["n_rows"]) < small_rows]
    if len(small) < 2:
        return prev
    big = [r for r in manifest if int(r["n_rows"]) >= small_rows]
    version = prev + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"compact_small_files at {path} lost the claim for "
            f"v={version}; another writer is committing — retry"
        )
    data_dir = f"{path}/v={version}"
    try:
        files = [r["file"] for r in small]
        out = _read_live(spark, path, prev, files)
        total = sum(int(r["n_rows"]) for r in small)  # pre-delete bound
        n_files = max(1, -(-total // target_rows))
        (
            out.repartitionByRange(n_files, sort_col)
            .sortWithinPartitions(sort_col)
            .write.mode("errorifexists")
            .parquet(data_dir)
        )
        _commit_manifest(
            spark, path, version, data_dir, sort_col, carried=big
        )
    except Exception as e:
        if _is_path_exists_error(e):
            _release_claim(spark, path, version)
            raise CommitConflict(
                f"compact_small_files at {path} claimed v={version} "
                "but its target already exists (unclaimed orphan); "
                "run sweep_orphan_versions"
            ) from e
        _abort_claim(spark, path, version)
        raise
    return version


def append_snapshot(
    df: DataFrame,
    path: str,
    sort_col: str,
    num_files: int = 4,
    max_retries: int = 3,
) -> int:
    """Append ``df`` to the table as a new snapshot WITHOUT rewriting
    existing data: only the new rows land as files (under the new
    version's directory); the new manifest is the previous manifest's
    rows PLUS the new files' zone-map rows. This is the table-format
    append — at 100 TB an ingest batch costs the batch, never the
    table, and readers of older versions are untouched. Returns the new
    version.

    Optimistic concurrency (Iceberg commit semantics): the version id
    is CLAIMED by the ``errorifexists`` data-directory write. Two
    writers racing to ``v=N+1`` — the loser's write fails on the
    existing path, the latest version is re-read, and the append is
    retried against the advanced table (appends always commute, so the
    retry needs no re-validation). A claim that keeps failing without
    the manifest advancing (a crashed writer's orphan directory) raises
    ``CommitConflict`` after ``max_retries`` — ``sweep_orphan_versions``
    unwedges that table."""
    spark = df.sparkSession
    for _attempt in range(max_retries + 1):
        try:
            prev = _latest_version(spark, path)
        except Exception:
            # _manifest exists but holds no version yet — another
            # writer is mid-FIRST-commit (temp files only). Poll
            # for its manifest like a lost claim and re-read; genuine
            # corruption exhausts the retries and propagates.
            if _attempt == max_retries or not _await_claim_release(
                spark, path, 1
            ):
                raise
            continue
        version = (prev or 0) + 1
        data_dir = f"{path}/v={version}"
        if not _claim_version(spark, path, version):
            if _attempt == max_retries or not _await_claim_release(
                spark, path, version
            ):
                raise CommitConflict(
                    f"append to {path} lost the claim for v={version} "
                    "and the claim never resolved; publish or abort "
                    "any pending staged snapshot, or if no writer is "
                    "active run sweep_orphan_versions (a crashed "
                    "commit left an orphan claim)"
                )
            continue  # the winner's manifest landed; re-read and retry
        try:
            (
                df.repartitionByRange(num_files, sort_col)
                .sortWithinPartitions(sort_col)
                .write.mode("errorifexists")
                .parquet(data_dir)
            )
            break
        except Exception as e:
            if not _is_path_exists_error(e):
                # transient write failure with the claim won: back out
                # (partial data dir + claim) so the table is not
                # wedged, then surface the real error (ADVICE r9)
                _abort_claim(spark, path, version)
                raise
            # claimed, yet the data dir exists: wreckage of a crashed
            # pre-claim writer — release our claim and surface it
            _release_claim(spark, path, version)
            raise CommitConflict(
                f"append to {path} claimed v={version} but its data "
                "directory already exists (unclaimed orphan); run "
                "sweep_orphan_versions"
            ) from e
    try:
        carried = (
            _manifest_rows(spark, path, prev)[0] if prev is not None else ()
        )
        _commit_manifest(
            spark, path, version, data_dir, sort_col, carried=carried
        )
    except Exception:
        _abort_claim(spark, path, version)
        raise
    return version


def ledgered_batch_sink(stream_df: DataFrame, checkpoint_dir: str, apply):
    """Shared writeStream scaffold: run ``apply(batch_df) -> version``
    once per micro-batch, made idempotent across replays by a JSON
    ledger in the checkpoint dir (a batch id that already produced a
    version is skipped). Both table sinks (manifest snapshots, spec
    snapshots) ride this one implementation so ledger fixes land once.
    Returns the StreamingQuery; callers stop it."""
    import json
    import os

    ledger = os.path.join(checkpoint_dir, "applied_batches.json")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        applied = {}
        if os.path.exists(ledger):
            with open(ledger) as fh:
                applied = json.load(fh)
        if str(batch_id) in applied:
            return
        applied[str(batch_id)] = apply(batch_df)
        with open(ledger, "w") as fh:
            json.dump(applied, fh)

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_append_sink(
    stream_df: DataFrame,
    path: str,
    sort_col: str,
    checkpoint_dir: str,
    num_files: int = 4,
):
    """writeStream sink: each micro-batch appends one snapshot via
    ``append_snapshot`` (metadata-only reuse of all prior files).
    Replay-idempotent via ``ledgered_batch_sink``. Returns the
    StreamingQuery; callers stop it."""
    return ledgered_batch_sink(
        stream_df,
        checkpoint_dir,
        lambda batch_df: append_snapshot(
            batch_df, path, sort_col, num_files
        ),
    )


def merge_snapshot(
    spark: SparkSession,
    path: str,
    sort_col: str,
    updates: DataFrame,
    num_files: int = 4,
    max_retries: int = 3,
) -> int:
    """Copy-on-write MERGE (upsert keyed on ``sort_col``) into the
    latest snapshot, appended as a new version — the Delta/Iceberg
    MERGE shape with FILE-LEVEL pruning:

    1. The updates' key interval is read from a 1-row aggregate; files
       whose zone-map interval does not overlap it are CARRIED into the
       new manifest untouched (metadata only — never opened).
    2. Only the overlapping files are read; their rows lose to update
       rows on key collision (anti-join), the union is rewritten as
       fresh range-laid files, and the new manifest = carried rows +
       rewritten files' zone map.

    At 100 TB a MERGE touching one day's key range costs that key
    range, not the table. The rewritten-file count is planned from the
    data actually rewritten. Returns the new version.

    Pruning granularity, stated: "touched" is decided by the updates'
    single [min, max] INTERVAL — right for the common contiguous-range
    upsert (a day, an id block), pessimal for updates scattered across
    the key domain (two far-apart keys mark everything between them
    touched). Scattered workloads should either batch updates by range
    or take the merge-on-read path (``delete_from_snapshot`` + append),
    which touches nothing; a per-file key-set semi-join test would cost
    a shuffle per MERGE to save rewrites the tombstone path avoids for
    free.
    """
    bounds = updates.agg(
        F.min(sort_col).alias("lo"), F.max(sort_col).alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    # Optimistic concurrency: unlike appends, a merge that loses its
    # version claim cannot blindly retry — the winner may have changed
    # the very files this merge planned to rewrite. The retry therefore
    # RE-PLANS from the advanced manifest (re-prune, re-read tombstones)
    # — that re-plan IS Iceberg's commit re-validation for
    # copy-on-write.
    for _attempt in range(max_retries + 1):
        manifest, prev = _manifest_rows(spark, path, None)
        touched = [r["file"] for r in manifest if _overlaps(r, lo, hi)]
        carried = [r for r in manifest if not _overlaps(r, lo, hi)]
        version = prev + 1
        data_dir = f"{path}/v={version}"
        if not _claim_version(spark, path, version):
            if _attempt == max_retries or not _await_claim_release(
                spark, path, version
            ):
                raise CommitConflict(
                    f"merge into {path} lost the claim for v={version} "
                    "and the claim never resolved; if no writer is "
                    "active, run sweep_orphan_versions"
                )
            continue  # the winner committed — RE-PLAN from the new manifest
        # the plan is built inside the try: an analysis error in it
        # (updates whose columns do not match the table) must release
        # the claim like a failed write
        try:
            merged = updates
            if touched:
                # the touched rows come through the live-row reader: a
                # rewrite must not resurrect rows deleted by tombstones
                # or DV runs (the DV rows of these files go inert once
                # the merge drops them from the manifest)
                merged = (
                    _read_live(spark, path, prev, touched)
                    .join(
                        updates.select(sort_col).distinct(),
                        sort_col,
                        "left_anti",
                    )
                    .unionByName(updates)
                )
            (
                merged.repartitionByRange(num_files, sort_col)
                .sortWithinPartitions(sort_col)
                .write.mode("errorifexists")
                .parquet(data_dir)
            )
            break
        except Exception as e:
            if not _is_path_exists_error(e):
                _abort_claim(spark, path, version)
                raise
            _release_claim(spark, path, version)
            raise CommitConflict(
                f"merge into {path} claimed v={version} but its data "
                "directory already exists (unclaimed orphan); run "
                "sweep_orphan_versions"
            ) from e
    try:
        _commit_manifest(
            spark, path, version, data_dir, sort_col, carried=carried
        )
    except Exception:
        _abort_claim(spark, path, version)
        raise
    return version


def build_manifest_list(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    num_shards: int = 8,
) -> int:
    """Second metadata tier — the Iceberg "manifest list" shape. The
    one-tier layout collects the WHOLE manifest to the driver at plan
    time, which is fine to ~10^6 files and a metadata storm past it.
    This call rewrites one snapshot's manifest as ``num_shards``
    range-sharded parquet files (``_manifest_shards/v=N/``, ranged on
    ``min_v`` so each shard owns a contiguous slice of the key domain)
    plus a tiny MANIFEST LIST (``_manifest_list/v=N/``): one row per
    shard file with that shard's aggregate [min(min_v), max(max_v)]
    bounds and file/row counts — the same zone-map trick one level up.
    Planning then reads the list (O(shards) rows), opens only the
    shards whose aggregate interval overlaps the predicate band, and
    never touches the rest of the metadata — so plan cost scales with
    the band's share of the table, not the table's file count.
    Returns the number of shard files written. Driver-side: zero Spark
    jobs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl, v = _manifest_table(spark, path, version)
    tbl = tbl.sort_by("min_v")
    n = tbl.num_rows
    k = min(num_shards, n)
    shards = [
        tbl.slice(i * n // k, (i + 1) * n // k - i * n // k) for i in range(k)
    ]
    qualified = _qualified(spark, path)
    fs, root = sidecars.resolve(qualified)
    written = sidecars.write(fs, f"{root}/_manifest_shards/v={v}", *shards)
    listing = pa.table(
        {
            "shard_file": pa.array(
                [f"{qualified}{p[len(root):]}" for p in written], pa.string()
            ),
            "shard_min": pa.array(
                [pc.min(s["min_v"]).as_py() for s in shards],
                tbl.schema.field("min_v").type,
            ),
            "shard_max": pa.array(
                [pc.max(s["max_v"]).as_py() for s in shards],
                tbl.schema.field("max_v").type,
            ),
            "n_files": pa.array([s.num_rows for s in shards], pa.int64()),
            "n_rows": pa.array(
                [pc.sum(s["n_rows"]).as_py() for s in shards], pa.int64()
            ),
        }
    )
    sidecars.write(fs, f"{root}/_manifest_list/v={v}", listing)
    return k


def _list_rows(spark: SparkSession, path: str, version: int | None):
    v = version if version is not None else versions(spark, path)[-1]
    fs, root = _meta(spark, path)
    tbl = sidecars.read_table(fs, f"{root}/_manifest_list/v={v}")
    return _normalize_arrow_timestamps(tbl).to_pylist(), v


def read_pruned_two_tier(
    spark: SparkSession,
    path: str,
    sort_col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Band read planned through the manifest LIST: collect the list
    (O(shards) rows), open ONLY the manifest shards whose aggregate
    interval overlaps [lo, hi], prune data files from those shards'
    rows, then read the surviving data files through the live-row
    reader with the band re-applied as a residual filter — the same
    rows ``read_pruned`` returns. Shards — and therefore the file-level
    metadata of everything outside the band — are never opened (a band
    no file overlaps opens the one-tier manifest once, for the schema
    of one of its files). Conservative-correct: a data file overlapping
    the band forces its shard's aggregate bounds to overlap too, so
    shard pruning can skip only shards with no qualifying file."""
    import pyarrow.dataset as pds

    listing, v = _list_rows(spark, path, version)
    shard_files = [
        r["shard_file"]
        for r in listing
        if not (r["shard_max"] < lo or r["shard_min"] > hi)
    ]
    keep = []
    if shard_files:
        fs, root = _meta(spark, path)
        opened = pds.dataset(
            [
                f"{root}/_manifest_shards/v={v}/{f.rsplit('/', 1)[-1]}"
                for f in shard_files
            ],
            filesystem=fs,
            format="parquet",
        )
        manifest = _normalize_arrow_timestamps(opened.to_table()).to_pylist()
        keep = [r["file"] for r in manifest if _overlaps(r, lo, hi)]
    return _read_live(
        spark, path, v, keep, lambda df: _band(df, sort_col, lo, hi)
    )


def pruned_shard_count(
    spark: SparkSession,
    path: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[int, int]:
    """(manifest shards opened, shards total) for a band — the
    second-tier skipping evidence, parallel to ``pruned_file_count``."""
    listing, _ = _list_rows(spark, path, version)
    kept = sum(
        1
        for r in listing
        if not (r["shard_max"] < lo or r["shard_min"] > hi)
    )
    return kept, len(listing)


# ---------------------------------------------------------------------------
# Schema evolution — metadata-only ADD/RENAME/DROP COLUMN, the Delta/
# Iceberg ALTER TABLE shape. Each schema change appends a new version
# that carries the previous manifest verbatim (zero data files touched)
# and records one EVENT row under ``_schema_events``; readers replay,
# per file-origin group, exactly the events issued AFTER that origin
# (events at or before a file's origin are already baked into its
# physical schema, because writers always write the current logical
# schema). At 100 TB this is the only viable ALTER: rewriting data for
# a column add would cost the table; replaying a handful of events at
# plan time costs nothing.
# ---------------------------------------------------------------------------
def _schema_events(spark: SparkSession, path: str, version: int):
    """Schema events visible at ``version``, ascending by version —
    restore-aware: events shadowed by a RESTORE (see
    ``_visible_intervals``) are invisible, so restoring to a
    pre-rename version really shows the old schema."""
    if not _sidecar_exists(spark, path, "_schema_events"):
        return []
    try:
        all_rows = _sidecar_rows(spark, path, "_schema_events")
    except Exception:
        return []
    vis = _visible_intervals(spark, path, version)
    rows = [
        r for r in all_rows if any(lo < int(r["v"]) <= hi for lo, hi in vis)
    ]
    return sorted(rows, key=lambda r: int(r["v"]))


def _append_schema_event(
    spark: SparkSession, path: str, kind: str, **fields
) -> int:
    import pyarrow as pa

    prev = _head_version(spark, path)
    version = prev + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"schema event at {path} lost the claim for v={version}"
        )
    row = {"kind": kind, **fields}
    event = pa.table(
        {"v": pa.array([version], pa.int64())}
        | {
            c: pa.array([row.get(c)], pa.string())
            for c in ("kind", "name", "old_name", "dtype", "default_sql")
        }
    )
    # ORDER MATTERS: manifest before event row. Claims are released on
    # failure now, so a later writer can legitimately re-mint this
    # version id — an event row stranded by a manifest-write failure
    # would then ACTIVATE under that unrelated commit (silent wrong
    # schema). The inverse failure (manifest lands, event write fails)
    # merely leaves a no-op metadata version and raises; the caller
    # retries and the event lands at version+1.
    try:
        _copy_manifest(spark, path, prev, path, version)
    except Exception:
        _abort_claim(spark, path, version)
        raise
    fs, root = _meta(spark, path)
    sidecars.write(fs, f"{root}/_schema_events", event, append=True)
    return version


def add_column(
    spark: SparkSession,
    path: str,
    name: str,
    dtype: str,
    default_sql: str | None = None,
) -> int:
    """ALTER TABLE ADD COLUMN, metadata-only: rows in files older than
    this version read as ``default_sql`` (a SQL literal/expression) or
    NULL; files written afterwards carry the column physically.
    Returns the new version."""
    return _append_schema_event(
        spark, path, "add", name=name, dtype=dtype, default_sql=default_sql
    )


def rename_column(
    spark: SparkSession, path: str, old_name: str, new_name: str
) -> int:
    """ALTER TABLE RENAME COLUMN, metadata-only: older files keep the
    old physical name and readers alias it at plan time. Returns the
    new version."""
    return _append_schema_event(
        spark, path, "rename", name=new_name, old_name=old_name
    )


def drop_column(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN, metadata-only: the column stays in old
    files' bytes but no reader of this or a later version sees it.
    Returns the new version."""
    return _append_schema_event(spark, path, "drop", name=name)


def _replay_events(df: DataFrame, events) -> DataFrame:
    """Apply ``events`` — those issued after the origin of the files
    ``df`` reads (earlier ones are baked into their physical schema)."""
    for r in events:
        if r["kind"] == "add":
            col = (
                F.expr(r["default_sql"]).cast(r["dtype"])
                if r["default_sql"] is not None
                else F.lit(None).cast(r["dtype"])
            )
            df = df.withColumn(r["name"], col)
        elif r["kind"] == "rename":
            df = df.withColumnRenamed(r["old_name"], r["name"])
        elif r["kind"] == "drop":
            df = df.drop(r["name"])
    return df


def _current_key_name(events, key: str, from_version: int) -> str:
    """Forward-map a column name through renames issued after
    ``from_version`` (tombstones store the key under its name at
    delete time)."""
    for r in events:
        if (
            int(r["v"]) > from_version
            and r["kind"] == "rename"
            and r["old_name"] == key
        ):
            key = r["name"]
    return key


def _read_live(
    spark: SparkSession,
    path: str,
    v: int,
    files: list[str],
    where: Callable[[DataFrame], Column] | None = None,
    with_positions: bool = False,
) -> DataFrame:
    """The one reader of snapshot ``v``'s live rows, restricted to
    ``files`` (its whole file list, a pruned keep set, a rewrite's
    touched files or a staged manifest's files). Every snapshot read
    and every rewrite goes through here, so none can drift from
    another:

    - schema events: files are grouped by the events still pending at
      their origin, each group replays its events (adds fill defaults,
      renames alias, drops prune) and the groups union by name. With
      no event newer than the oldest origin — every table without an
      ALTER — that is ONE ``spark.read.parquet(*files)``. A rewriter
      that read raw physical schemas would emit new-origin files
      carrying a pre-event schema, detached from the event log.
    - ``where``: an optional residual predicate, a function of the
      evolved frame returning a Column (so literals can follow the
      column's type, see ``_band``).
    - tombstones: one origin-scoped anti-join; only when the key was
      renamed are they split by delete version, each batch mapped
      through the renames issued after it.
    - DV runs: anti-joined on the scan's native (file, row position),
      captured per scan before any join; ``with_positions`` keeps the
      posdeletes helper columns on the result.

    Empty ``files`` (nothing survives pruning) returns no rows in the
    snapshot's schema, read through one of its files so events and
    positions apply as to any other read."""
    empty = not files
    if empty:
        files = [r["file"] for r in _manifest_rows(spark, path, v)[0][:1]]
        if not files:
            out = spark.read.parquet(f"{path}/v={v}").filter(F.lit(False))
            return _with_positions(out) if with_positions else out
    events = _schema_events(spark, path, v)
    runs = _pos_delete_runs(spark, path, v)
    by_baked: dict[int, list[str]] = {}
    for f in files:
        o = _file_origin(f)
        by_baked.setdefault(
            sum(1 for e in events if int(e["v"]) <= o), []
        ).append(f)

    def _scan(grp: list[str]) -> DataFrame:
        df = spark.read.parquet(*grp)
        if runs is not None or with_positions:
            # capture the scan's native (file, row position) BEFORE any
            # join strips _metadata resolution
            df = _with_positions(df)
        return df

    parts = [
        _replay_events(_scan(grp), events[baked:])
        for baked, grp in sorted(by_baked.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if empty:
        out = out.filter(F.lit(False))
    elif where is not None:
        out = out.filter(where(out))
    dels = _delete_keys(
        spark, path, v, min_origin=min(_file_origin(f) for f in files)
    )
    if dels is not None:
        key = [c for c in dels.columns if c != "v"][0]
        renamed = any(
            e["kind"] == "rename" and e["old_name"] == key for e in events
        )
        if renamed:
            # tombstones store the key under its name at delete time:
            # map each delete batch through the renames issued after it
            dvs = {int(r["v"]) for r in dels.select("v").collect()}
            for dv in sorted(dvs):
                cur = _current_key_name(events, key, dv)
                batch = dels.filter(F.col("v") == dv)
                out = _apply_tombstones(
                    out, batch.withColumnRenamed(key, cur), cur
                )
        else:
            out = _apply_tombstones(out, dels, key)
    if runs is not None:
        out = _apply_pos_deletes(out, runs)
        if not with_positions:
            out = _strip_positions(out)
    return out


def _file_origin(file: str) -> int:
    """Version whose write created ``file`` — the last ``v=N`` path
    segment. Every writer here lands data under ``<path>/v=N/``, so the
    origin is recoverable from the path alone (no footer read)."""
    import re

    return int(re.findall(r"/v=(\d+)/", file)[-1])


def _delete_keys(
    spark: SparkSession,
    path: str,
    version: int,
    min_origin: int | None = None,
) -> DataFrame | None:
    """Tombstones visible to a reader of ``version``. A tombstone of
    version D only applies to rows from files written BEFORE D
    (Delta/Iceberg delete semantics — see ``_apply_tombstones``), so
    when the caller knows the snapshot's oldest file origin, tombstones
    with ``v <= min_origin`` match nothing and are pruned here; after a
    compaction (all origins = compacted version) that prunes EVERY
    older tombstone, which is how compaction clears delete debt without
    mutating ``_deletes``. Restore-aware: tombstones issued inside an
    interval shadowed by a RESTORE (see ``_visible_intervals``) are
    invisible, so restoring to a pre-delete version resurrects the
    rows — and a fresh delete after the restore applies again."""
    status, pdf, vis = _local_sidecar_rows(
        spark, path, "_deletes", version, min_origin=min_origin
    )
    if status == "none":
        return None
    if status == "local":
        return spark.createDataFrame(pdf)
    return _visible_sidecar_scan(spark, path, "_deletes", vis, min_origin)


def _apply_tombstones(out: DataFrame, dels: DataFrame, key: str) -> DataFrame:
    """Anti-join ``out`` against tombstones, scoped by origin: a
    tombstone of version D removes a key only from rows whose file was
    written before D. A later append/merge that re-inserts the key
    lands in a file with origin >= D and survives — matching
    ``merge_snapshot``'s upsert contract and Delta/Iceberg semantics
    (a delete applies to the data that existed when it was issued)."""
    d = dels.select(
        F.col(key).alias("_del_key"), F.col("v").alias("_del_v")
    )
    out = out.withColumn(
        "_origin",
        F.regexp_extract(F.input_file_name(), r".*/v=(\d+)/", 1).cast(
            "long"
        ),
    )
    # key equality keeps this a hash anti-join (the version bound rides
    # as a residual condition); AQE broadcasts when the tombstones are
    # small, so no hint — delete-heavy tables shouldn't be forced to
    # broadcast millions of keys.
    return out.join(
        d,
        (F.col(key) == F.col("_del_key"))
        & (F.col("_origin") < F.col("_del_v")),
        "left_anti",
    ).drop("_origin")


def delete_from_snapshot(
    spark: SparkSession,
    path: str,
    sort_col: str,
    keys: DataFrame,
) -> int:
    """MERGE-ON-READ delete: record the keys as a tombstone sidecar
    (``_deletes/v=N``) and carry the previous manifest verbatim — ZERO
    data files touched. Readers of version >= N anti-join the
    accumulated tombstones; readers of older versions see the rows
    (tombstones are version-scoped). ``compact_snapshot`` PURGES:
    its rewrite reads through the tombstone filter, so the compacted
    snapshot carries no delete debt.

    The copy-on-write twin is ``merge_snapshot`` (rewrites overlapping
    files); delete-heavy workloads take tombstones now and pay the
    rewrite once at compaction — the Delta/Iceberg deletion-vector
    trade. Returns the new version.

    Commit protocol (round 10): the version is CLAIMED before the
    tombstone sidecar lands. Without the claim, two writers racing to
    v=N would BOTH append into ``_deletes/v=N`` (the sidecar write is
    mode=append by design — one delete batch per version id), and the
    manifest LOSER's tombstones would activate under the winner's
    commit, deleting keys no committed operation asked for. The
    failure path purges the sidecar partition before releasing the
    claim (see ``_purge_sidecar_partition``); a lost claim raises
    ``CommitConflict`` — re-issue the delete against the advanced
    table (deletes are predicate/key-scoped, so the retry is a fresh
    call, not a replay).
    """
    prev = _head_version(spark, path)
    version = prev + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"delete from {path} lost the claim for v={version}; "
            "another writer is committing — retry against the "
            "advanced table"
        )
    try:
        # repartition(1), not coalesce(1): coalesce would collapse the
        # final distinct stage into one task (every tombstone key
        # through it); the exchange moves only finished key rows
        keys.select(F.col(sort_col)).distinct().withColumn(
            "v", F.lit(version)
        ).repartition(1).write.mode("append").partitionBy("v").parquet(
            f"{path}/_deletes"
        )
        # an EMPTY key frame writes no partition dir — capture that
        # now so the pre-commit verify knows not to demand one
        wrote = _sidecar_partition_exists(spark, path, "_deletes", version)
        _verify_sidecar_before_commit(
            spark, path, "_deletes", version, wrote=wrote
        )
        _copy_manifest(spark, path, prev, path, version)
    except Exception as e:
        _purge_sidecar_partition(spark, path, "_deletes", version)
        if _is_path_exists_error(e):
            # claimed, yet the manifest path exists: wreckage of a
            # crashed pre-claim writer — not ours to delete
            _release_claim(spark, path, version)
            raise CommitConflict(
                f"delete from {path} claimed v={version} but its "
                "manifest path already exists (unclaimed orphan); "
                "run sweep_orphan_versions"
            ) from e
        _abort_claim(spark, path, version)
        raise
    return version


# ---------------------------------------------------------------------------
# RESTORE / EXPIRE / WRITE-AUDIT-PUBLISH — the table-maintenance trio
# that completes the lifecycle (Delta RESTORE + VACUUM, Iceberg
# expire_snapshots, the WAP staging pattern). All three are
# metadata-first: RESTORE copies one manifest (zero data reads/writes),
# EXPIRE plans deletions from manifests alone and touches only
# unreferenced bytes, and a staged snapshot becomes visible by a single
# metadata rename. At 100 TB that is the difference between an O(table)
# operation and an O(metadata) one.
# ---------------------------------------------------------------------------
def _sidecar_exists(spark: SparkSession, path: str, name: str) -> bool:
    """Filesystem existence probe for an optional metadata sidecar —
    milliseconds, vs the ~100ms analysis-exception path of attempting
    a parquet read on a directory that isn't there (tables without
    restores/deletes pay that probe on EVERY snapshot read)."""
    fs, jvm = _fs(spark, path)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/{name}"))


def _restore_map(spark: SparkSession, path: str) -> dict[int, int]:
    """{restore version -> restored-from version}, empty if none."""
    if not _sidecar_exists(spark, path, "_restores"):
        return {}
    try:
        # exists but unreadable (crashed writer left only temp files,
        # or an empty dir) degrades to "no restores", not a crash on
        # every subsequent snapshot read
        rows = _sidecar_rows(spark, path, "_restores")
    except Exception:
        return {}
    return {int(r["v"]): int(r["source_v"]) for r in rows}


def _visible_intervals(
    spark: SparkSession, path: str, version: int
) -> list[tuple[int, int]]:
    """Half-open ``(lo, hi]`` version intervals whose metadata events
    (tombstones, schema events) a reader of ``version`` sees. Without
    restores this is ``[(0, version)]``. A restore at R from S makes
    the table state at R EQUAL the state at S, so metadata issued in
    ``(S, R]`` is shadowed — recursively, since S may itself sit above
    an older restore. Events issued after R apply normally."""
    rmap = _restore_map(spark, path)
    intervals: list[tuple[int, int]] = []
    hi = version
    while hi > 0:
        cand = [rv for rv in rmap if rv <= hi]
        if not cand:
            intervals.append((0, hi))
            break
        r = max(cand)
        if r < hi:
            intervals.append((r, hi))
        hi = rmap[r]  # strictly < r (enforced by restore_snapshot)
    return intervals


# ---------------------------------------------------------------------------
# Named refs (Iceberg TAGS): durable names for snapshot versions. A tag
# gives a version a stable handle ("prod", "eval-2024q3") for time
# travel by name AND protects it from retention GC — expire_snapshots
# keeps every tagged version regardless of keep_last, exactly
# Iceberg's retention contract (a dataset release pinned by a tag must
# outlive routine GC). Storage is an append-only parquet log under
# ``_refs`` (name, version, seq): resolve = the highest-seq row per
# name; a NULL-version row is a drop tombstone. Each event first
# CLAIMS its sequence number through the atomic claim backend
# (``refseq=K`` — the same primitive as data versions), so two
# concurrent tag operations cannot mint duplicate seqs and resolution
# order never depends on file-listing order; the ``errorifexists``
# write is kept as a physical backstop.
# Resolution collects O(tag events) rows — the same driver-planning
# bound as every manifest operation.
# ---------------------------------------------------------------------------
def _ref_log(spark: SparkSession, path: str) -> list:
    # DELIBERATELY no except-path (unlike _restore_map): an existing
    # but unreadable _refs raises (the sidecar read's IOError on a
    # directory holding no parquet). Degrading to [] here
    # would tell expire_snapshots the table has NO tags — retention GC
    # could then delete versions the user believes pinned. Corrupt tag
    # logs must surface, not vanish.
    if not _sidecar_exists(spark, path, "_refs"):
        return []
    return _sidecar_rows(spark, path, "_refs")


def _append_ref(
    spark: SparkSession, path: str, name: str, version: int | None
) -> None:
    """Append one (name, version, seq) event to the tag log, the seq
    minted through the SAME atomic claim backend as data versions
    (key ``refseq=K``): the bare ``errorifexists`` write is
    check-then-act — two concurrent tag ops could both pass the
    driver-side existence probe, both write into ``seq=K``, and
    ``list_tags`` would resolve the duplicate nondeterministically by
    collect order; since tags gate ``expire_snapshots`` retention, a
    lost retag/drop event can let GC delete a version the user
    believes pinned (ADVICE r9). A lost seq claim is never retried at
    the same K — the op takes K+1; skipped seqs are harmless (resolve
    = max seq per name), so stale refseq claims cannot wedge anything
    and are never swept."""
    import pyarrow as pa

    from .claims import get_claim_backend

    backend = get_claim_backend()
    fs, root = _meta(spark, path)
    event = pa.table(
        {
            "name": pa.array([name], pa.string()),
            "version": pa.array([version], pa.int64()),
        }
    )
    seq = 1 + max((int(r["seq"]) for r in _ref_log(spark, path)), default=0)
    for _ in range(8):
        if not backend.claim(spark, path, f"refseq={seq}"):
            seq += 1  # lost the seq claim to a concurrent tag op
            continue
        try:
            sidecars.write(fs, f"{root}/_refs/seq={seq}", event)
            return
        except Exception as e:
            if not _is_path_exists_error(e):
                # transient write failure with the claim won: release
                # so the id is not permanently burned, surface the
                # real error
                backend.release(spark, path, f"refseq={seq}")
                raise
            # claimed, yet the seq dir exists: wreckage of a crashed
            # pre-claim tag op — leave it, take the next id
            backend.release(spark, path, f"refseq={seq}")
            seq += 1
    raise CommitConflict(
        f"tag operation on {path} lost the _refs seq claim 8 times"
    )


def tag_snapshot(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> int:
    """Tag ``version`` (default: latest) as ``name``. Re-tagging an
    existing name moves it (last write wins). Returns the tagged
    version."""
    vs = versions(spark, path)
    v = vs[-1] if version is None else int(version)
    if v not in vs:
        raise ValueError(f"no snapshot v={v} at {path} to tag")
    _append_ref(spark, path, name, v)
    return v


def drop_tag(spark: SparkSession, path: str, name: str) -> None:
    """Remove a tag (appends a drop tombstone; the version it pointed
    at becomes eligible for retention GC again)."""
    if name not in list_tags(spark, path):
        raise ValueError(f"no tag {name!r} at {path}")
    _append_ref(spark, path, name, None)


def list_tags(spark: SparkSession, path: str) -> dict[str, int]:
    """{tag name -> version} for all live (non-dropped) tags."""
    newest: dict[str, tuple[int, int | None]] = {}
    for r in _ref_log(spark, path):
        seq = int(r["seq"])
        if r["name"] not in newest or seq > newest[r["name"]][0]:
            v = None if r["version"] is None else int(r["version"])
            newest[r["name"]] = (seq, v)
    return {n: v for n, (_, v) in newest.items() if v is not None}


def resolve_ref(spark: SparkSession, path: str, name: str) -> int:
    """Version a tag points at; raises on unknown/dropped tags."""
    tags = list_tags(spark, path)
    if name not in tags:
        raise ValueError(f"no tag {name!r} at {path}")
    return tags[name]


def restore_snapshot(
    spark: SparkSession, path: str, source_version: int
) -> int:
    """Delta-style RESTORE: append a new version whose manifest is the
    ``source_version`` manifest VERBATIM — zero data files read or
    written — and record the restore so tombstones and schema events
    issued after the source version stop applying (state at the new
    version equals state at the source, exactly). History stays intact:
    every intermediate version still time-travels, and new writes /
    deletes / ALTERs after the restore apply normally. Returns the new
    version."""
    import pyarrow as pa

    manifest, _ = _manifest_rows(spark, path, source_version)
    latest = versions(spark, path)[-1]
    if not manifest:
        raise ValueError(f"no snapshot v={source_version} to restore to")
    if source_version >= latest:
        raise ValueError("restore target must be an earlier version")
    version = latest + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"restore at {path} lost the claim for v={version}"
        )
    # manifest BEFORE the _restores record (same reasoning as
    # _append_schema_event): with claims released on failure, a
    # stranded restore row would silently shadow tombstones under
    # whatever commit later re-mints this version id. A manifest
    # without its restore row is merely a plain metadata append — the
    # raise tells the caller the restore failed; retry lands it fully.
    try:
        _copy_manifest(spark, path, source_version, path, version)
    except Exception:
        _abort_claim(spark, path, version)
        raise
    fs, root = _meta(spark, path)
    restore = pa.table(
        {
            "v": pa.array([version], pa.int64()),
            "source_v": pa.array([source_version], pa.int64()),
        }
    )
    sidecars.write(fs, f"{root}/_restores", restore, append=True)
    return version


def shallow_clone(spark: SparkSession, src: str, dst: str) -> int:
    """Delta-style SHALLOW CLONE: ``dst`` is born REFERENCING ``src``'s
    current data files — zero data bytes move; only the metadata-sized
    manifest and delete/restore/schema sidecars are copied. At 100 TB
    a clone is how a team forks a table for an experiment in O(metadata)
    — the Delta ``CREATE TABLE ... SHALLOW CLONE`` shape. Returns the
    clone's birth version.

    The clone is born at src's LATEST VERSION NUMBER, not v=1 — that is
    what keeps key-tombstone origin arithmetic correct: a tombstone
    applies to files whose origin (the v=N in their path) is below the
    tombstone's version, and cloned files keep src-path origins <= the
    birth version, so any delete issued in the clone (birth+1 or later)
    covers all of them, exactly as it would have in src. Copying the
    delete sidecars freezes src's visible state (a clone of a table
    with live DVs/tombstones reads identically to src at clone time).

    Isolation: writes to either table never touch the other — new files
    land under the writer's own root, and expire/compact only delete
    files under their OWN root (cloned references live outside it).
    The one shared fate is src's data files themselves: if SRC later
    expires or compacts away files the clone references, the clone
    dangles (the same caveat as Delta shallow clones — deep-copy or
    re-cluster the clone first if src's retention may fire)."""
    if _sidecar_exists(spark, dst, "_manifest"):
        raise ValueError(
            f"shallow_clone target {dst} already holds a table"
        )
    v = _head_version(spark, src)
    if not _claim_version(spark, dst, v):
        raise CommitConflict(
            f"shallow_clone to {dst} lost the claim for v={v}; another "
            "writer is bootstrapping the same target"
        )
    try:
        _copy_manifest(spark, src, v, dst, v)
        sfs, jvm = _fs(spark, src)
        dfs, _ = _fs(spark, dst)
        conf = spark._jsc.hadoopConfiguration()
        for sidecar in (
            "_deletes",
            "_posdeletes",
            "_restores",
            "_schema_events",
        ):
            sp = jvm.org.apache.hadoop.fs.Path(f"{src}/{sidecar}")
            if sfs.exists(sp):
                jvm.org.apache.hadoop.fs.FileUtil.copy(
                    sfs,
                    sp,
                    dfs,
                    jvm.org.apache.hadoop.fs.Path(f"{dst}/{sidecar}"),
                    False,
                    conf,
                )
    except Exception:
        # dst had no table before us: back out everything we created so
        # a retry starts clean (a half-born clone is unreadable litter)
        try:
            fs, jvm = _fs(spark, dst)
            for sub in (
                "_manifest",
                "_deletes",
                "_posdeletes",
                "_restores",
                "_schema_events",
            ):
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(f"{dst}/{sub}"), True
                )
        except Exception:
            pass
        _abort_claim(spark, dst, v)
        raise
    return v


def _norm_uri(u: str) -> str:
    """Scheme-insensitive file identity (input_file_name yields
    file:///a/b, Hadoop Path prints file:/a/b — same file)."""
    from urllib.parse import urlparse

    p = urlparse(u)
    return p.path if p.scheme else u


def _norm_uri_col(col: str) -> Column:
    """``_norm_uri`` as a Column expression: strips ``scheme://authority``
    or ``scheme:`` so ``_metadata.file_path`` (file:/x) and manifest
    paths (file:///x) compare equal."""
    return F.regexp_replace(
        F.regexp_replace(
            F.col(col), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*", ""
        ),
        r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/",
        "/",
    )


def expire_snapshots(
    spark: SparkSession, path: str, keep_last: int = 1
) -> tuple[int, int]:
    """Iceberg ``expire_snapshots`` / Delta VACUUM: keep the newest
    ``keep_last`` versions, drop every older version's manifest (ending
    its time travel), and physically delete the data files no retained
    manifest references. Files carried forward by metadata-only appends
    / ALTERs / restores survive even though they live under an expired
    version's directory — reference-counting is BY MANIFEST, never by
    directory age. Tombstone sidecars whose version no retained reader
    can observe an effect from (every retained manifest's files are all
    newer) are purged too, bounding the delete-debt metadata.

    TAGGED versions are always retained regardless of ``keep_last`` —
    a named ref (``tag_snapshot``) pins a release against routine GC,
    the Iceberg retention contract; dropping the tag re-exposes the
    version to the next expire run.

    Planning is manifest-only (O(retained files) driver rows, the same
    bound as a read); deletion I/O is proportional to the bytes
    reclaimed. Returns ``(versions_expired, data_files_deleted)``."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    all_vs = versions(spark, path)
    protected = set(list_tags(spark, path).values())
    retained = sorted(set(all_vs[-keep_last:]) | (protected & set(all_vs)))
    expired = [v for v in all_vs if v not in retained]
    if not expired:
        return (0, 0)
    referenced: set[str] = set()
    referenced_raw: set[str] = set()
    min_origin: dict[int, int] = {}
    for v in retained:
        manifest, _ = _manifest_rows(spark, path, v)
        for r in manifest:
            referenced.add(_norm_uri(r["file"]))
            referenced_raw.add(r["file"])
        if manifest:
            min_origin[v] = min(_file_origin(r["file"]) for r in manifest)
    fs, jvm = _fs(spark, path)

    def _p(s: str):
        return jvm.org.apache.hadoop.fs.Path(s)

    latest = all_vs[-1]
    # metadata trees: drop every non-retained version's entries (this
    # run's expired set AND strays from earlier expire runs)
    for sub in ("_manifest", "_manifest_shards", "_manifest_list"):
        subroot = _p(f"{path}/{sub}")
        if not fs.exists(subroot):
            continue
        for st in fs.listStatus(subroot):
            name = st.getPath().getName()
            if not name.startswith("v="):
                continue
            dv = int(name.split("=", 1)[1])
            if dv <= latest and dv not in retained:
                fs.delete(st.getPath(), True)
    # data GC: scan EVERY v=* dir at the root (a dir whose manifest
    # expired in an earlier run can still hold orphans) and delete the
    # files no retained manifest references. Dirs numbered past the
    # current latest belong to a pending staged snapshot — untouched.
    files_deleted = 0
    for st in fs.listStatus(_p(path)):
        name = st.getPath().getName()
        if not name.startswith("v=") or not st.isDirectory():
            continue
        dv = int(name.split("=", 1)[1])
        if dv > latest:
            continue  # pending WAP stage
        keep_any = False
        for fst in fs.listStatus(st.getPath()):
            fp = fst.getPath().toString()
            if not fp.endswith(".parquet"):
                continue
            if _norm_uri(fp) in referenced:
                keep_any = True
            else:
                fs.delete(fst.getPath(), False)
                files_deleted += 1
        if not keep_any and dv not in retained:
            fs.delete(st.getPath(), True)  # also clears _SUCCESS markers
    # sidecar GC: file-keyed stats/bloom rows (operators.filestats) for
    # files no retained manifest references are dead. The metadata-
    # sized _filestats keeps its live rows in one new driver-written
    # file (readable even when empty), then drops the old files; the
    # data-sized _filebloom is rewritten by Spark and swapped by rename
    mfs, root = _meta(spark, path)
    stats_dir = f"{root}/_filestats"
    old = sidecars.list_files(mfs, stats_dir)
    if old:
        tbl = sidecars.read_table(mfs, stats_dir)
        keep = [f in referenced_raw for f in tbl["file"].to_pylist()]
        sidecars.write(mfs, stats_dir, tbl.filter(keep), append=True)
        for info in old:
            mfs.delete_file(info.path)
    bloom_root = _p(f"{path}/_filebloom")
    if fs.exists(bloom_root):
        ref_df = spark.createDataFrame(
            [(f,) for f in sorted(referenced_raw)], "file string"
        )
        kept_rows = spark.read.parquet(f"{path}/_filebloom").join(
            ref_df, "file", "left_semi"
        )
        tmp = f"{path}/_filebloom__gc_tmp"
        kept_rows.repartition(1).write.mode("overwrite").parquet(tmp)
        fs.delete(bloom_root, True)
        fs.rename(_p(tmp), bloom_root)
    # deletion-vector GC: DV runs are file-keyed, so a run whose file
    # no retained manifest references is dead. DV paths come from
    # _metadata.file_path (file:/x) while manifests store
    # input_file_name (file:///x) — compare on the scheme-insensitive
    # normalization or live runs would be misjudged dead.
    pd_root = _p(f"{path}/_posdeletes")
    if fs.exists(pd_root):
        ref_norm = spark.createDataFrame(
            [(f,) for f in sorted({_norm_uri(f) for f in referenced_raw})],
            "nfile string",
        )
        tmp = f"{path}/_posdeletes__gc_tmp"
        (
            spark.read.parquet(f"{path}/_posdeletes")
            .withColumn("_nfile", _norm_uri_col("file"))
            .join(
                ref_norm,
                F.col("_nfile") == F.col("nfile"),
                "left_semi",
            )
            .drop("_nfile")
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("v")
            .parquet(tmp)
        )
        fs.delete(pd_root, True)
        if sidecars.list_files(mfs, f"{root}/_posdeletes__gc_tmp"):
            fs.rename(_p(tmp), pd_root)
        else:
            # nothing survives: drop the sidecar entirely (an empty
            # partitioned dir would be unreadable, not just empty)
            fs.delete(_p(tmp), True)
    # tombstone GC: version D is dead when every retained version either
    # predates it or contains only files written at/after it
    dels_root = _p(f"{path}/_deletes")
    if fs.exists(dels_root):
        for st in fs.listStatus(dels_root):
            name = st.getPath().getName()
            if not name.startswith("v="):
                continue
            d = int(name.split("=", 1)[1])
            dead = all(
                v < d or min_origin.get(v, d) >= d for v in retained
            )
            if dead:
                fs.delete(st.getPath(), True)
    return (len(expired), files_deleted)


def stage_snapshot(
    df: DataFrame,
    path: str,
    sort_col: str,
    num_files: int = 4,
) -> int:
    """WRITE step of write-audit-publish: write ``df``'s files and the
    would-be manifest (prior manifest + new files, the append shape)
    under ``_staged_manifest/`` — INVISIBLE to every reader, ``versions``
    and time travel included. Audit the exact bytes with
    ``read_staged``; make them live with ``publish_staged`` (one
    metadata rename — the files never move or rewrite) or discard with
    ``abort_staged``. Single-writer, like every writer here. Returns
    the staged version number."""
    spark = df.sparkSession
    prev = _latest_version(spark, path)
    version = (prev or 0) + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"stage at {path} lost the claim for v={version}; another "
            "writer or stage holds it"
        )
    data_dir = f"{path}/v={version}"
    try:
        (
            df.repartitionByRange(num_files, sort_col)
            .sortWithinPartitions(sort_col)
            .write.mode("errorifexists")
            .parquet(data_dir)
        )
        carried = (
            _manifest_rows(spark, path, prev)[0] if prev is not None else ()
        )
        _write_manifest(
            spark,
            path,
            version,
            carried,
            _zone_map(spark, data_dir, sort_col),
            manifest_dir="_staged_manifest",
        )
    except Exception as e:
        if _is_path_exists_error(e):
            _release_claim(spark, path, version)
            raise CommitConflict(
                f"stage at {path} claimed v={version} but its target "
                "already exists (unclaimed orphan); run "
                "sweep_orphan_versions"
            ) from e
        # failed stage: drop the partial staged manifest too, then the
        # data dir + claim (abort_staged's cleanup, minus the raise)
        try:
            fs, jvm = _fs(spark, path)
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{path}/_staged_manifest/v={version}"
                ),
                True,
            )
        except Exception:
            pass
        _abort_claim(spark, path, version)
        raise
    return version


def read_staged(
    spark: SparkSession, path: str, version: int
) -> DataFrame:
    """AUDIT step: the exact table state ``publish_staged`` would make
    live — the staged manifest's files through the live-row reader.
    Quality gates run here; a failure costs an abort, never a bad
    published version."""
    staged = _sidecar_rows(spark, path, f"_staged_manifest/v={version}")
    return _read_live(spark, path, version, [r["file"] for r in staged])


def publish_staged(spark: SparkSession, path: str, version: int) -> int:
    """PUBLISH step: one atomic metadata rename
    (``_staged_manifest/v=N`` -> ``_manifest/v=N``) makes the audited
    snapshot the table's latest. Refuses if the table advanced past the
    staged version while the audit ran (the audit would be stale) —
    re-stage on top of the new latest instead."""
    latest = _latest_version(spark, path) or 0
    if latest >= version:
        raise ValueError(
            f"table advanced to v{latest} >= staged v{version}; re-stage"
        )
    fs, jvm = _fs(spark, path)

    def _p(s: str):
        return jvm.org.apache.hadoop.fs.Path(s)

    src = _p(f"{path}/_staged_manifest/v={version}")
    if not fs.exists(src):
        raise ValueError(f"no staged snapshot v={version}")
    fs.mkdirs(_p(f"{path}/_manifest"))
    if not fs.rename(src, _p(f"{path}/_manifest/v={version}")):
        raise IOError(f"publish rename failed for v={version}")
    return version


def abort_staged(spark: SparkSession, path: str, version: int) -> None:
    """Discard a staged snapshot: delete its data directory and staged
    manifest. Published versions are untouched (their files live under
    other version directories or are referenced by ``_manifest``)."""
    fs, jvm = _fs(spark, path)

    def _p(s: str):
        return jvm.org.apache.hadoop.fs.Path(s)

    fs.delete(_p(f"{path}/_staged_manifest/v={version}"), True)
    fs.delete(_p(f"{path}/v={version}"), True)
    # release the version claim so the next writer can take this id
    _release_claim(spark, path, version)


# ---------------------------------------------------------------------------
# Optimistic concurrency — named append branches with conflict
# validation. ``stage_snapshot`` is single-writer by construction (its
# data dir is the next version number, so two concurrent stagers
# collide on the filesystem). Branches remove that limit the way
# Iceberg/Delta do: each writer stages files under its OWN name
# against the base version it read, and commit-time validation decides
# — if the table advanced while the branch was open, the branch
# publishes anyway IFF its new files' key intervals are disjoint from
# every file committed after its base (a pure append rebase: one
# directory rename, zero data rewritten); an interval overlap is a
# real write-write conflict and the branch is refused. This is the
# serializable-append subset of Iceberg's commit validation: appends
# to disjoint key ranges commute, overlapping ones do not.
# ---------------------------------------------------------------------------
def stage_branch(
    df: DataFrame,
    path: str,
    sort_col: str,
    branch: str,
    num_files: int = 4,
) -> int:
    """Stage ``df`` as append branch ``branch`` against the table's
    CURRENT latest version (the branch's base). Invisible to every
    reader until ``publish_branch``. Returns the base version."""
    spark = df.sparkSession
    base = _latest_version(spark, path) or 0
    data_dir = f"{path}/_branches/{branch}/data"
    (
        df.repartitionByRange(num_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("errorifexists")
        .parquet(data_dir)
    )
    rows = _zone_map(spark, data_dir, sort_col).withColumn(
        "base_v", F.lit(base)
    )
    # One aggregate pass: the zone map is O(num_files) rows, so collect
    # it (the same driver-planning bound every manifest operation has),
    # guard emptiness, and write the manifest from the collected rows.
    rows_local = rows.collect()
    if not rows_local:
        # A zero-row staged manifest would make publish_branch publish
        # nothing (or crash) — fail at stage time where the caller can
        # see which DataFrame was empty.
        fs, jvm = _fs(spark, path)
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{path}/_branches/{branch}"),
            True,
        )
        raise ValueError(
            f"empty branch {branch!r}: staged DataFrame has no rows"
        )
    _write_rows(
        spark, path, f"_branches/{branch}/manifest", rows_local, rows.schema
    )
    return base


def publish_branch(
    spark: SparkSession, path: str, branch: str
) -> tuple[int | None, str]:
    """Commit-time validation + publish for an append branch.

    Returns ``(new_version, "published")`` when the table never moved,
    ``(new_version, "rebased")`` when it advanced but every interloping
    file's [min,max] key interval is disjoint from the branch's files
    (the append commutes — data dir renamed into place, manifest merged
    on top of the REAL latest), and ``(None, "conflict")`` when an
    interval overlaps OR another publisher claimed the target version
    first (the branch stays staged for abort/retry)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    meta_fs, root = _meta(spark, path)
    staged_tbl = sidecars.read_table(
        meta_fs, f"{root}/_branches/{branch}/manifest"
    )
    staged = _normalize_arrow_timestamps(staged_tbl).to_pylist()
    if not staged:
        # Defense for branches staged by older code (stage_branch now
        # rejects empty DataFrames at stage time).
        raise ValueError(
            f"empty branch {branch!r}: staged manifest has no rows"
        )
    base = int(staged[0]["base_v"])
    latest = _latest_version(spark, path) or 0
    status = "published"
    if latest > base:
        current, _ = _manifest_rows(spark, path, latest)
        interlopers = [
            r for r in current if _file_origin(r["file"]) > base
        ]
        for s in staged:
            for r in interlopers:
                if not (
                    s["max_v"] < r["min_v"] or s["min_v"] > r["max_v"]
                ):
                    return None, "conflict"
        status = "rebased"
    new_v = latest + 1
    fs, jvm = _fs(spark, path)

    def _p(s: str):
        return jvm.org.apache.hadoop.fs.Path(s)

    src = f"{path}/_branches/{branch}/data"
    dst = f"{path}/v={new_v}"
    if not _claim_version(spark, path, new_v):
        # Another publisher holds v=new_v — the optimistic-commit
        # loser. The branch stays staged; the caller re-invokes
        # publish_branch, which re-validates against the NEW latest and
        # retries (or runs sweep_orphan_versions first if the claimer
        # crashed before writing its manifest).
        return None, "conflict"
    if fs.exists(_p(dst)):
        # claimed, yet the data dir exists: an unclaimed orphan from a
        # crashed pre-claim writer — back out and report
        _release_claim(spark, path, new_v)
        return None, "conflict"
    if not fs.rename(_p(src), _p(dst)):
        _release_claim(spark, path, new_v)
        if fs.exists(_p(dst)):
            return None, "conflict"
        raise IOError(f"branch data rename failed for {branch}")
    # Hadoop rename into a directory that appeared between the exists
    # check and the rename NESTS src under dst (POSIX mv semantics)
    # instead of failing — undo and report the conflict.
    nested = _p(f"{dst}/data")
    if fs.exists(nested):
        _release_claim(spark, path, new_v)
        if not fs.rename(nested, _p(src)):
            # an unchecked failed undo would report "conflict, branch
            # stays staged" while the staged data actually sits inside
            # the winner's version directory — unrecoverable by retry
            raise IOError(
                f"branch {branch!r} lost the claim for {dst} AND the "
                f"undo rename failed: its staged data is stranded at "
                f"{dst}/data — move it back to {src} by hand before "
                "retrying"
            )
        return None, "conflict"
    # the staged zone map, typed as stage_branch wrote it (min_v/max_v
    # carry the sort column's own type), with its files at their new home
    moved = staged_tbl.drop_columns(["base_v"])
    moved = moved.set_column(
        0,
        "file",
        pc.replace_substring(
            moved["file"], f"/_branches/{branch}/data/", f"/v={new_v}/"
        ),
    )
    try:
        if latest > 0:
            carried, _ = _manifest_table(spark, path, latest)
            moved = pa.concat_tables([carried.cast(moved.schema), moved])
        sidecars.write(meta_fs, f"{root}/_manifest/v={new_v}", moved)
    except Exception:
        # manifest write failed AFTER the data rename: undo the rename
        # so the branch stays staged (retryable), release the claim so
        # the table is not wedged, and surface the real error. A failed
        # undo is stranded data — refuse to hide it.
        if not fs.rename(_p(dst), _p(src)):
            raise IOError(
                f"branch {branch!r} publish failed at the manifest "
                f"write AND the undo rename failed: its data sits at "
                f"{dst} without a manifest — move it back to {src} by "
                "hand before retrying"
            )
        _release_claim(spark, path, new_v)
        raise
    fs.delete(_p(f"{path}/_branches/{branch}"), True)
    return new_v, status


def abort_branch(spark: SparkSession, path: str, branch: str) -> None:
    """Discard a staged branch (conflict resolution path): delete its
    data and staged manifest; published versions are untouched."""
    fs, jvm = _fs(spark, path)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(f"{path}/_branches/{branch}"), True
    )


def sweep_orphan_versions(spark: SparkSession, path: str) -> list[int]:
    """Delete ``v=N`` data directories ABOVE the latest committed
    version that have neither a manifest nor a staged (write-audit-
    publish) manifest — the wreckage of a writer that crashed between
    claiming its version (the data write/rename) and committing. Such
    an orphan permanently wedges the table: every subsequent commit
    targets the same N and loses the ``errorifexists`` claim.

    ONLY claims above latest are swept. Directories at or below the
    latest version are never orphans in the wedging sense (commits
    target latest+1), and they may hold files a RETAINED manifest still
    references even when their own manifest expired — metadata-only
    appends/ALTERs/restores carry file paths forward across version
    directories, and ``expire_snapshots`` is the reference-counting
    authority for those. Sweeping by directory presence below latest
    would destroy live data on any table that has ever been expired.

    This is the Iceberg ``remove_orphan_files`` maintenance action; run
    it only when no writer is in flight (an active writer's claimed-
    but-not-yet-committed version looks identical to an orphan).
    Returns the swept version numbers."""
    fs, jvm = _fs(spark, path)

    def _p(s: str):
        return jvm.org.apache.hadoop.fs.Path(s)

    latest = 0
    if _sidecar_exists(spark, path, "_manifest"):
        vs = versions(spark, path)
        latest = vs[-1] if vs else 0
    # A write-audit-publish stage (stage_snapshot) parks its data under
    # an unmanifested v= dir ON PURPOSE — its claim lives in
    # _staged_manifest. Staged versions are pending work, not wreckage.
    staged: set[int] = set()
    for st in fs.globStatus(_p(f"{path}/_staged_manifest/v=*")) or []:
        try:
            staged.add(int(st.getPath().getName().split("=", 1)[1]))
        except ValueError:
            continue
    swept: set[int] = set()
    for status in fs.globStatus(_p(f"{path}/v=*")) or []:
        name = status.getPath().getName()
        try:
            v = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if v > latest and v not in staged:
            fs.delete(status.getPath(), True)
            swept.add(v)
    # crashed writers' claim markers above latest wedge the next commit
    # exactly like their data dirs — clear those too (staged spared).
    # Enumerated through the claim backend so a catalog-backed
    # deployment sweeps its catalog, not a marker directory.
    from .claims import get_claim_backend

    backend = get_claim_backend()
    for key in backend.held(spark, path):
        if not key.startswith("v="):
            continue  # refseq claims never wedge commits (see _append_ref)
        try:
            v = int(key.split("=", 1)[1])
        except ValueError:
            continue
        if v > latest and v not in staged:
            backend.release(spark, path, key)
            swept.add(v)
    # Stranded delete sidecars above latest are the crashed-writer twin
    # of the live failure path's purge (_purge_sidecar_partition):
    # tombstone/DV partitions written under a claim that never produced
    # a manifest would ACTIVATE the moment a later writer commits the
    # same version number — silent row loss, not litter. Same > latest
    # scoping as the data dirs: at or below latest every sidecar
    # partition belongs to a committed version.
    for sidecar in ("_deletes", "_posdeletes"):
        for st in fs.globStatus(_p(f"{path}/{sidecar}/v=*")) or []:
            try:
                v = int(st.getPath().getName().split("=", 1)[1])
            except ValueError:
                continue
            if v > latest and v not in staged:
                fs.delete(st.getPath(), True)
                swept.add(v)
    return sorted(swept)


def snapshot_row_count(
    spark: SparkSession, path: str, version: int | None = None
) -> int:
    """COUNT(*) of one snapshot, answered from METADATA when possible:
    the manifest already stores per-file row counts, so a snapshot with
    no visible tombstones costs zero data reads — the Iceberg/Delta
    count-from-manifest fast path a 100 TB table depends on.

    DV-only debt is STILL metadata: deletion-vector runs pin exact
    physical positions and are globally disjoint, so the live count is
    manifest row sum minus the visible runs' lengths (runs whose file
    left the manifest are inert and excluded) — zero data reads even
    mid-debt. Only KEY-tombstone debt forces the filtered read (a
    tombstone's hit count is data-dependent), deferred to
    ``read_snapshot`` so counting can never drift from read
    semantics."""
    manifest, v = _manifest_rows(spark, path, version)
    if not manifest:
        return 0
    files = [r["file"] for r in manifest]
    dels = _delete_keys(
        spark, path, v, min_origin=min(_file_origin(f) for f in files)
    )
    if dels is not None:
        # key-tombstone debt: defer to read_snapshot
        return read_snapshot(spark, path, v).count()
    total = sum(int(r["n_rows"]) for r in manifest)
    runs = _pos_delete_runs(spark, path, v)
    if runs is None:
        return total
    # DV paths come from _metadata.file_path (file:/x) while manifests
    # store input_file_name (file:///x) — compare normalized (the same
    # discipline as expire's DV GC)
    live = spark.createDataFrame(
        [(f,) for f in sorted({_norm_uri(f) for f in files})],
        "nfile string",
    )
    dead = (
        runs.withColumn("_nfile", _norm_uri_col("file"))
        .join(F.broadcast(live), F.col("_nfile") == F.col("nfile"), "left_semi")
        .agg(F.sum(F.col("pos_end") - F.col("pos_start") + F.lit(1)))
        .first()[0]
    )
    return total - int(dead or 0)
