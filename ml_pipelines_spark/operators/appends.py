"""Incremental APPEND scan over the manifest table — "what rows were
added between version A and version B", answered from metadata alone.

This is the Iceberg incremental append scan / Delta "streaming from a
table" read contract: because ``append_snapshot`` carries the previous
manifest forward and lands new rows ONLY in the new version's own
``v=N`` directory, the rows added in ``(from_v, to_v]`` are exactly the
files present in ``manifest(to_v)`` and absent from ``manifest(from_v)``.
The scan therefore costs O(new files) — at 100 TB an incremental
consumer pays for the increment, never the table, and the file diff is
two manifest sidecar reads (file-count rows each, not data).

Like Iceberg's, the scan REFUSES non-append history inside the range
rather than guessing:

- files REMOVED in-range (compaction, overwrite, restore, expire) mean
  carried rows changed identity — an "append" diff would re-emit
  rewritten rows;
- MoR tombstones committed in-range are deletes, not appends;
- schema events beyond the physical schema mean the raw file read and
  the evolved read disagree.

All three raise :class:`NonAppendHistoryError`; the caller either
narrows the range to the append-only span or falls back to
``operators.diff.snapshot_diff`` (the content-level diff that handles
everything, at the price of a full outer join).

The streaming twin — micro-batch per committed version through Spark's
Python DataSource API — is ``sources.table_appends_datasource``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_V_RE = re.compile(r"/v=(\d+)/[^/]+$")


class NonAppendHistoryError(ValueError):
    """The requested version range contains non-append commits."""


def _manifest_files(spark: SparkSession, path: str, version: int | None):
    """{file uri -> manifest row} at ``version`` (empty for version
    0 / None on a version-0 lower bound)."""
    from .manifest import _manifest_rows

    if not version:
        return {}
    rows, _ = _manifest_rows(spark, path, version)
    return {r["file"]: r for r in rows}


def file_version(file_uri: str) -> int:
    """Commit version a data file belongs to, from its ``v=N`` path
    segment (appends land files only under their own version dir)."""
    m = _V_RE.search(file_uri)
    if not m:
        raise ValueError(f"not a versioned table file: {file_uri}")
    return int(m.group(1))


def appended_files(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> tuple[list[dict], int]:
    """Files added in ``(from_version, to_version]`` as manifest-row
    dicts (file/min_v/max_v/n_rows + origin ``version``), plus the
    resolved ``to_version``. Raises :class:`NonAppendHistoryError`
    when the range contains removals, restores, MoR tombstone commits,
    or schema events — anything a pure append diff would misreport.
    """
    from .manifest import (
        _latest_version,
        _restore_map,
        _schema_events,
        _sidecar_partition_exists,
    )
    from .posdeletes import _SIDECAR

    latest = _latest_version(spark, path)
    if latest is None:
        raise ValueError(f"no manifest table at {path}")
    to_v = latest if to_version is None else to_version
    if not 0 <= from_version <= to_v:
        raise ValueError(
            f"bad range ({from_version}, {to_v}] at {path} "
            f"(latest committed = {latest})"
        )
    if from_version == to_v:
        return [], to_v

    in_range = [
        v for v in _restore_map(spark, path) if from_version < v <= to_v
    ]
    if in_range:
        raise NonAppendHistoryError(
            f"RESTORE commit(s) {sorted(in_range)} inside "
            f"({from_version}, {to_v}] at {path}: restored history is "
            "not append-only; narrow the range or use snapshot_diff"
        )
    dv = [
        v
        for v in range(from_version + 1, to_v + 1)
        if _sidecar_partition_exists(spark, path, _SIDECAR, v)
    ]
    if dv:
        raise NonAppendHistoryError(
            f"MoR delete commit(s) {dv} inside ({from_version}, {to_v}] "
            f"at {path}: deletes are not appends; use snapshot_diff"
        )
    if _schema_events(spark, path, to_v):
        raise NonAppendHistoryError(
            f"schema events visible at v={to_v} of {path}: the raw "
            "file read and the evolved read disagree; use "
            "read_snapshot + snapshot_diff"
        )

    old = _manifest_files(spark, path, from_version)
    new = _manifest_files(spark, path, to_v)
    removed = sorted(set(old) - set(new))
    if removed:
        raise NonAppendHistoryError(
            f"{len(removed)} file(s) removed inside ({from_version}, "
            f"{to_v}] at {path} (compaction/overwrite/expire): carried "
            "rows changed identity; narrow the range or use "
            "snapshot_diff"
        )
    added = []
    for f in sorted(set(new) - set(old)):
        r = dict(new[f].asDict() if hasattr(new[f], "asDict") else new[f])
        r["version"] = file_version(f)
        added.append(r)
    return added, to_v


def read_appends(
    spark: SparkSession,
    path: str,
    from_version: int = 0,
    to_version: int | None = None,
    version_col: str | None = "_commit_version",
) -> DataFrame:
    """Rows appended in ``(from_version, to_version]`` — one pruned
    scan of exactly the new files, tagged with the commit version each
    row arrived in (``version_col``; pass None to omit). Empty ranges
    return an empty frame with the table's schema.
    """
    added, to_v = appended_files(spark, path, from_version, to_version)
    if not added:
        # schema from the latest snapshot's files, zero rows
        from .manifest import _manifest_rows

        rows, _ = _manifest_rows(spark, path, to_v)
        base = spark.read.parquet(*[r["file"] for r in rows]).limit(0)
        if version_col:
            base = base.withColumn(
                version_col, F.lit(None).cast("int")
            )
        return base
    out = spark.read.parquet(*[r["file"] for r in added])
    if version_col:
        out = out.withColumn(
            version_col,
            F.regexp_extract(F.input_file_name(), r"/v=(\d+)/", 1).cast(
                "int"
            ),
        )
    return out
