"""Metadata sidecars of a manifest table, read and written with
``pyarrow.fs`` + ``pyarrow.parquet`` — no SparkSession, no Spark job.

A table's metadata tier (``_manifest/v=N``, ``_refs/seq=K``,
``_restores``, ``_schema_events``, the manifest list and shards, staged
and branch manifests, the partition-spec manifest ``_specmanifest/v=N``
and the per-file column stats ``_filestats``) is a handful of parquet
files of O(files x columns) rows. Every table format reads and writes
that tier on the driver (Delta's log, Iceberg's manifests); a
distributed job per few-row file is pure scheduler latency. This module
is the one I/O path for it, shared by the driver
(``operators.manifest``, ``operators.posdeletes``,
``operators.partspec``, ``operators.filestats``) and by the streaming
source's planning worker (``sources.table_appends_datasource``), which
has no session at all.

Three sidecars grow with the data rather than with the file count, so
Spark reads and writes them: the key tombstones ``_deletes`` and the
deletion-vector runs ``_posdeletes`` (one row per deleted key or run),
and the Bloom index ``_filebloom`` (up to ``num_bits`` positions per
file).

Layout conventions match what Spark reads and writes: hive ``k=v``
directories are partition columns, and names starting with ``_`` or
``.`` (``_SUCCESS``, ``_temporary/``, this module's temp files) are
invisible. Files written here read back through ``spark.read.parquet``
with the types of the arrow schema they were written with; callers
write instants as ``timestamp[us, UTC]`` (a naive timestamp reads back
as ``TIMESTAMP_NTZ``).
"""

from __future__ import annotations

import re
import uuid

_V_RE = re.compile(r"^v=(\d+)$")


class UnsupportedFilesystemError(IOError):
    """The table's filesystem scheme has no pyarrow implementation
    here (e.g. ``s3a://``, ``viewfs://``, or ``hdfs://`` without
    libhdfs), so its metadata cannot be read or written."""


class SidecarExistsError(FileExistsError):
    """A non-append write found its target directory already present —
    the version-claim collision signal (Spark's ``errorifexists``)."""


def resolve(path: str):
    """(pyarrow FileSystem, path inside it) for a local path, a
    ``file:`` URI, or any ``scheme://`` URI pyarrow supports (s3, gs,
    hdfs with libhdfs)."""
    import pyarrow.fs as pafs

    if path.startswith("file:"):
        path = re.sub(r"^file:(//)?", "", path)
    if "://" not in path:
        return pafs.LocalFileSystem(), path
    try:
        return pafs.FileSystem.from_uri(path)
    except Exception as e:
        raise UnsupportedFilesystemError(
            f"cannot open {path} with pyarrow.fs: {e}"
        ) from e


def _visible(rel: str) -> bool:
    return not any(seg.startswith(("_", ".")) for seg in rel.split("/"))


def list_files(fs, directory: str) -> list:
    """Visible parquet files under ``directory`` (recursive) as
    ``FileInfo``s, sorted by path; hidden and temp subtrees (a crashed
    writer's ``_temporary/``) are pruned. Empty when it is absent."""
    import pyarrow.fs as pafs

    base = directory.rstrip("/")
    sel = pafs.FileSelector(base, recursive=True, allow_not_found=True)
    return sorted(
        (
            info
            for info in fs.get_file_info(sel)
            if info.type == pafs.FileType.File
            and info.base_name.endswith(".parquet")
            and _visible(info.path[len(base):].lstrip("/"))
        ),
        key=lambda info: info.path,
    )


def committed_versions(fs, root: str, sidecar: str = "_manifest") -> list[int]:
    """Versions under ``root/sidecar`` from the listing alone: a
    ``v=N`` directory counts once it directly holds a visible parquet
    file (a half-written one holds only hidden temp files)."""
    out = set()
    base = f"{root.rstrip('/')}/{sidecar}"
    for info in list_files(fs, base):
        parts = info.path[len(base):].strip("/").split("/")
        m = _V_RE.match(parts[0])
        if m and len(parts) == 2:
            out.add(int(m.group(1)))
    return sorted(out)


def read_table(fs, directory: str, columns=None, max_bytes: int | None = None):
    """The visible parquet files under ``directory`` as one pyarrow
    Table (hive ``k=v`` subdirectories become columns). Returns None
    when they total more than ``max_bytes``; raises IOError when there
    are none (empty or half-written metadata must not read as empty)."""
    import pyarrow.dataset as pds

    files = list_files(fs, directory)
    if not files:
        raise IOError(
            f"{directory} holds no parquet files — empty or half-written "
            "metadata sidecar"
        )
    if max_bytes is not None and sum(f.size for f in files) > max_bytes:
        return None
    return pds.dataset(
        [f.path for f in files],
        filesystem=fs,
        format="parquet",
        partitioning="hive",
        partition_base_dir=directory.rstrip("/"),
    ).to_table(columns=columns)


def write(fs, directory: str, *tables, append: bool = False) -> list[str]:
    """Write each table as one parquet file in ``directory`` and return
    the file paths. Each file is written under a hidden temp name and
    becomes visible by a rename. Without ``append``, an existing
    ``directory`` raises ``SidecarExistsError``."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    directory = directory.rstrip("/")
    if not append and fs.get_file_info(directory).type != pafs.FileType.NotFound:
        raise SidecarExistsError(f"{directory} already exists")
    fs.create_dir(directory, recursive=True)
    token = uuid.uuid4().hex
    out = []
    for i, tbl in enumerate(tables):
        final = f"{directory}/part-{i:05d}-{token}.parquet"
        tmp = f"{directory}/.part-{i:05d}-{token}.parquet.tmp"
        pq.write_table(tbl, tmp, filesystem=fs)
        fs.move(tmp, final)
        out.append(final)
    return out
