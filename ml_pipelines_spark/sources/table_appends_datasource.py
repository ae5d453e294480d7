"""Stream a manifest table's committed versions — the "readStream
from a table" surface (Delta streaming source / Iceberg incremental
read), built on Spark 4's Python DataSource streaming API.

Offsets are COMMITTED VERSION NUMBERS: each micro-batch covers the
versions committed in ``(start, end]``, its input partitions are the
data files those versions appended (one partition per file — the same
parallelism the batch scan gets from the file layout), and executors
read only those files. A consumer therefore pays per increment, never
per table, and restarts resume from the checkpointed version offset —
the ledger the table's own ``stream_upsert_sink`` keeps on the WRITE
side, mirrored on the READ side by Spark's offset log.

Append-only discipline is enforced per batch with the same guards as
:func:`operators.appends.appended_files` (file removals, MoR delete
commits, restores, schema events all raise — a streaming consumer
that silently re-reads compacted rows is a correctness bug, not a
convenience). Non-append maintenance belongs BEFORE the stream's
starting version or in a fresh table epoch.

The planning worker has no SparkSession (same constraint as the CVAT
DataSource, sources/cvat_datasource.py), so it lists and reads the
table's metadata through ``operators.sidecars`` — the same
``pyarrow.fs`` path the batch table layer uses on the driver. Local
paths and any ``scheme://`` filesystem pyarrow supports (s3/gcs/hdfs)
work alike; any other scheme raises
``sidecars.UnsupportedFilesystemError``.

Usage::

    spark.dataSource.register(TableAppendsDataSource)
    stream = (spark.readStream.format("table_appends")
              .option("path", table_path)
              .option("startingVersion", 0)        # default 0 = all
              .option("maxVersionsPerTrigger", 1)  # default: all new
              .load())

Output schema = the table's physical schema + ``_commit_version int``
(the version each row arrived in).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import IntegerType, StructField, StructType

from ..operators.sidecars import committed_versions, read_table
from ..operators.sidecars import resolve as _fs_and_root

VERSION_COL = "_commit_version"


def _manifest_file_set(fs, root: str, version: int) -> set[str]:
    tbl = read_table(fs, f"{root}/_manifest/v={version}", columns=["file"])
    return set(tbl.column("file").to_pylist())


def _sidecar_versions_in(
    fs, root: str, sidecar: str, lo: int, hi: int
) -> list[int]:
    """Commit versions recorded by ``sidecar`` inside ``(lo, hi]``.

    Two sidecar layouts exist (operators/manifest.py): ``_posdeletes``
    is hive-partitioned (``v=N`` dirs — answered from the listing,
    zero bytes read), while ``_restores`` / ``_schema_events`` are
    FLAT append dirs whose version is a ``v`` COLUMN — those need a
    one-column read of the (tiny, event-count-sized) sidecar."""
    parted = committed_versions(fs, root, sidecar)
    if parted:
        return [v for v in parted if lo < v <= hi]
    try:
        col = read_table(fs, f"{root}/{sidecar}", columns=["v"]).column("v")
    except Exception:
        # absent, or unreadable (a crashed writer's wreckage only): the
        # same degrade-to-empty the batch _restore_map applies
        return []
    return sorted({int(v) for v in col.to_pylist() if lo < int(v) <= hi})


class _FileSlice(InputPartition):
    def __init__(self, file_uri: str, version: int):
        self.file_uri = file_uri
        self.version = version


class _TableAppendsStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._path = options["path"]
        self._start = int(options.get("startingversion", "0"))
        mv = options.get("maxversionspertrigger")
        self._max_versions = int(mv) if mv is not None else None
        self._committed = self._start
        self._schema = schema

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        fs, root = _fs_and_root(self._path)
        vs = committed_versions(fs, root)
        latest = vs[-1] if vs else self._start
        if self._max_versions is not None:
            latest = min(latest, self._committed + self._max_versions)
        return {"version": max(latest, self._committed)}

    def partitions(self, start: dict, end: dict):
        from ..operators.appends import NonAppendHistoryError, file_version

        lo, hi = int(start["version"]), int(end["version"])
        # advance the rate-limit watermark HERE, not only in commit():
        # the runner may poll latestOffset for availability before the
        # batch's commit() lands, and a stale watermark would make
        # processAllAvailable stop after one rate-limited batch
        self._committed = max(self._committed, hi)
        if hi <= lo:
            return []
        fs, root = _fs_and_root(self._path)
        for sidecar, what in (
            ("_posdeletes", "MoR delete"),
            ("_restores", "RESTORE"),
            ("_schema_events", "schema-event"),
        ):
            bad = _sidecar_versions_in(fs, root, sidecar, lo, hi)
            if bad:
                raise NonAppendHistoryError(
                    f"{what} commit(s) {bad} inside ({lo}, {hi}] at "
                    f"{self._path}: not an append-only span; start the "
                    "stream after them or use batch snapshot_diff"
                )
        old = _manifest_file_set(fs, root, lo) if lo else set()
        new = _manifest_file_set(fs, root, hi)
        removed = sorted(old - new)
        if removed:
            raise NonAppendHistoryError(
                f"{len(removed)} file(s) removed inside ({lo}, {hi}] at "
                f"{self._path} (compaction/overwrite/expire); not an "
                "append-only span"
            )
        return [
            _FileSlice(f, file_version(f)) for f in sorted(new - old)
        ]

    def read(self, partition: _FileSlice) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        fs, data_path = _fs_and_root(partition.file_uri)
        pf = pq.ParquetFile(data_path, filesystem=fs)
        n_cols = len(self._schema.fields)
        for batch in pf.iter_batches():
            tag = pa.array(
                [partition.version] * batch.num_rows, type=pa.int32()
            )
            cols = list(batch.columns)[: n_cols - 1] + [tag]
            names = [f.name for f in self._schema.fields]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    def commit(self, end: dict) -> None:
        self._committed = max(self._committed, int(end["version"]))


class TableAppendsDataSource(DataSource):
    """format("table_appends") — options: path (required),
    startingVersion (default 0), maxVersionsPerTrigger (default: all
    newly committed versions in one micro-batch)."""

    @classmethod
    def name(cls) -> str:
        return "table_appends"

    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema

        import pyarrow.parquet as pq

        fs, root = _fs_and_root(self.options["path"])
        vs = committed_versions(fs, root)
        if not vs:
            raise ValueError(
                f"no manifest table at {self.options['path']}"
            )
        first = sorted(_manifest_file_set(fs, root, vs[-1]))[0]
        data_fs, data_path = _fs_and_root(first)
        base = from_arrow_schema(pq.read_schema(data_path, filesystem=data_fs))
        return StructType(
            list(base.fields)
            + [StructField(VERSION_COL, IntegerType(), True)]
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _TableAppendsStreamReader(schema, self.options)
