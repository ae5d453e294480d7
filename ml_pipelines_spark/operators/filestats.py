"""Secondary per-file statistics + bloom index for the manifest table —
pruning beyond the sort column.

The manifest's zone map covers only the range-layout column; every
other predicate reads the whole snapshot. Real tables prune more
(Iceberg keeps per-file min/max for EVERY column; Delta adds bloom
index files), and at 100 TB the difference is the table scan:

- ``write_file_stats``: one distributed aggregate over a snapshot's
  files computing per-file [min, max] for any numeric/timestamp
  columns (``input_file_name()`` + groupBy, the manifest trick
  generalized, timestamps as epoch seconds), appended on the driver
  LONG-FORM (file, col, min_d, max_d) under ``_filestats``. Stats are
  keyed BY FILE, and files are immutable — so stats never go stale,
  need no carrying through metadata-only appends / deletes / ALTERs /
  restores, and a file inherited by fifty later snapshots pays for its
  stats once.
- ``read_pruned_stats`` / ``read_pruned_rect``: band reads on
  SECONDARY columns — open only files whose recorded [min, max]
  overlaps every band, residual filter for exactness. Files with no
  stats row are conservatively kept (stats only ever shrink the
  read). Pays off when the layout clusters the column
  (Z-order, or natural correlation like event_id ~ event time); the
  residual filter keeps it CORRECT either way. ``_filestats`` is
  O(files x columns) metadata, read on the driver through
  ``operators.sidecars`` — planning a band read runs no Spark job.
- ``write_file_bloom`` / ``point_lookup``: per-file Bloom bitmaps for a
  point-lookup column the layout does NOT cluster. k double-hashed
  positions per key (Kirsch-Mitzenmacher, same xxhash64 family as
  ``operators.bloom``) collected per file as a distinct-position array;
  a lookup probes the sidecar IN SPARK (array_contains on k positions),
  collects the surviving file list (O(files) driver rows — the same
  bound as manifest planning), and opens only those. No false
  negatives; fpp ~ fill**k, stated per call. ``_filebloom`` stays on
  Spark: each row holds up to ``num_bits`` positions, so it grows with
  the data, not with the file count. The 100 TB shape: a
  needle-in-haystack key opens the handful of files that contain it
  instead of scanning the table.

Each reader shares its keep-set rule with its ``*_file_count`` twin,
so the counted evidence is the plan the reader runs. An absent sidecar
keeps every file; a present one that cannot be read raises. The kept
files are read through ``manifest._read_live``, the table layer's one
live-row reader: every reader here honours tombstones and DV runs and
replays schema events, exactly like ``read_snapshot``.
"""

from __future__ import annotations

import datetime
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sidecars
from .manifest import (
    CommitConflict,
    _abort_claim,
    _band,
    _claim_version,
    _commit_manifest,
    _latest_version,
    _manifest_rows,
    _meta,
    _read_live,
)

_BLOOM_SEED = 0x9E3779B9


def _present(spark: SparkSession, path: str, name: str) -> bool:
    """Whether sidecar ``name`` holds a visible file. An absent one
    means "nothing indexed"; a present one that cannot be read raises
    at its read (corruption must not degrade into a full-table read or
    duplicate index rows)."""
    fs, root = _meta(spark, path)
    return bool(sidecars.list_files(fs, f"{root}/{name}"))


def _stats_bounds(
    spark: SparkSession, path: str, cols
) -> dict[tuple[str, str], tuple]:
    """{(file, col): (min_d, max_d)} of the ``_filestats`` rows for
    ``cols``, read on the driver; empty when the sidecar is absent."""
    if not _present(spark, path, "_filestats"):
        return {}
    fs, root = _meta(spark, path)
    return {
        (r["file"], r["col"]): (r["min_d"], r["max_d"])
        for r in sidecars.read_table(fs, f"{root}/_filestats").to_pylist()
        if r["col"] in cols
    }


def _num(bound) -> float:
    """A band bound on the scale the stats are stored in (the column
    cast to double). A datetime is the instant ``F.lit`` of it denotes
    in the residual filter — naive ones in the process tz — as epoch
    seconds, so pruning and filter agree on any driver tz."""
    if isinstance(bound, datetime.datetime):
        return bound.timestamp()
    return float(bound)


def _stats_plan(spark: SparkSession, path: str, bands, version):
    """(snapshot files, files to open, version) for band predicates
    ``bands`` = [(col, lo, hi), ...]: a file is opened unless its
    recorded [min, max] for some band's column misses that band
    (unknown stats keep the file — stats only ever shrink the read)."""
    manifest, v = _manifest_rows(spark, path, version)
    files = [r["file"] for r in manifest]
    bounds = _stats_bounds(spark, path, {c for c, _, _ in bands})

    def ok(f, col, lo, hi) -> bool:
        b = bounds.get((f, col))
        if b is None or b[0] is None:
            return True
        return not (b[1] < _num(lo) or b[0] > _num(hi))

    return files, [f for f in files if all(ok(f, *b) for b in bands)], v


def _in_bands(bands):
    """The residual predicate of band reads ``bands`` = [(col, lo, hi),
    ...], as ``manifest._read_live`` takes it."""
    return lambda df: reduce(
        lambda a, b: a & b, [_band(df, c, lo, hi) for c, lo, hi in bands]
    )


def write_file_stats(
    spark: SparkSession,
    path: str,
    cols: list[str],
    version: int | None = None,
) -> int:
    """Record per-file [min, max] for ``cols`` over one snapshot's
    files (default latest), skipping files that already have stats for
    all requested columns (file-keyed = immutable = write-once).
    Returns the number of (file, col) stat rows written. One Spark
    aggregate over the files to index; the rows are appended to
    ``_filestats`` on the driver."""
    import pyarrow as pa

    manifest, _ = _manifest_rows(spark, path, version)
    done = _stats_bounds(spark, path, cols)
    todo = [
        r["file"]
        for r in manifest
        if any((r["file"], c) not in done for c in cols)
    ]
    if not todo:
        return 0
    wide = (
        spark.read.parquet(*todo)
        .select(
            F.input_file_name().alias("file"),
            *[F.col(c).cast("double").alias(c) for c in cols],
        )
        .groupBy("file")
        .agg(
            *[F.min(c).alias(f"__min_{c}") for c in cols],
            *[F.max(c).alias(f"__max_{c}") for c in cols],
        )
        .collect()
    )
    # drop (file, col) pairs already recorded (a later call with an
    # extended column list re-scans the file but must not duplicate)
    rows = [
        {
            "file": r["file"],
            "col": c,
            "min_d": r[f"__min_{c}"],
            "max_d": r[f"__max_{c}"],
        }
        for r in wide
        for c in cols
        if (r["file"], c) not in done
    ]
    if rows:
        schema = pa.schema(
            {
                "file": pa.string(),
                "col": pa.string(),
                "min_d": pa.float64(),
                "max_d": pa.float64(),
            }
        )
        fs, root = _meta(spark, path)
        tbl = pa.Table.from_pylist(rows, schema=schema)
        sidecars.write(fs, f"{root}/_filestats", tbl, append=True)
    return len(rows)


def read_pruned_stats(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Band read on a secondary-stats column: open only the snapshot's
    files whose recorded [min, max] for ``col`` overlaps [lo, hi]
    (unknown files kept), residual-filter for exactness. Mirrors
    ``manifest.read_pruned`` for non-sort columns."""
    bands = [(col, lo, hi)]
    _, keep, v = _stats_plan(spark, path, bands, version)
    return _read_live(spark, path, v, keep, _in_bands(bands))


def pruned_stats_file_count(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[int, int]:
    """(files kept, files total) for a secondary-column band — the
    skipping evidence."""
    files, keep, _ = _stats_plan(spark, path, [(col, lo, hi)], version)
    return len(keep), len(files)


def _bloom_positions(col, num_bits: int, num_hashes: int) -> list:
    """k double-hashed bit positions for a key expression — the same
    Kirsch-Mitzenmacher construction as ``operators.bloom``, kept
    mod-reduced so ANSI mode never overflows. The key is canonicalized
    to STRING first: xxhash64 is type-sensitive, and the probe side
    passes a Python literal whose Spark type (int) need not match the
    stored column's (bigint) — hashing the string form makes build and
    probe agree bit-for-bit."""
    c = col.cast("string")
    m = F.lit(num_bits)
    h1 = F.pmod(F.xxhash64(c), m)
    h2 = F.pmod(F.xxhash64(F.lit(_BLOOM_SEED), c), m)
    return [F.pmod(h1 + F.lit(i) * h2, m) for i in range(num_hashes)]


def _bloom_filter(col: str, num_bits: int, num_hashes: int) -> Column:
    return (
        (F.col("col") == col)
        & (F.col("num_bits") == num_bits)
        & (F.col("num_hashes") == num_hashes)
    )


def write_file_bloom(
    spark: SparkSession,
    path: str,
    col: str,
    version: int | None = None,
    num_bits: int = 1 << 17,
    num_hashes: int = 3,
) -> int:
    """Per-file Bloom bitmaps for ``col`` over one snapshot's files
    (default latest), stored as distinct-position arrays under
    ``_filebloom`` — file-keyed and immutable like ``_filestats``.
    Files already indexed for ``col`` are skipped. fpp per file is
    roughly (distinct_keys * num_hashes / num_bits) ** num_hashes;
    size the bits to the per-file key count (the compactor's
    target_rows), not the table. Returns files indexed."""
    manifest, _ = _manifest_rows(spark, path, version)
    done: set[str] = set()
    if _present(spark, path, "_filebloom"):
        done = {
            r["file"]
            for r in spark.read.parquet(f"{path}/_filebloom")
            .filter(_bloom_filter(col, num_bits, num_hashes))
            .select("file")
            .collect()
        }
    todo = [r["file"] for r in manifest if r["file"] not in done]
    if not todo:
        return 0
    df = spark.read.parquet(*todo).select(
        F.input_file_name().alias("file"), F.col(col).alias("__k")
    )
    blooms = (
        df.select(
            "file",
            F.explode(
                F.array(*_bloom_positions(F.col("__k"), num_bits, num_hashes))
            ).alias("pos"),
        )
        .groupBy("file")
        .agg(F.collect_set("pos").alias("positions"))
        .select(
            "file",
            F.lit(col).alias("col"),
            F.lit(num_bits).alias("num_bits"),
            F.lit(num_hashes).alias("num_hashes"),
            "positions",
        )
    )
    blooms.repartition(1).write.mode("append").parquet(f"{path}/_filebloom")
    return len(todo)


def _bloom_plan(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    version,
    num_bits: int,
    num_hashes: int,
):
    """(snapshot files, files to open, version) for a point lookup:
    compute the probe's k positions (a 1-row Spark job, so build and
    probe share xxhash64 bit-for-bit) and keep the files whose bitmap
    holds ALL k; unindexed files — every file when ``_filebloom`` is
    absent — are kept."""
    manifest, v = _manifest_rows(spark, path, version)
    files = [r["file"] for r in manifest]
    if not files or not _present(spark, path, "_filebloom"):
        return files, files, v
    probe = (
        spark.range(1)
        .select(*_bloom_positions(F.lit(value), num_bits, num_hashes))
        .collect()[0]
    )
    hit = reduce(
        lambda a, b: a & b,
        [F.array_contains("positions", int(p)) for p in probe],
    )
    rows = (
        spark.read.parquet(f"{path}/_filebloom")
        .filter(_bloom_filter(col, num_bits, num_hashes))
        .select("file", hit.alias("hit"))
        .collect()
    )
    missed = {r["file"] for r in rows} - {r["file"] for r in rows if r["hit"]}
    return files, [f for f in files if f not in missed], v


def point_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    version: int | None = None,
    num_bits: int = 1 << 17,
    num_hashes: int = 3,
) -> DataFrame:
    """Point lookup through the Bloom sidecar: open only the snapshot's
    files whose bitmap contains all k probe positions (unindexed files
    conservatively kept), with the equality re-applied as a residual
    filter — no false negatives."""
    _, keep, v = _bloom_plan(
        spark, path, col, value, version, num_bits, num_hashes
    )
    return _read_live(
        spark, path, v, keep, lambda _: F.col(col) == F.lit(value)
    )


def point_lookup_file_count(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    version: int | None = None,
    num_bits: int = 1 << 17,
    num_hashes: int = 3,
) -> tuple[int, int]:
    """(files opened, files total) for a point lookup — the evidence
    that the bloom actually skips."""
    files, keep, _ = _bloom_plan(
        spark, path, col, value, version, num_bits, num_hashes
    )
    return len(keep), len(files)


def write_manifest_table_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int = 16,
    bits: int = 8,
    curve: str = "morton",
) -> int:
    """Append a snapshot clustered by the MORTON KEY of (col_a, col_b)
    instead of a linear sort — each file then owns a small RECTANGLE of
    (a, b) space, so per-file stats prune scans filtered on EITHER
    column (a linearly-sorted table prunes only its sort column; the
    other axis reads everything). The primary manifest zone map records
    col_a's interval per file; ``write_file_stats`` records both axes,
    and ``read_pruned_stats`` serves band reads on either. This is the
    OPTIMIZE ZORDER BY shape for the manifest table — the layout for
    tables queried along two axes (user x time, key x date) at 100 TB.
    ``curve="hilbert"`` clusters by the Hilbert position instead
    (round 10): unit curve steps are unit grid steps, so file regions
    are squarer and fewer files straddle a rectangle's boundary —
    measurably tighter keep sets on the same rectangle-scan harness
    (tests/test_layout.py compares both curves' pruning head to head).
    Returns the new version."""
    from .layout import hilbert_key, zorder_key

    spark = df.sparkSession
    # existence-probed bootstrap: a _manifest that EXISTS but fails to
    # read is corruption and must raise, not fork a parallel v=1
    # history (manifest._latest_version)
    version = (_latest_version(spark, path) or 0) + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"z-ordered write to {path} lost the claim for v={version}"
        )
    data_dir = f"{path}/v={version}"
    if curve == "morton":
        key = zorder_key(df, col_a, col_b, bits)
    elif curve == "hilbert":
        key = hilbert_key(df, col_a, col_b, bits)
    else:
        raise ValueError(f"unknown curve {curve!r} (morton|hilbert)")
    z = df.withColumn("__z", key)
    try:
        (
            z.repartitionByRange(num_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("errorifexists")
            .parquet(data_dir)
        )
        _commit_manifest(spark, path, version, data_dir, col_a)
        write_file_stats(spark, path, [col_a, col_b], version)
    except Exception:
        # failed post-claim commit: back out the partial version and
        # release the claim so the table is not wedged (ADVICE r9).
        # Unlike the manifest.py writers the manifest write is NOT the
        # last step here (the stats pass follows), so the abort must
        # also un-commit the manifest — a manifest referencing a
        # deleted data dir would corrupt the table. Stranded _filestats
        # rows are harmless: stats are consulted only for files the
        # live manifest lists.
        try:
            fs, root = _meta(spark, path)
            fs.delete_dir(f"{root}/_manifest/v={version}")
        except Exception:
            pass
        _abort_claim(spark, path, version)
        raise
    return version


def read_pruned_rect(
    spark: SparkSession,
    path: str,
    band_a: tuple[str, float, float],
    band_b: tuple[str, float, float],
    version: int | None = None,
) -> DataFrame:
    """Rectangle read: open only files whose recorded [min, max]
    overlaps BOTH bands (the Z-order payoff — the keep set is the
    intersection of the two axes' keep sets), both bands re-applied as
    residual filters."""
    bands = [band_a, band_b]
    _, keep, v = _stats_plan(spark, path, bands, version)
    return _read_live(spark, path, v, keep, _in_bands(bands))
