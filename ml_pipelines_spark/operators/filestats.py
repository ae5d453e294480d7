"""Secondary per-file statistics + bloom index for the manifest table —
pruning beyond the sort column.

The manifest's zone map covers only the range-layout column; every
other predicate reads the whole snapshot. Real tables prune more
(Iceberg keeps per-file min/max for EVERY column; Delta adds bloom
index files), and at 100 TB the difference is the table scan:

- ``write_file_stats``: one distributed pass over a snapshot's files
  computing per-file [min, max] for any numeric/timestamp columns
  (``input_file_name()`` + groupBy, the manifest trick generalized),
  stored LONG-FORM (file, col, min_d, max_d) under ``_filestats``.
  Stats are keyed BY FILE, and files are immutable — so stats never go
  stale, need no carrying through metadata-only appends / deletes /
  ALTERs / restores, and a file inherited by fifty later snapshots pays
  for its stats once.
- ``read_pruned_stats``: band read on a SECONDARY column — open only
  files whose recorded [min, max] overlaps, residual filter for
  exactness, tombstones honored. Files with no stats row are
  conservatively kept (stats only ever shrink the read). Pays off
  when the layout clusters the column (Z-order, or natural correlation
  like event_id ~ event time); the residual filter keeps it CORRECT
  either way.
- ``write_file_bloom`` / ``point_lookup``: per-file Bloom bitmaps for a
  point-lookup column the layout does NOT cluster. k double-hashed
  positions per key (Kirsch-Mitzenmacher, same xxhash64 family as
  ``operators.bloom``) collected per file as a distinct-position array;
  a lookup probes the sidecar IN SPARK (array_contains on k positions),
  collects the surviving file list (O(files) driver rows — the same
  bound as manifest planning), and opens only those. No false
  negatives; fpp ~ fill**k, stated per call. The 100 TB shape: a
  needle-in-haystack key opens the handful of files that contain it
  instead of scanning the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest import (
    _apply_tombstones,
    _delete_keys,
    _file_origin,
    _manifest_rows,
    _sidecar_exists,
)

_BLOOM_SEED = 0x9E3779B9


def write_file_stats(
    spark: SparkSession,
    path: str,
    cols: list[str],
    version: int | None = None,
) -> int:
    """Record per-file [min, max] for ``cols`` over one snapshot's
    files (default latest), skipping files that already have stats for
    all requested columns (file-keyed = immutable = write-once).
    Returns the number of (file, col) stat rows written."""
    manifest, _ = _manifest_rows(spark, path, version)
    files = [r["file"] for r in manifest]
    done: set[tuple[str, str]] = set()
    # Existence-probe the sidecar instead of catching the read error:
    # "no sidecar yet" is a filesystem fact, and a sidecar that EXISTS
    # but fails to read is corruption that must surface, not silently
    # degrade into duplicate stats rows (manifest._sidecar_exists).
    if _sidecar_exists(spark, path, "_filestats"):
        for r in (
            spark.read.parquet(f"{path}/_filestats")
            .select("file", "col")
            .collect()
        ):
            done.add((r["file"], r["col"]))
    todo = [
        f for f in files if any((f, c) not in done for c in cols)
    ]
    if not todo:
        return 0
    df = spark.read.parquet(*todo).select(
        F.input_file_name().alias("file"),
        *[F.col(c).cast("double").alias(c) for c in cols],
    )
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
    wide = df.groupBy("file").agg(*aggs)
    long = wide.select(
        "file",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"__min_{c}").alias("min_d"),
                        F.col(f"__max_{c}").alias("max_d"),
                    )
                    for c in cols
                ]
            )
        ).alias("s"),
    ).select("file", "s.col", "s.min_d", "s.max_d")
    # drop (file, col) pairs already recorded (a later call with an
    # extended column list re-scans the file but must not duplicate)
    if done:
        existing = spark.createDataFrame(
            list(done), "file string, col string"
        )
        long = long.join(existing, ["file", "col"], "left_anti")
    n = long.count()
    long.repartition(1).write.mode("append").parquet(f"{path}/_filestats")
    return n


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
    (unknown files kept), residual-filter for exactness, tombstones
    honored. Mirrors ``manifest.read_pruned`` for non-sort columns."""
    manifest, v = _manifest_rows(spark, path, version)
    files = [r["file"] for r in manifest]
    if not files:
        return spark.read.parquet(f"{path}/v={v}").filter(F.lit(False))
    bounds: dict[str, tuple[float, float]] = {}
    # Existence probe, not exception-as-control-flow: a corrupted
    # sidecar raises instead of silently reading every file.
    if _sidecar_exists(spark, path, "_filestats"):
        for r in (
            spark.read.parquet(f"{path}/_filestats")
            .filter(F.col("col") == col)
            .collect()
        ):
            bounds[r["file"]] = (r["min_d"], r["max_d"])
    keep = [
        f
        for f in files
        if f not in bounds
        or not (bounds[f][1] < float(lo) or bounds[f][0] > float(hi))
    ]
    band = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if not keep:
        return spark.read.parquet(*files).filter(F.lit(False))
    out = spark.read.parquet(*keep).filter(band)
    dels = _delete_keys(
        spark, path, v, min_origin=min(_file_origin(f) for f in keep)
    )
    if dels is not None:
        key = [c for c in dels.columns if c != "v"][0]
        out = _apply_tombstones(out, dels, key)
    return out


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
    manifest, _ = _manifest_rows(spark, path, version)
    files = [r["file"] for r in manifest]
    bounds: dict[str, tuple[float, float]] = {}
    for r in (
        spark.read.parquet(f"{path}/_filestats")
        .filter(F.col("col") == col)
        .collect()
    ):
        bounds[r["file"]] = (r["min_d"], r["max_d"])
    keep = sum(
        1
        for f in files
        if f not in bounds
        or not (bounds[f][1] < float(lo) or bounds[f][0] > float(hi))
    )
    return keep, len(files)


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
    files = [r["file"] for r in manifest]
    done: set[str] = set()
    # Existence probe, not exception-as-control-flow (see write_file_stats).
    if _sidecar_exists(spark, path, "_filebloom"):
        for r in (
            spark.read.parquet(f"{path}/_filebloom")
            .filter(
                (F.col("col") == col)
                & (F.col("num_bits") == num_bits)
                & (F.col("num_hashes") == num_hashes)
            )
            .select("file")
            .collect()
        ):
            done.add(r["file"])
    todo = [f for f in files if f not in done]
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


def point_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    version: int | None = None,
    num_bits: int = 1 << 17,
    num_hashes: int = 3,
) -> DataFrame:
    """Point lookup through the Bloom sidecar: compute the probe's k
    positions (a 1-row Spark job, so build and probe share xxhash64
    bit-for-bit), keep only the snapshot's files whose bitmap contains
    ALL k (unindexed files conservatively kept), and read just those
    with the equality re-applied as a residual filter — no false
    negatives, tombstones honored."""
    manifest, v = _manifest_rows(spark, path, version)
    files = [r["file"] for r in manifest]
    if not files:
        return spark.read.parquet(f"{path}/v={v}").filter(F.lit(False))
    probe = (
        spark.range(1)
        .select(
            *[
                p.alias(f"p{i}")
                for i, p in enumerate(
                    _bloom_positions(F.lit(value), num_bits, num_hashes)
                )
            ]
        )
        .collect()[0]
    )
    positions = [int(probe[i]) for i in range(num_hashes)]
    indexed: set[str] = set()
    hit: set[str] = set()
    # Existence probe, not exception-as-control-flow (see write_file_stats).
    if _sidecar_exists(spark, path, "_filebloom"):
        cond = F.lit(True)
        for p in positions:
            cond = cond & F.array_contains("positions", p)
        rows = (
            spark.read.parquet(f"{path}/_filebloom")
            .filter(
                (F.col("col") == col)
                & (F.col("num_bits") == num_bits)
                & (F.col("num_hashes") == num_hashes)
            )
            .select("file", cond.alias("hit"))
            .collect()
        )
        for r in rows:
            indexed.add(r["file"])
            if r["hit"]:
                hit.add(r["file"])
    keep = [f for f in files if f not in indexed or f in hit]
    eq = F.col(col) == F.lit(value)
    if not keep:
        return spark.read.parquet(*files).filter(F.lit(False))
    out = spark.read.parquet(*keep).filter(eq)
    dels = _delete_keys(
        spark, path, v, min_origin=min(_file_origin(f) for f in keep)
    )
    if dels is not None:
        key = [c for c in dels.columns if c != "v"][0]
        out = _apply_tombstones(out, dels, key)
    return out


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
    manifest, _ = _manifest_rows(spark, path, version)
    files = [r["file"] for r in manifest]
    probe = (
        spark.range(1)
        .select(
            *[
                p.alias(f"p{i}")
                for i, p in enumerate(
                    _bloom_positions(F.lit(value), num_bits, num_hashes)
                )
            ]
        )
        .collect()[0]
    )
    positions = [int(probe[i]) for i in range(num_hashes)]
    cond = F.lit(True)
    for p in positions:
        cond = cond & F.array_contains("positions", p)
    rows = (
        spark.read.parquet(f"{path}/_filebloom")
        .filter(
            (F.col("col") == col)
            & (F.col("num_bits") == num_bits)
            & (F.col("num_hashes") == num_hashes)
        )
        .select("file", cond.alias("hit"))
        .collect()
    )
    indexed = {r["file"] for r in rows}
    hit = {r["file"] for r in rows if r["hit"]}
    keep = sum(1 for f in files if f not in indexed or f in hit)
    return keep, len(files)


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
    from .manifest import (
        CommitConflict,
        _abort_claim,
        _claim_version,
        _commit_manifest,
        _latest_version,
    )

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
            from .manifest import _fs

            fs, jvm = _fs(spark, path)
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{path}/_manifest/v={version}"
                ),
                True,
            )
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
    residual filters, tombstones honored."""
    manifest, v = _manifest_rows(spark, path, version)
    files = [r["file"] for r in manifest]
    if not files:
        return spark.read.parquet(f"{path}/v={v}").filter(F.lit(False))
    bounds: dict[tuple[str, str], tuple[float, float]] = {}
    # Existence probe, not exception-as-control-flow (see write_file_stats).
    if _sidecar_exists(spark, path, "_filestats"):
        for r in (
            spark.read.parquet(f"{path}/_filestats")
            .filter(F.col("col").isin([band_a[0], band_b[0]]))
            .collect()
        ):
            bounds[(r["file"], r["col"])] = (r["min_d"], r["max_d"])

    def _ok(f: str, col: str, lo: float, hi: float) -> bool:
        b = bounds.get((f, col))
        return b is None or not (b[1] < float(lo) or b[0] > float(hi))

    keep = [
        f
        for f in files
        if _ok(f, *band_a) and _ok(f, *band_b)
    ]
    ca, cb = F.col(band_a[0]), F.col(band_b[0])
    rect = (
        (ca >= F.lit(band_a[1]))
        & (ca <= F.lit(band_a[2]))
        & (cb >= F.lit(band_b[1]))
        & (cb <= F.lit(band_b[2]))
    )
    if not keep:
        return spark.read.parquet(*files).filter(F.lit(False))
    out = spark.read.parquet(*keep).filter(rect)
    dels = _delete_keys(
        spark, path, v, min_origin=min(_file_origin(f) for f in keep)
    )
    if dels is not None:
        key = [c for c in dels.columns if c != "v"][0]
        out = _apply_tombstones(out, dels, key)
    return out
