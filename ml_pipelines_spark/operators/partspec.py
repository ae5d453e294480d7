"""Partition-spec evolution — Iceberg-style per-file partition tuples.

Hive layout bakes ONE partitioning into the directory tree forever; at
100 TB the right partitioning changes as the table grows (status works
at GB scale, ingest month at TB scale), and rewriting history to adopt
the new layout is exactly the O(table) cost a table format exists to
avoid. Iceberg solves this by recording each data file's partition
TUPLE (under the spec that produced it) in table metadata instead of in
the path: old files keep their old spec, new files use the new one, and
the planner prunes every file under the spec it was written with
(Iceberg format spec, "Partition Evolution"). This module implements
that contract natively in Spark:

- ``write_spec_snapshot``: appends ``df`` as the next table version,
  physically grouped so every data file holds exactly ONE value tuple
  of the ACTIVE spec's columns; the manifest row carries the file's
  tuple as a ``map<col,string>`` (a column absent from the map means
  the file predates — or postdates — that spec).
- ``read_spec_pruned``: keeps a file iff EVERY equality predicate on a
  column PRESENT in the file's tuple matches the tuple; a predicate on
  a column the file's spec never recorded keeps the file (the residual
  filter restores exactness). Pruning is metadata-only — skipped files
  are never opened, not even their footers.

The manifest (``_specmanifest/v=N``, one row per file per version) is
table metadata: it is listed, read and written on the driver through
``operators.sidecars``, never by a Spark job. Spark runs only the data
work — the write, one per-file aggregate over the files just written,
and a compaction's rewrite.

Spec entries are identity columns or NATIVE transforms —
``bucket(N,col)`` / ``truncate(W,col)`` (Iceberg format spec,
"Partition Transforms"): the writer materializes the transformed
value, the manifest records it under the canonical transform key, and
``read_spec_pruned`` maps an equality predicate on the SOURCE column
to the transformed target (bucket ids computed by Spark's own hash on
both paths, so write and read can never disagree), pruning a
high-cardinality key to one bucket. Derived-column transforms like
``month(ts)`` are expressed by materializing the column first (see
``o_month`` in queries/evolution.py). Partition columns must be
non-null (enforced at write — a null would vanish into Hive's
default-partition dir and stop matching any equality predicate).

Reference parity: permaling/ml-pipelines partitions datasets once, by
``image_name``/``item_id``, and its own TODO regrets the choice
(TrainDatasets.py:383-385 "partition only by item_id - it will be
faster"). Spec evolution is the operation that regret calls for.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sidecars
from .filestats import _num
from .manifest import (
    CommitConflict,
    _abort_claim,
    _claim_version,
    _latest_version,
    _meta,
    ledgered_batch_sink,
)

_MANIFEST = "_specmanifest"

# Iceberg-style partition TRANSFORMS (format spec §"Partition
# Transforms"): a spec entry is either a plain column name (identity)
# or "bucket(N,col)" / "truncate(W,col)". Transforms are how a
# high-cardinality key becomes prunable — the reference's pathological
# per-image partitioning (TrainDatasets.py:383-385) is exactly the
# case bucket() exists for: 16 buckets instead of one directory per
# image, and an equality predicate still prunes to ONE bucket.
#
# Hashing discipline: the bucket is pmod(hash(cast(col AS string)), N)
# computed BY SPARK on both the write path (column expression) and the
# read path (a one-row literal job), so write and read can never
# disagree on a bucket id — the same rule operators/bucketing.py uses
# for co-located joins. Values are compared on their cast-to-string
# rendering (see _norm), matching the identity-transform convention.
_TRANSFORM_RE = re.compile(
    r"^(bucket|truncate)\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$"
)


class _SpecField:
    """One parsed spec entry: canonical manifest key, source column,
    and the Spark expression producing the partition VALUE (string)."""

    def __init__(self, raw: str):
        m = _TRANSFORM_RE.match(raw)
        if m:
            self.kind, n, self.source = m.group(1), int(m.group(2)), m.group(3)
            if n <= 0:
                raise ValueError(f"transform width/buckets must be >0: {raw}")
            self.param = n
            self.key = f"{self.kind}({n},{self.source})"
        else:
            self.kind, self.param = "identity", None
            self.source = self.key = raw
        # shadow/in-file column names must be dir-safe (no parens)
        safe = re.sub(r"[^A-Za-z0-9_]", "_", self.key)
        self.shadow, self.infile = f"_p_{safe}", f"_v_{safe}"

    def value_expr(self) -> Column:
        s = F.col(self.source).cast("string")
        if self.kind == "bucket":
            return F.pmod(F.hash(s), F.lit(self.param)).cast("string")
        if self.kind == "truncate":
            return F.substring(s, 1, self.param)
        return s

    def value_of(self, spark: SparkSession, v) -> str:
        """The partition value a literal predicate maps to — computed
        BY SPARK for bucket() so it can never drift from the write
        path's hash."""
        if self.kind == "bucket":
            row = (
                spark.range(1)
                .select(
                    F.pmod(
                        F.hash(F.lit(_norm(v))), F.lit(self.param)
                    ).alias("b")
                )
                .collect()[0]
            )
            return str(int(row["b"]))
        if self.kind == "truncate":
            return _norm(v)[: self.param]
        return _norm(v)


def _parse_spec(spec_cols: list[str]) -> list[_SpecField]:
    return [_SpecField(c) for c in spec_cols]


def spec_versions(spark: SparkSession, path: str) -> list[int]:
    """Table versions present at ``path``, ascending — from the
    ``_specmanifest`` listing alone."""
    return sidecars.committed_versions(*_meta(spark, path), _MANIFEST)


def _write_manifest(
    spark: SparkSession, path: str, version: int, rows: list[dict]
) -> None:
    """Write ``_specmanifest/v=<version>`` as one driver-side file in
    the stored layout; a key a row lacks is null."""
    import pyarrow as pa

    schema = pa.schema(
        {
            "file": pa.string(),
            "n_rows": pa.int64(),
            "part": pa.map_(pa.string(), pa.string()),
            "origin": pa.int32(),
            "stat_col": pa.string(),
            "stat_min": pa.float64(),
            "stat_max": pa.float64(),
        }
    )
    fs, root = _meta(spark, path)
    sidecars.write(
        fs,
        f"{root}/{_MANIFEST}/v={version}",
        pa.Table.from_pylist(rows, schema=schema),
    )


def write_spec_snapshot(
    df: DataFrame, path: str, spec_cols: list[str],
    stats_col: str | None = None,
) -> int:
    """Append ``df`` as the next version under the ACTIVE spec
    ``spec_cols``; prior versions' files are carried forward verbatim
    (append semantics — an ingest batch costs the batch, never the
    table). Returns the new version number.

    Physical layout: one directory per spec tuple (shadow ``_p_*``
    partition columns so the REAL columns stay inside the files —
    explicit-file-list reads must not depend on path parsing), one file
    per tuple. The manifest row stores the tuple as map<col,string>,
    plus — when ``stats_col`` is set — that column's per-file
    [min, max] (Iceberg column stats), so band predicates prune files
    INSIDE surviving tuples. Files written without stats (or with stats
    on another column) are conservatively kept by band reads.

    Spark runs the data write and one per-file aggregate over the
    written files (tuple, row count, stats and the null check); the
    manifest is carried and written on the driver.
    """
    spark = df.sparkSession
    fields = _parse_spec(spec_cols)
    missing = [f.source for f in fields if f.source not in df.columns]
    if missing:
        raise KeyError(f"spec columns not in frame: {missing}")
    # same atomic commit point as the manifest table layer; existence-
    # probed bootstrap (a _specmanifest that EXISTS but fails to read
    # is corruption and must raise, not fork a parallel v=1 history)
    version = (_latest_version(spark, path, _MANIFEST) or 0) + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"spec write to {path} lost the claim for v={version}"
        )
    data_dir = f"{path}/v={version}"
    shadows = [f.shadow for f in fields]
    # _v_* twins carry the EXACT string value inside the files:
    # directory-read partition inference re-types dir names ("007" ->
    # int 7 -> "7"), which would silently break _keep's string
    # equality for numeric-looking or boolean values; the in-file twin
    # is inference-proof
    values = [f.infile for f in fields]
    out = df
    for fld in fields:
        expr = fld.value_expr()
        out = out.withColumn(fld.shadow, expr).withColumn(
            fld.infile, expr
        )
    # null sources, not _v_* values: bucket() hashes a null to a bucket
    has_null = " OR ".join(f"`{f.source}` IS NULL" for f in fields)
    stat = F.col(stats_col) if stats_col else F.lit(None)
    try:
        (
            out.repartition(*[F.col(pc) for pc in shadows])
            .write.mode("errorifexists")
            .partitionBy(*shadows)
            .parquet(data_dir)
        )
        per_file = (
            spark.read.parquet(data_dir)
            .select(
                F.input_file_name().alias("file"),
                F.expr(has_null or "false").alias("has_null"),
                *values,
                stat.cast("double").alias("stat"),
            )
            .groupBy("file")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.max("has_null").alias("has_null"),
                *[F.first(vc).alias(vc) for vc in values],
                F.min("stat").alias("stat_min"),
                F.max("stat").alias("stat_max"),
            )
            .collect()
        )
        # a null partition value would vanish into Hive's default-
        # partition dir and stop matching any equality predicate
        if any(r["has_null"] for r in per_file):
            raise ValueError(f"null partition value in spec {spec_cols}")
        new = [
            {
                **r.asDict(),
                "part": {f.key: r[f.infile] for f in fields},
                "origin": version,
                "stat_col": stats_col,
            }
            for r in per_file
        ]
        if version > 1:
            new = _manifest_rows(spark, path, version - 1)[0] + new
        _write_manifest(spark, path, version, new)
    except Exception:
        # failed post-claim commit: drop the partial data dir, release
        # the claim (manifest._abort_claim) so the spec table is not
        # wedged, and surface the real error (ADVICE r9)
        _abort_claim(spark, path, version)
        raise
    return version


def _manifest_rows(spark: SparkSession, path: str, version: int | None):
    """(rows, version) of one ``_specmanifest`` version — the latest
    when ``version`` is None. Only that version's file is opened, so
    planning cost does not grow with the table's history."""
    fs, root = _meta(spark, path)
    vs = sidecars.committed_versions(fs, root, _MANIFEST)
    v = version if version is not None else max(vs, default=None)
    if v not in vs:
        raise ValueError(f"no version v={v} at {path}")
    rows = sidecars.read_table(fs, f"{root}/{_MANIFEST}/v={v}").to_pylist()
    for r in rows:
        # pyarrow yields a map as a list of (key, value) pairs
        r["part"] = dict(r["part"] or ())
    return rows, v


def _norm(v) -> str:
    """Caller-value -> manifest-string normalization: the manifest
    stores Spark's cast-to-string rendering, so booleans are
    lowercase."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _eq_targets(
    spark: SparkSession, manifest: list, eq: dict
) -> dict[str, str]:
    """{manifest part key -> expected partition value} for the
    equality predicates ``eq`` (keyed by SOURCE column): identity keys
    map to the value's string rendering; transform keys whose source
    column is predicated map to the TRANSFORMED value — the bucket id
    computed by Spark's own hash (one 1-row job per bucketed key), the
    truncate prefix directly. Keys over unpredicated columns are
    absent, so files recording them are kept (residual restores
    exactness)."""
    keys: set[str] = set()
    for r in manifest:
        keys.update(r["part"])
    targets: dict[str, str] = {}
    for k in keys:
        m = _TRANSFORM_RE.match(k)
        if m:
            if m.group(3) in eq:
                targets[k] = _SpecField(k).value_of(spark, eq[m.group(3)])
        elif k in eq:
            targets[k] = _norm(eq[k])
    return targets


def _keep(row, targets: dict[str, str]) -> bool:
    part = row["part"]
    return all(part[k] == v for k, v in targets.items() if k in part)


def _keep_band(row, band) -> bool:
    """File-stats overlap check: keep unless this file carries stats
    for the band's column that prove disjointness (unknown stats or a
    different stats column keep the file — conservative). The bounds
    compare on the stored double scale (``filestats._num``)."""
    if band is None:
        return True
    col, lo, hi = band
    if row["stat_col"] != col or row["stat_min"] is None:
        return True
    return not (row["stat_max"] < _num(lo) or row["stat_min"] > _num(hi))


def _drop_shadows(df: DataFrame) -> DataFrame:
    """``df`` without the spec's shadow columns: the ``_v_*`` twins in
    the files and the ``_p_*`` dirs an explicit-file-list read may
    still infer as partition columns (the real columns are in the
    files)."""
    return df.drop(*[c for c in df.columns if c.startswith(("_p_", "_v_"))])


def _spec_plan(spark: SparkSession, path: str, eq: dict, version, band):
    """(snapshot files, files kept, version): the one keep rule of
    ``read_spec_pruned`` and ``spec_pruned_file_count``."""
    manifest, v = _manifest_rows(spark, path, version)
    targets = _eq_targets(spark, manifest, eq)
    keep = [
        r["file"]
        for r in manifest
        if _keep(r, targets) and _keep_band(r, band)
    ]
    return [r["file"] for r in manifest], keep, v


def read_spec_pruned(
    spark: SparkSession,
    path: str,
    eq: dict,
    version: int | None = None,
    band: tuple | None = None,
) -> DataFrame:
    """Read one version through per-file spec pruning: a file written
    under a spec that RECORDS a predicate column must match it; a file
    whose spec never recorded the column survives pruning and is
    filtered by the residual predicate instead. ``band=(col, lo, hi)``
    additionally skips files whose recorded [min, max] stats for that
    column miss the band (both prunings are metadata-only; residual
    filters restore exactness). ``version=None`` reads the latest;
    earlier versions time-travel."""
    files, keep, v = _spec_plan(spark, path, eq, version, band)
    if keep:
        out = spark.read.parquet(*keep)
    else:
        # schema from a real data file (a directory probe would infer
        # spurious partition columns like compaction's g=)
        empty = files[0] if files else f"{path}/v={v}"
        out = spark.read.parquet(empty).filter(F.lit(False))
    out = _drop_shadows(out)
    for c, val in eq.items():
        out = out.filter(F.col(c) == F.lit(val))
    if band is not None:
        col, lo, hi = band
        out = out.filter(
            (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        )
    return out


def spec_pruned_file_count(
    spark: SparkSession,
    path: str,
    eq: dict,
    version: int | None = None,
    band: tuple | None = None,
) -> tuple[int, int]:
    """(files kept, files total) for the predicate — the evidence that
    pruning works per-spec (and per-band), checked physically in
    tests."""
    files, keep, _ = _spec_plan(spark, path, eq, version, band)
    return len(keep), len(files)


def compact_spec_snapshot(spark: SparkSession, path: str) -> int:
    """OPTIMIZE for the spec-evolved table: rewrite the LATEST version
    so every partition tuple owns exactly one file (appends under the
    same spec accumulate one file per snapshot per tuple — planning
    cost grows with file count, and small files waste scan setup at
    100 TB). The rewrite groups by each file's recorded tuple, so files
    written under DIFFERENT specs stay separate (their tuples have
    different keys) and the new manifest preserves every tuple
    verbatim. Readers of older versions are untouched (new version,
    new files). Returns the new version."""
    manifest, prev = _manifest_rows(spark, path, None)
    version = prev + 1
    if not _claim_version(spark, path, version):
        raise CommitConflict(
            f"spec compaction at {path} lost the claim for v={version}"
        )
    data_dir = f"{path}/v={version}"
    # group files by identical tuple; one output file per group
    groups: dict[tuple, list] = {}
    for r in manifest:
        key = tuple(sorted(r["part"].items()))
        groups.setdefault(key, []).append(r["file"])
    keys = sorted(groups)
    try:
        # one read and one write for all tuples, so the job count does
        # not grow with them: each row's group id is looked up by its
        # file in a literal map (O(files), like the manifest; a join
        # would cost a broadcast job) and the write partitions by it.
        # mergeSchema: files of different specs carry other shadows
        gid = F.create_map(
            *[
                F.lit(x)
                for gi, key in enumerate(keys)
                for f in groups[key]
                for x in (f, gi)
            ]
        )
        (
            _drop_shadows(
                spark.read.option("mergeSchema", "true").parquet(
                    *[r["file"] for r in manifest]
                )
            )
            .withColumn("g", gid[F.input_file_name()])
            .repartition("g")
            .write.mode("errorifexists")
            .partitionBy("g")
            .parquet(data_dir)
        )
        # per-file row counts from the written files themselves, in one
        # aggregate over the new version (g= names each file's group)
        per_file = (
            spark.read.parquet(data_dir)
            .groupBy(F.input_file_name().alias("file"), "g")
            .count()
            .collect()
        )
        # compaction merges files whose stats may differ; recomputing
        # them needs a stats_col the caller no longer passes — the
        # rewritten files carry NO stats and band reads keep them
        # conservatively (correct, just unpruned until the next
        # stats-bearing write)
        _write_manifest(
            spark,
            path,
            version,
            [
                {
                    "file": r["file"],
                    "n_rows": r["count"],
                    "part": dict(keys[r["g"]]),
                    "origin": version,
                }
                for r in per_file
            ],
        )
    except Exception:
        _abort_claim(spark, path, version)
        raise
    return version


def stream_spec_append_sink(
    stream_df: DataFrame,
    path: str,
    spec_cols: list[str],
    checkpoint_dir: str,
    stats_col: str | None = None,
):
    """writeStream sink for the spec table: each micro-batch appends
    one version via ``write_spec_snapshot`` under the CURRENT spec —
    streaming ingest and partition-spec evolution compose, so the spec
    can change between restarts without touching ingested history.
    Batches replayed after a failure are idempotent via the ledger (a
    batch id that already produced a version is skipped). Returns the
    StreamingQuery; callers stop it."""
    return ledgered_batch_sink(
        stream_df,
        checkpoint_dir,
        lambda batch_df: write_spec_snapshot(
            batch_df, path, spec_cols, stats_col=stats_col
        ),
    )
