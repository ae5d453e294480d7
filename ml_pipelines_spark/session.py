"""SparkSession factory tuned for the engine.

Scale posture: these configs are chosen so the same code runs on
``local[N]`` for tests and on a 1000-executor cluster against ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, join-strategy switch),
  cached plans included: a ``cache()``/``persist()`` of a plan that ends
  in a shuffle is sized to its data instead of keeping every
  ``spark.sql.shuffle.partitions`` partition.
- Arrow execution for all pandas UDF / toPandas boundaries.
- UTC session timezone (matches the reference's ``timestamp[us, UTC]``
  schemas, TrainDatasets.py:85/146, and the DuckDB oracle's naive UTC).
- Shuffle partitions default to a small number locally; on a real cluster
  AQE's coalescing makes the initial number mostly irrelevant as long as
  it is high enough, so production deployments should set
  ``spark.sql.shuffle.partitions`` ~ 2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32]/128GiB test box; every one of these is
# overridable by passing extra_conf (the driver memory also through
# SPARK_GRAFT_DRIVER_MEM).
_DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) (e.g. pandas-written ns timestamps) is
    # otherwise an illegal type for Spark; read as long and convert at the
    # scan edge (io.read_table handles it).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Unless this is set, Spark plans a cached query without AQE's
    # final-stage shuffle optimizations, so a cached frame whose last
    # operator is a shuffle (a window, distinct, join or aggregate)
    # keeps all spark.sql.shuffle.partitions partitions and every stage
    # that reads it runs that many tasks — 32 tasks per stage over ~1k
    # cached rows on the curation path. Set, AQE coalesces the cached
    # plan's final stage like any other.
    # Trade-off: the cached frame loses its pinned hash partitioning, so
    # a later join or aggregate on its key may need a shuffle that the
    # cache would have saved.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 10,000-record Arrow batches keep pandas-UDF overhead amortized
    # without blowing executor memory on wide binary columns.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Dimension tables (region/nation/label maps) are tiny; 64 MiB leaves
    # headroom for the `part`-sized dims at sf0.1 while never broadcasting
    # a fact table.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Default openCostInBytes (4 MiB) caps small-table scans at
    # totalBytes/4MiB tasks — a 10 MiB table gets 3 of 32 cores for
    # CPU-heavy expression pipelines. 256 KiB restores full parallelism;
    # at 100 TB bytesPerCore >> openCost, so the setting is inert there.
    "spark.sql.files.openCostInBytes": str(256 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # The generated-class cache defaults to 100 entries; a 40+-query
    # suite evicts earlier queries' classes and forces multi-second
    # recompiles on re-execution (observed: a 0.8s query spiking to
    # ~7s late in the bench). 1000 entries holds the whole suite; the
    # cache is weak-referenced bytecode, so the memory cost is small.
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "ml_pipelines_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster pass ``None`` after setting ``--master`` externally.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
