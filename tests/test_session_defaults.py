"""Session defaults of ``get_spark`` that change how plans run.

``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` lets AQE
size a cached plan to its data: without it, a cached frame whose last
operator is a shuffle keeps every ``spark.sql.shuffle.partitions``
partition, and every stage that reads it runs that many tasks. Caching
must not change results, so the near-dup dedup is checked with its input
cached and uncached."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ml_pipelines_spark.operators.components import dedup_by_components
from ml_pipelines_spark.operators.dedup import exact_dedup, minhash_lsh_pairs


def test_cached_shuffle_output_is_coalesced(spark):
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert shuffle_parts > 1
    agg = (
        spark.range(0, 200)
        .groupBy((F.col("id") % 10).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    try:
        assert sorted((r.k, r.n) for r in agg.collect()) == [
            (k, 20) for k in range(10)
        ]
        assert agg.rdd.getNumPartitions() < shuffle_parts
    finally:
        agg.unpersist()


def _corpus(spark):
    """40 base documents, 10 exact copies and 12 one-word edits of them
    (near duplicates at 3-shingle Jaccard ~0.9)."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    base = [" ".join(rng.choice(vocab) for _ in range(40)) for _ in range(40)]
    texts = list(base)
    texts += [base[i] for i in range(0, 20, 2)]
    texts += [base[i].rsplit(" ", 1)[0] + " edit" for i in range(20, 32)]
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def _near_dedup_ids(exact):
    pairs = minhash_lsh_pairs(exact, "doc_id", "text", 0.7)
    out = dedup_by_components(exact, pairs.select("id_a", "id_b"), "doc_id")
    return sorted(r.doc_id for r in out.select("doc_id").collect())


def test_near_dedup_same_rows_cached_and_uncached(spark):
    exact = exact_dedup(_corpus(spark), ["text"], "doc_id")
    uncached = _near_dedup_ids(exact)
    cached_exact = exact.cache()
    try:
        cached = _near_dedup_ids(cached_exact)
        assert cached_exact.rdd.getNumPartitions() < int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
    finally:
        cached_exact.unpersist()
    # 40 base docs survive; exact copies and one-word edits do not
    assert uncached == list(range(40))
    assert cached == uncached
