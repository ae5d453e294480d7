"""The exact driver paths of the near-dup chain, against their Spark
paths: ``connected_components`` (union-find below ``DRIVER_MAX_EDGES``)
and ``embedding_near_dup_pairs`` (numpy below ``DRIVER_MAX_VALUES`` and
``DRIVER_MAX_PAIRS``). Each test forces both paths by monkeypatching
the caps and requires equal rows, also for the registry queries built
on these operators (their oracle-parity tests run the driver paths)."""

from __future__ import annotations

import itertools
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

import ml_pipelines_spark.operators.components as C
import ml_pipelines_spark.operators.similarity as S
from ml_pipelines_spark.queries import QUERIES

_groups = itertools.count()


def _jobs(spark, fn, *args, **kw):
    """(result, Spark jobs ``fn(*args, **kw)`` ran under a job group)."""
    sc = spark.sparkContext
    group = f"mlps-driver-paths-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _sorted_nullable(rows):
    return sorted(rows, key=lambda r: tuple((v is None, v) for v in r))


def _graph(seed, n_nodes, n_edges, null_frac, as_str):
    rng = random.Random(seed)

    def node():
        if rng.random() < null_frac:
            return None
        v = rng.randrange(n_nodes)
        # unpadded strings order unlike their numbers ("10" < "9")
        return str(v) if as_str else v

    return [(node(), node()) for _ in range(n_edges)]


@pytest.mark.parametrize(
    "seed,null_frac,as_str",
    [(1, 0.0, False), (2, 0.05, False), (3, 0.05, True)],
)
def test_components_both_paths(spark, monkeypatch, seed, null_frac, as_str):
    rows = _graph(seed, 90, 110, null_frac, as_str)
    t = "string" if as_str else "bigint"
    edges = spark.createDataFrame(rows, f"a {t}, b {t}")
    local = C.connected_components(edges, "a", "b")
    monkeypatch.setattr(C, "DRIVER_MAX_EDGES", 10)
    dist = C.connected_components(edges, "a", "b")
    assert "LogicalRDD" not in _plan(local)
    assert "LogicalRDD" in _plan(dist)
    assert local.schema == dist.schema
    got = _sorted_nullable([tuple(r) for r in local.collect()])
    want = _sorted_nullable([tuple(r) for r in dist.collect()])
    assert got == want
    # several components, and a null node iff some id is null
    assert 1 < len({c for _, c in got}) < len(got)
    assert ((None, None) in got) == (null_frac > 0)


_KNOWN_GRAPHS = {
    # path graph 1-2-3-4-5: diameter 4, everything labels to 1
    "chain": (
        [(1, 2), (2, 3), (3, 4), (4, 5)],
        {1: 1, 2: 1, 3: 1, 4: 1, 5: 1},
    ),
    "disconnected": (
        [(10, 11), (11, 12), (20, 21), (30, 31)],
        {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30},
    ),
    "direction": ([(5, 1), (2, 5)], {1: 1, 2: 1, 5: 1}),
    # path graph 0-1-...-59: diameter 59
    "long_path": ([(i, i + 1) for i in range(59)], {v: 0 for v in range(60)}),
}


@pytest.mark.parametrize("graph", sorted(_KNOWN_GRAPHS))
@pytest.mark.parametrize("distributed", [False, True])
def test_components_known_graphs(spark, monkeypatch, graph, distributed):
    edges, want = _KNOWN_GRAPHS[graph]
    if distributed:
        monkeypatch.setattr(C, "DRIVER_MAX_EDGES", 0)
    comp = C.connected_components(
        spark.createDataFrame(edges, ["id_a", "id_b"])
    )
    assert ("LogicalRDD" in _plan(comp)) == distributed
    assert {r["node"]: r["component"] for r in comp.collect()} == want


def test_dedup_by_components_both_paths(spark, monkeypatch):
    rows = _graph(4, 60, 50, 0.0, False)
    pairs = spark.createDataFrame(rows, "id_a bigint, id_b bigint")
    docs = spark.range(0, 80).withColumnRenamed("id", "doc_id")
    local = _rows(C.dedup_by_components(docs, pairs, "doc_id"))
    monkeypatch.setattr(C, "DRIVER_MAX_EDGES", 10)
    assert _rows(C.dedup_by_components(docs, pairs, "doc_id")) == local
    assert 20 < len(local) < 80


def test_components_below_cap_runs_checkpoint_and_collect(spark):
    edges = spark.createDataFrame(
        _graph(5, 40, 60, 0.0, False), "id_a bigint, id_b bigint"
    )
    _, checkpoint = _jobs(
        spark,
        lambda: edges.select(
            F.col("id_a").alias("s"), F.col("id_b").alias("d")
        ).localCheckpoint(eager=True),
    )
    comp, n = _jobs(spark, C.connected_components, edges)
    assert n == checkpoint + 1
    assert comp.count() > 0


def _clustered(spark, seed, n=240, dim=16, spread=0.08, null_id=True):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((12, dim))
    ids = rng.permutation(10 * n)[:n]
    rows = [
        (
            int(ids[i]),
            [float(x) for x in centers[i % 12] + spread * rng.standard_normal(dim)],
        )
        for i in range(n)
    ]
    if null_id:
        rows.append((None, rows[0][1]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_near_dup_pairs_both_paths(spark, monkeypatch):
    emb = _clustered(spark, 11)
    tables = S.hyperplane_tables(16, 4, 6)
    local = S.embedding_near_dup_pairs(emb, 0.97, tables)
    monkeypatch.setattr(S, "DRIVER_MAX_VALUES", 16 * 50)
    dist = S.embedding_near_dup_pairs(emb, 0.97, tables)
    assert "pair_dot" not in _plan(local) and "pair_dot" in _plan(dist)
    assert local.schema == dist.schema
    got = _rows(local)
    assert got == _rows(dist)
    # a threshold inside the cluster spread: some candidates fail it
    assert 0 < len(got) < 240 * 239 // 2


def test_near_dup_pairs_planted_64d_both_paths(spark, monkeypatch):
    # the 64-dim, L=4 x 7-plane shape of the registry's embedding_near_dup
    rng = np.random.default_rng(5)
    base = rng.standard_normal((60, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [
        (1000 + i, [float(x) for x in v + 0.05 * rng.standard_normal(64)])
        for i, v in enumerate(base[:20])
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    tables = S.hyperplane_tables(64, n_tables=4, n_planes=7, seed=13)
    local = _rows(S.embedding_near_dup_pairs(emb, 0.9, tables))
    monkeypatch.setattr(S, "DRIVER_MAX_VALUES", 0)
    assert _rows(S.embedding_near_dup_pairs(emb, 0.9, tables)) == local
    planted = {(i, 1000 + i) for i in range(20)}
    assert len({(a, b) for a, b, _ in local} & planted) >= 17


def test_near_dup_pairs_string_ids_both_paths(spark, monkeypatch):
    emb = _clustered(spark, 12, n=120, null_id=False).select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    tables = S.hyperplane_tables(16, 3, 5)
    local = _rows(S.embedding_near_dup_pairs(emb, 0.95, tables))
    monkeypatch.setattr(S, "DRIVER_MAX_VALUES", 16)
    assert _rows(S.embedding_near_dup_pairs(emb, 0.95, tables)) == local
    assert len(local) > 0


def test_near_dup_pairs_candidate_cap_falls_back(spark, monkeypatch):
    # identical vectors share every bucket: C(60, 2) = 1770 candidate
    # pairs per table from 60 rows
    vec = [float(x) for x in np.linspace(-1.0, 1.0, 8)]
    emb = spark.createDataFrame(
        [(i, vec) for i in range(60)], "vec_id bigint, embedding array<float>"
    )
    tables = S.hyperplane_tables(8, 2, 4)
    local = S.embedding_near_dup_pairs(emb, 0.99, tables)
    monkeypatch.setattr(S, "DRIVER_MAX_PAIRS", 2 * 1770 - 1)
    dist = S.embedding_near_dup_pairs(emb, 0.99, tables)
    assert "pair_dot" not in _plan(local) and "pair_dot" in _plan(dist)
    got = _rows(local)
    assert got == _rows(dist)
    assert len(got) == 1770


@pytest.mark.parametrize("rows", [[], [(None, [1.0, 2.0, 3.0, 4.0])]])
def test_near_dup_pairs_no_pairable_rows(spark, monkeypatch, rows):
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    tables = S.hyperplane_tables(4, 2, 3)
    local = S.embedding_near_dup_pairs(emb, 0.5, tables)
    monkeypatch.setattr(S, "DRIVER_MAX_VALUES", 0)
    dist = S.embedding_near_dup_pairs(emb, 0.5, tables)
    assert local.schema == dist.schema
    assert local.collect() == dist.collect() == []


@pytest.mark.parametrize(
    "name",
    [
        "embedding_near_dup",
        "entity_resolution_suppliers",
        "near_dup_components",
        "near_dup_keep_best",
        "near_dup_keep_docs",
    ],
)
def test_registry_queries_both_paths(spark, sf_dir, monkeypatch, name):
    # the oracle-parity suite checks these queries at the test scale,
    # where the driver paths run; the distributed paths must agree
    def rows():
        df = QUERIES[name](spark, sf_dir)
        return _sorted_nullable([tuple(r) for r in df.collect()])

    local = rows()
    monkeypatch.setattr(C, "DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(S, "DRIVER_MAX_VALUES", 0)
    assert rows() == local
    assert local
