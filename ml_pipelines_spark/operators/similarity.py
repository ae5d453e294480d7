"""Similarity search over embedding columns (array<float>).

Two paths, per the north-star contract:

- **Brute-force cosine top-k** — the exactness baseline. Dot products are
  computed with `zip_with` + left-fold `aggregate` in float64; the fold
  order is index order, which makes results bit-identical to a serial
  engine (verified against DuckDB) — so ranking, thresholds, and top-k
  membership are oracle-checkable with no tolerance games.
- **Random-hyperplane LSH (SimHash-for-vectors) bucketing** — the scale
  path: each vector gets a b-bit bucket key from the signs of b fixed
  random projections; candidate search touches only colliding buckets.
  At 100 TB this turns an O(N) scan per query into an O(N/2^b) bucket
  probe, and the bucketed table can be written out partitioned by key.

Hyperplanes are generated from a seeded NumPy RNG and embedded as plan
literals — deterministic across runs, engines, and cluster layouts.

``embedding_near_dup_pairs`` (multi-table LSH near-dup pairs) also has an
exact driver path below one gate. It checkpoints ``(id, vec)`` once, so
both paths read the upstream once, and collects the checkpoint through
``gate.collect_capped``; at most ``DRIVER_MAX_VALUES`` vector values
(rows <= DRIVER_MAX_VALUES // dim) are bucketed, deduplicated and
dot-multiplied in numpy with the same serial folds as the Arrow UDFs
(``_fold_dot``), as long as the candidate collisions, summed over every
table's buckets before any pair is built, stay within
``DRIVER_MAX_PAIRS``. The cosine, threshold and rounding then run as the
same Spark expressions over the local frame, so the rows are identical
on both paths. Over either cap (identical vectors make one quadratic
bucket) the Spark path runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, IntegerType, StringType
from pyspark.sql.window import Window

from ..gate import collect_capped, orders_like_spark

# Driver-path caps of embedding_near_dup_pairs: vector values, and
# candidate collisions counted per table before dedup. Set where the
# driver path was measured faster (local[4], warm, random 64-dim
# vectors, 4 tables): 4,000 rows and 250k collisions took 1.9 s against
# 2.4 s on the Spark path; at 8,000 rows and 1M collisions (5.0 vs
# 4.3 s), and at 62,500 rows of 14-plane tables (8.2 vs 5.7 s), the
# Spark path won.
DRIVER_MAX_VALUES = 256_000
DRIVER_MAX_PAIRS = 250_000


def dot_expr(a: Column, b: Column) -> Column:
    """Float64 dot product, left-fold in index order (engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def lit_vector(vec: list[float]) -> Column:
    """A query vector as a plan literal (array<double>)."""
    return F.array(*[F.lit(float(v)) for v in vec])


def query_vector(dim: int, seed: int = 7) -> list[float]:
    """Deterministic unit query vector for tests/benchmarks."""
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(dim)
    return [float(x) for x in v / np.linalg.norm(v)]


def ranked_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Global top-k by cosine with dense 1-based ranks, scale-safe.

    A bare ``row_number() OVER (ORDER BY ...)`` funnels the whole input
    through one task. Instead: per-partition top-k first (window keyed by
    ``spark_partition_id()`` — each partition keeps ≤ k rows), so the
    final global window sees at most k·P rows — bytes, not data — no
    matter how big the scored set is.
    """
    local = Window.partitionBy(F.spark_partition_id()).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    pruned = (
        scored.withColumn("__lr", F.row_number().over(local))
        .filter(F.col("__lr") <= k)
        .drop("__lr")
    )
    w = Window.orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def knn_bruteforce(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for one query vector.

    Single narrow scan → per-row cosine (whole-stage codegen) → two-phase
    top-k (``ranked_topk``); ties break on id for determinism.
    """
    q = lit_vector(query_vec)
    scored = emb.select(
        F.col(id_col), cosine_expr(F.col(vec_col), q).alias("cosine")
    )
    return ranked_topk(scored, k, id_col)


def hyperplanes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    """Fixed random projection planes (seeded, embedded as literals)."""
    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_planes, dim))]


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """b-character '0'/'1' bucket key from projection signs."""
    bits = [
        F.when(dot_expr(vec, lit_vector(p)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def ann_lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    Recall comes from bucket width (fewer planes → bigger buckets); at
    scale the bucket key becomes a partition/cluster key so a probe reads
    a single partition. Falls back to an empty frame if the bucket is
    empty (caller may re-probe with fewer planes — multiprobe is the
    standard extension).
    """
    qkey = "".join(
        "1" if float(np.dot(np.array(query_vec), np.array(p))) >= 0 else "0"
        for p in planes
    )
    bucketed = emb.withColumn("bucket", lsh_bucket_expr(F.col(vec_col), planes))
    candidates = bucketed.filter(F.col("bucket") == qkey)
    q = lit_vector(query_vec)
    scored = candidates.select(
        F.col(id_col), cosine_expr(F.col(vec_col), q).alias("cosine")
    )
    return ranked_topk(scored, k, id_col)


def multiprobe_buckets(query_vec: list[float], planes: list[list[float]]) -> list[str]:
    """The query's bucket plus every flip-1-bit neighbor (Hamming ≤ 1).

    Standard multiprobe LSH: a vector near a hyperplane lands in an
    adjacent bucket with probability ~proportional to its margin, so
    probing the b single-bit-flip neighbors recovers most of the recall
    a single-bucket probe loses — b+1 bucket reads instead of 1, still
    O((b+1)·N/2^b) of the data rather than O(N). Deterministic: the
    probe set is computed driver-side from the same seeded planes and
    embedded as plan literals."""
    base = "".join(
        "1" if float(np.dot(np.asarray(query_vec), np.asarray(p))) >= 0 else "0"
        for p in planes
    )
    flips = [
        base[:i] + ("0" if base[i] == "1" else "1") + base[i + 1:]
        for i in range(len(base))
    ]
    return [base] + flips


def ann_multiprobe_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k scoring the query bucket AND its flip-1-bit
    neighbors — the fallback ``ann_lsh_topk`` lacks when the exact
    bucket is empty or thin. Same scan shape: one bucket-key filter
    (an IN over b+1 literals — partition-prunable when the table is
    stored partitioned by bucket), exact cosine on survivors only,
    two-phase top-k."""
    buckets = multiprobe_buckets(query_vec, planes)
    bucketed = emb.withColumn("bucket", lsh_bucket_expr(F.col(vec_col), planes))
    candidates = bucketed.filter(F.col("bucket").isin(buckets))
    q = lit_vector(query_vec)
    scored = candidates.select(
        F.col(id_col), cosine_expr(F.col(vec_col), q).alias("cosine")
    )
    return ranked_topk(scored, k, id_col)


def kmeans_centroids(
    emb: DataFrame,
    k: int,
    seed: int = 17,
    vec_col: str = "embedding",
    max_iter: int = 5,
) -> list[list[float]]:
    """IVF coarse quantizer: k-means centers via MLlib (seeded)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def assign_centroid_udf(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment (L2): one numpy matmul
    per batch — the vectorized path that stays fast at 100 TB, where an
    expression-level argmin over k dot products would be interpreted
    per row."""
    C = np.asarray(centroids, dtype=np.float64)  # (k, d)
    Cn = (C * C).sum(axis=1)

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)  # (n, d)
        # argmin ||x - c||² = argmin (‖c‖² - 2·x·c)
        d = Cn[None, :] - 2.0 * (X @ C.T)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return assign


def ann_ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    centroids: list[list[float]],
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: score only vectors whose coarse cell is one
    of the query's ``n_probe`` nearest centroids.

    At scale the assignment becomes a partition/cluster key for the
    stored table, so a probe reads n_probe/k of the data; recall grows
    with n_probe (n_probe = k degrades gracefully to exact brute force).
    """
    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    d = (C * C).sum(axis=1) - 2.0 * (C @ q)
    probes = [int(i) for i in np.argsort(d)[:n_probe]]

    assigned = emb.withColumn(
        "cell", assign_centroid_udf(centroids)(F.col(vec_col))
    )
    candidates = assigned.filter(F.col("cell").isin(probes))
    scored = candidates.select(
        F.col(id_col), cosine_expr(F.col(vec_col), lit_vector(query_vec)).alias("cosine")
    )
    return ranked_topk(scored, k, id_col)


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Float64 dot products over axis 1 with EXACT left-fold semantics:
    the loop is serial over that axis (vectorized over the others, which
    broadcast), so the summation order matches ``dot_expr`` / the serial
    SQL oracle bit-for-bit — numpy's default pairwise summation would
    not. ``a``, ``b`` of shape (n, d) give n row dots; (n, d, 1) and
    (1, d, m) give the (n, m) projections of n vectors on m planes."""
    acc = np.zeros(np.broadcast_shapes(a[:, 0].shape, b[:, 0].shape))
    for k in range(a.shape[1]):
        acc += a[:, k] * b[:, k]
    return acc


def _pair_dot_udf():
    """Arrow-batched pair dot product (``_fold_dot`` over row pairs).
    Constructed lazily (a module-level pandas_udf would demand an active
    SparkSession at import time)."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.asarray(a.tolist(), dtype=np.float64)
        B = np.asarray(b.tolist(), dtype=np.float64)
        return pd.Series(_fold_dot(A, B))

    return pair_dot


def hyperplane_tables(
    dim: int, n_tables: int, n_planes: int, seed: int = 13
) -> list[list[list[float]]]:
    """L independent hyperplane sets (one per hash table), seeded."""
    return [
        hyperplanes(dim, n_planes, seed=seed + 101 * t) for t in range(n_tables)
    ]


def _table_signs(X: np.ndarray, tables: list[list[list[float]]]) -> np.ndarray:
    """(n, L·b) projection signs of the (n, dim) vectors ``X`` on every
    plane of every table, table-major: one ``_fold_dot`` pass,
    vectorized over rows AND planes, so sign decisions match the SQL
    oracle bit-for-bit."""
    P = np.asarray([p for planes in tables for p in planes], dtype=np.float64)
    return _fold_dot(X[:, :, None], P.T[None, :, :]) >= 0


def _table_keys_udf(tables: list[list[list[float]]]):
    """Arrow-batched bucket keys for ALL tables at once: the L·b signs
    of ``_table_signs``, assembled into L bit-string keys per row.
    Expression-level ``lsh_bucket_expr`` evaluates L·b interpreted dot
    folds PER ROW (28 at L=4, b=7 — it tripled the query)."""
    n_planes = len(tables[0])
    n_tables = len(tables)

    @F.pandas_udf(ArrayType(StringType()))
    def keys(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)  # (n, dim)
        bits = np.where(_table_signs(X, tables), "1", "0")
        out = []
        for row in bits:
            out.append(
                [
                    "".join(row[t * n_planes : (t + 1) * n_planes])
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    return keys


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    tables: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via MULTI-TABLE LSH
    (OR-amplification): a pair is a candidate iff it collides in ANY of
    the L independent b-bit tables; candidates dedup before ONE exact
    cosine verification per pair.

    Why L tables instead of one wide/narrow table: recall for a pair
    with angle θ is 1-(1-p^b)^L with p = 1-θ/π. A single b=4 table (the
    previous shape) verifies only p^4 — 54% even at cosine 0.9. L=4
    tables of b=7 keep the SAME expected pair volume (L·N²/2^b vs
    N²/2^4) while finding cosine-0.95 pairs with ~93% probability.
    Both knobs are caller-visible, and at datalake scale each table's
    bucket key is a partition/cluster key candidate.

    Scale shape: bucket keys are computed once per row (one narrow
    projection, L·b dot products in codegen), candidates come from L
    per-table self-joins on (table, bucket) driven by ONE posexplode —
    a single shuffle of L rows per vector — and the exact cosine runs
    once per DISTINCT pair after semi-joining vectors back (the
    Arrow-batched exact-fold dot of ``_pair_dot_udf``, see there).

    Small inputs run on the driver (``_local_pair_dots``, module
    docstring); the rows are the same on both paths.
    """
    # One pass over the upstream feeds both paths: the capped collect
    # reads the checkpoint, and a fallback never recomputes ``emb``
    # (the join path reads it twice, as ``banded`` and ``vecs``).
    pts = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).localCheckpoint(eager=True)
    pairs = _local_pair_dots(pts, tables)
    if pairs is None:
        banded = pts.select(
            "id",
            F.posexplode(_table_keys_udf(tables)(F.col("vec"))).alias(
                "table_idx", "bucket"
            ),
        )
        a = banded.alias("a")
        b = banded.alias("b")
        cand = (
            a.join(b, on=["table_idx", "bucket"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        vecs = pts.select("id", "vec", norm_expr(F.col("vec")).alias("nrm"))
        va = vecs.alias("va")
        vb = vecs.alias("vb")
        pairs = (
            cand.join(va, F.col("id_a") == F.col("va.id"))
            .join(vb, F.col("id_b") == F.col("vb.id"))
            .select(
                "id_a",
                "id_b",
                _pair_dot_udf()(F.col("va.vec"), F.col("vb.vec")).alias("dot"),
                F.col("va.nrm").alias("nrm_a"),
                F.col("vb.nrm").alias("nrm_b"),
            )
        )
    return (
        pairs.select(
            "id_a",
            "id_b",
            (F.col("dot") / (F.col("nrm_a") * F.col("nrm_b"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def _local_pair_dots(
    pts: DataFrame, tables: list[list[list[float]]]
) -> DataFrame | None:
    """The Spark path's verified candidates (id_a, id_b, dot, nrm_a,
    nrm_b) of the ``(id, vec)`` rows ``pts``, computed on the driver
    from one capped collect, as a local frame; ``None`` (the Spark path
    runs) when the vectors or the candidate collisions are over their
    caps, the ids are not unique integers or strings, or a vector is
    null, holds a null or is not of the planes' dimension."""
    id_type = pts.schema["id"].dataType
    if not orders_like_spark(id_type):
        return None
    dim = len(tables[0][0])
    got = collect_capped(pts, DRIVER_MAX_VALUES // dim)
    if got is None:
        return None
    # rows in id order, so a row pair i < j is the pair a.id < b.id;
    # null ids never pass that filter
    ids = got.column("id").to_pylist()
    order = sorted(
        (r for r, i in enumerate(ids) if i is not None), key=ids.__getitem__
    )
    ids = [ids[r] for r in order]
    if any(x == y for x, y in zip(ids, ids[1:])):
        return None  # repeated ids: the join path's row multiplicity
    n = len(ids)
    vecs = got.column("vec").take(np.asarray(order, dtype=np.int64))
    flat = pc.list_flatten(vecs)
    if vecs.null_count or flat.null_count or len(flat) != n * dim:
        return None  # malformed vectors fail as the Spark path fails
    X = flat.to_numpy().astype(np.float64).reshape(n, dim)
    signs = _table_signs(X, tables)
    b = len(tables[0])
    buckets = [
        np.unique(signs[:, t * b : (t + 1) * b], axis=0, return_inverse=True)[
            1
        ].ravel()
        for t in range(len(tables))
    ]
    sizes = [np.bincount(inv) for inv in buckets]
    if sum(int((c * (c - 1) // 2).sum()) for c in sizes) > DRIVER_MAX_PAIRS:
        return None  # e.g. identical vectors: one bucket, quadratic pairs
    found = [np.zeros(0, dtype=np.int64)]
    for inv in buckets:
        rows = np.argsort(inv, kind="stable")  # ascending within a bucket
        cuts = np.flatnonzero(np.diff(inv[rows])) + 1
        for members in np.split(rows, cuts):
            i, j = np.triu_indices(len(members), 1)
            found.append(members[i] * n + members[j])
    key = np.unique(np.concatenate(found))
    lo, hi = key // n, key % n
    nrm = np.sqrt(_fold_dot(X, X))
    # chunked: X[lo] alone would be pairs × dim doubles
    step = 1 << 16
    dot = np.concatenate(
        [np.zeros(0)]
        + [
            _fold_dot(X[lo[c : c + step]], X[hi[c : c + step]])
            for c in range(0, len(key), step)
        ]
    )
    id_arr = pa.array(ids, to_arrow_type(id_type))
    return pts.sparkSession.createDataFrame(
        pa.table(
            {
                "id_a": id_arr.take(lo),
                "id_b": id_arr.take(hi),
                "dot": dot,
                "nrm_a": nrm[lo],
                "nrm_b": nrm[hi],
            }
        )
    )


def write_ivf_index(
    emb: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout: the table written hive-partitioned by
    coarse cell, so probes become PARTITION PRUNING — a probe of
    n_probe/k cells reads n_probe/k of the files, enforced by the scan,
    not by a filter over everything. This is the read-side half of IVF
    at datalake scale (the in-memory ann_ivf_topk recomputes cells per
    query; the stored layout pays assignment once at write time)."""
    assigned = emb.withColumn(
        "cell", assign_centroid_udf(centroids)(F.col(vec_col))
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)


def ann_ivf_probe_stored(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    centroids: list[list[float]],
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a stored IVF index: pick the query's n_probe nearest
    cells driver-side (k × d flops), scan ONLY those partitions, score
    the survivors. The cell filter is a partition-key predicate, so
    Catalyst prunes directories before any file is opened."""
    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    d = (C * C).sum(axis=1) - 2.0 * (C @ q)
    probes = [int(i) for i in np.argsort(d)[:n_probe]]
    candidates = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    scored = candidates.select(
        F.col(id_col),
        cosine_expr(F.col(vec_col), lit_vector(query_vec)).alias("cosine"),
    )
    return ranked_topk(scored, k, id_col)


# ---------------------------------------------------------------------------
# Int8 scalar quantization — the memory/bandwidth lever for vector search
# ---------------------------------------------------------------------------

def quantize_embeddings(
    emb: DataFrame,
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x| / 127``,
    ``q_i = floor(x_i / scale + 0.5)`` stored as ``array<tinyint>``.

    4× smaller than float32 — at 100 TB of embeddings that is the
    difference between a scan that fits the cluster's aggregate I/O
    budget and one that doesn't. Expression-only (codegen); the scale
    binds once per row via a lambda variable, not once per element.
    ``floor(x + 0.5)`` is the rounding on BOTH engines (oracle SQL uses
    the identical float64 ops), sidestepping HALF_UP-vs-banker's
    divergence between Spark and other engines.

    Cosine ranking against a quantized table needs no dequantization:
    the per-vector scale cancels in cos = (s·Σq_iu_i)/(s·‖q‖·‖u‖), so
    ``quantized_topk`` scores the int arrays directly.
    """
    from ..functions.text import let

    vec = F.col(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))) / 127.0,
        F.lit(1e-30),
    )
    return emb.withColumn(
        qvec_col,
        let(
            scale,
            lambda s: F.transform(
                vec, lambda x: F.floor(x.cast("double") / s + 0.5).cast("tinyint")
            ),
        ),
    ).withColumn(scale_col, scale)


def quantized_topk(
    qemb: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Approximate cosine top-k over a quantized table (asymmetric:
    int8 data vector × float64 query). Same two-phase top-k as the
    exact path; only the scan is 4× lighter."""
    q = lit_vector(query_vec)
    scored = qemb.select(
        F.col(id_col), cosine_expr(F.col(qvec_col), q).alias("cosine")
    )
    return ranked_topk(scored, k, id_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the storage-side ANN scale path.
#
# A D-dim float vector becomes M small integer codes (one per subspace):
# at M=8 over D=64 that is 8 bytes per vector instead of 256 for
# float32 — a 32× lighter scan — and query scoring needs NO per-row
# float vector math: the query precomputes a (M × ks) lookup table of
# sub-distances and each row's approximate distance is M array lookups
# + M-1 adds, pure JVM expression (this is the asymmetric-distance
# computation, ADC, of Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011). Codebooks here are deterministic
# (sub-slices of the ks smallest-id vectors) so cross-engine oracles
# re-derive them; production codebooks come from kmeans_fit per
# subspace — encode/ADC below are agnostic to how centers were trained.
# ---------------------------------------------------------------------------

def pq_codebooks(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_sub: int = 8,
    num_codes: int = 16,
) -> list[list[list[float]]]:
    """Deterministic codebooks: per subspace m, the ks smallest-id
    vectors' m-th sub-slices. Returns [num_sub][num_codes][sub_dim]
    float64. One bounded collect of num_codes rows."""
    rows = (
        emb.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(num_codes)
        .collect()
    )
    dim = len(rows[0]["v"])
    ds = dim // num_sub
    return [
        [list(r["v"][m * ds:(m + 1) * ds]) for r in rows]
        for m in range(num_sub)
    ]


def _pq_encode_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched PQ encoder: per subspace, exact-fold argmin over the
    codebook (serial over dims, vectorized over rows — bit-identical to
    the SQL twin's in-order list_sum fold; ties to the smallest code)."""
    from pyspark.sql.types import ArrayType, IntegerType

    M = len(codebooks)
    ds = len(codebooks[0][0])

    @F.pandas_udf(ArrayType(IntegerType()))
    def enc(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        n = X.shape[0]
        out = np.zeros((n, M), dtype=np.int32)
        for m, book in enumerate(codebooks):
            sub = X[:, m * ds:(m + 1) * ds]
            D = np.zeros((n, len(book)))
            for c, center in enumerate(book):
                acc = np.zeros(n)
                for k in range(ds):
                    d = sub[:, k] - center[k]
                    acc += d * d
                D[:, c] = acc
            out[:, m] = np.argmin(D, axis=1)  # first (smallest) code wins ties
        return pd.Series([list(map(int, row)) for row in out])

    return enc


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    codes_col: str = "codes",
) -> DataFrame:
    """Adds the ``codes: array<int>`` column — the stored representation.
    One narrow Arrow pass; the codebooks travel as task-closure
    constants (M × ks × sub_dim doubles)."""
    return emb.withColumn(
        codes_col, _pq_encode_udf(codebooks)(F.col(vec_col).cast("array<double>"))
    )


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """ADC top-k: rank by the PQ-approximate squared distance, ascending,
    6dp-rounded with id tiebreak for cross-engine rank stability.

    The per-row work is M array lookups into broadcast LUT literals and
    an in-order chain of adds — whole-stage codegen, no floats read from
    storage, no Python. Two-phase top-k (per-partition prune to k before
    the single global window over <= k*P rows)."""
    from pyspark.sql.window import Window

    M = len(codebooks)
    ds = len(codebooks[0][0])
    # LUT[m][c] = ||q_m - codebook[m][c]||^2, in-order float64 fold
    lut: list[list[float]] = []
    for m, book in enumerate(codebooks):
        qm = query_vec[m * ds:(m + 1) * ds]
        row = []
        for center in book:
            acc = 0.0
            for i in range(ds):
                d = float(qm[i]) - float(center[i])
                acc += d * d
            row.append(acc)
        lut.append(row)

    dist = None
    for m in range(M):
        term = F.element_at(
            F.array(*[F.lit(v) for v in lut[m]]),
            F.col(codes_col).getItem(m) + 1,
        )
        dist = term if dist is None else dist + term
    scored = encoded.select(
        F.col(id_col), F.round(dist, 6).alias("approx_dist")
    )
    part = scored.withColumn(
        "__r",
        F.row_number().over(
            Window.partitionBy(F.spark_partition_id()).orderBy(
                "approx_dist", id_col
            )
        ),
    ).filter(F.col("__r") <= k)
    return (
        part.withColumn(
            "rank",
            F.row_number().over(Window.orderBy("approx_dist", id_col)),
        )
        .filter(F.col("rank") <= k)
        .select(id_col, "approx_dist", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the composed ANN index (Jégou et al. 2011, IVFADC): a coarse
# quantizer routes every vector to a cell (stored as a hive partition,
# so probing is PARTITION PRUNING), and within cells vectors live only
# as M-byte PQ codes scored by LUT lookups. This is the layout that
# holds at 100 TB: the probe reads n_probe/C of the files and the bytes
# it reads are 32x lighter than float32. Both stages here use the
# DETERMINISTIC constructions (smallest-id coarse centers; pq_codebooks
# sub-slices; exact in-order distance folds, ties to the smallest id),
# so the ENTIRE index build + probe replays bit-identically in SQL —
# the approximation error is hash-checked, never tolerance-waved.
# ---------------------------------------------------------------------------
def smallest_id_vectors(
    emb: DataFrame,
    n: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """The n smallest-id vectors as float64 lists — the deterministic
    center construction shared by the PQ codebooks. One bounded collect."""
    rows = (
        emb.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(n)
        .collect()
    )
    return [list(r["v"]) for r in rows]


def write_ivfpq_index(
    emb: DataFrame,
    path: str,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-PQ layout: PQ codes + coarse cell, written
    hive-partitioned by cell. The float vectors are NOT stored — the
    index is (id, M codes) per row, the full 32x compression. Coarse
    assignment reuses the PQ encoder with the coarse centers as a
    single full-dimension codebook (same exact fold, same tie rule)."""
    encoded = pq_encode(emb, codebooks, vec_col=vec_col)
    assigned = encoded.withColumn(
        "cell",
        _pq_encode_udf([coarse])(
            F.col(vec_col).cast("array<double>")
        ).getItem(0),
    )
    (
        assigned.select(id_col, "codes", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivfpq_probe_cells(
    coarse: list[list[float]], query_vec: list[float], n_probe: int
) -> list[int]:
    """The query's n_probe nearest coarse cells — exact in-order fold
    per center (matching the SQL twin term for term), ties to the
    smallest cell id. Driver-side C x d flops."""
    dists = []
    for ci, center in enumerate(coarse):
        acc = 0.0
        for i in range(len(center)):
            d = float(query_vec[i]) - float(center[i])
            acc += d * d
        dists.append((acc, ci))
    return [ci for _, ci in sorted(dists)[:n_probe]]


def ann_ivfpq_probe_stored(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    n_probe: int = 3,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over the stored IVF-PQ index: pick probe cells driver-side,
    scan ONLY those partitions (Catalyst prunes the directories), score
    the PQ codes by ADC — the scan never touches a float vector."""
    probes = ivfpq_probe_cells(coarse, query_vec, n_probe)
    candidates = spark.read.parquet(path).filter(
        F.col("cell").isin(probes)
    )
    return pq_topk(candidates, codebooks, query_vec, k, id_col=id_col)


def append_ivfpq_index(
    emb: DataFrame,
    path: str,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: encode a NEW vector batch under
    the FROZEN quantizers (the standard production practice — retraining
    quantizers means re-encoding the whole index, so codebooks are
    versioned artifacts) and append its rows into the existing cell
    partitions. Dynamic partition overwrite is NOT used — plain append
    adds files only to the touched cells; existing files are never
    rewritten, so a probe mid-append sees a consistent prefix."""
    encoded = pq_encode(emb, codebooks, vec_col=vec_col)
    assigned = encoded.withColumn(
        "cell",
        _pq_encode_udf([coarse])(
            F.col(vec_col).cast("array<double>")
        ).getItem(0),
    )
    (
        assigned.select(id_col, "codes", "cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )
