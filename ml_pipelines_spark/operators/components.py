"""Connected components over a pair/edge DataFrame — turning near-dup
PAIRS into dedup CLUSTERS.

Pairwise near-dup detection (MinHash, SimHash, n-gram Jaccard —
operators.dedup) emits edges; corpus curation needs the transitive
closure: if A~B and B~C, one representative survives out of {A,B,C},
even though A and C never collided directly. That closure is connected
components.

Algorithm: iterative min-label propagation. Every node starts labeled
with itself; each round, a node's label becomes the min of its own and
all neighbors' labels; stop when a round changes nothing. Each round is
one shuffle (edge join + grouped min) and the round count is bounded by
the component DIAMETER — for near-dup clusters that is small (dup
clusters are dense), so typically 2-4 rounds. This is the standard
map-reduce CC construction (Kiveris et al., "Connected Components in
MapReduce and Beyond" — the large-star/small-star family); the
simple propagation variant is chosen because dup-cluster diameters make
the sophisticated variants' extra passes a net loss. Lineage is
truncated every round (localCheckpoint) so iteration N doesn't re-run
rounds 1..N-1.

Determinism: labels are min node ids — no RNG, no partition
sensitivity; retries converge to the same fixpoint.

Small inputs close on the driver. ``connected_components`` collects its
checkpointed edge list through ``gate.collect_capped``; at most
``DRIVER_MAX_EDGES`` edges with integer or string ids (the types whose
Python order is Spark's) run union-find in plain Python, with the
same answer (minimum node id per component, null ids linking nothing)
as a local frame of the same schema. Only above the cap does the
propagation loop run, and the checkpoint means it never recomputes the
pair generation. A 60-edge random graph thus costs 2 jobs instead of
81 at ``local[4]``; the other graph kernels below have no driver path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from ..gate import collect_capped, orders_like_spark

# Edges closed on the driver. At the cap the collected Arrow columns take
# 16 MB (two int64 ids) and the union-find dict of up to 2M nodes about
# 0.3 GB of driver heap; above it the distributed loop runs. Measured at
# local[4] on sparse random graphs (n edges over 2n ids): the driver path
# took 2.5 s at 100k edges, where the loop had not finished in 300 s,
# and 14 s at the cap, where the loop failed building a broadcast.
DRIVER_MAX_EDGES = 1_000_000


def _union_find(src: list, dst: list) -> tuple[list, list]:
    """(nodes, components) of the graph with edges ``zip(src, dst)``:
    each component is labelled by its minimum node id. As in the join
    loop, where null never matches a key, an edge with a null end links
    nothing and a null node, if any, comes back once with a null
    component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    has_null = False
    for a, b in zip(src, dst):
        for v in (a, b):
            if v is None:
                has_null = True
            else:
                parent.setdefault(v, v)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            # every root is its set's minimum, so the smaller one stays
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    comps = [find(v) for v in nodes]
    if has_null:
        nodes.append(None)
        comps.append(None)
    return nodes, comps


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id of the node's component.

    Each round combines one neighbor relaxation with one POINTER-JUMP
    (label := label of label); the jump is one extra join against the
    label table itself, the same exchange size as the relaxation. The
    jump shortens only chains whose labels already point along the
    chain: on a path whose ids run in order it settles in few rounds,
    but on a path through ids in random order the rounds still grow
    with the diameter — NOT O(log diameter). Measured at ``local[8]``:
    a 64-node path through seeded random-order ids ran 531 s (hundreds
    of jobs), and a sparse random graph of 100k edges did not close in
    300 s at ``local[4]``, where driver union-find took 2.5 s.

    Raises if the fixpoint isn't reached in ``max_iter`` rounds — a
    component of large diameter can hit that bound.

    Up to ``DRIVER_MAX_EDGES`` edges with integer or string ids are
    closed by union-find on the driver instead (module docstring); the
    rows are the same on both paths.
    """
    # Materialize the base pair list BEFORE symmetrizing: each union
    # branch otherwise re-evaluates the whole upstream pair-generation
    # subtree (for near-dup graphs, the shingle self-join) once.
    base = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).localCheckpoint(eager=True)
    sym = base.unionByName(
        base.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    id_type = sym.schema["s"].dataType
    local = (
        collect_capped(base, DRIVER_MAX_EDGES)
        if orders_like_spark(id_type)
        else None
    )
    if local is not None:
        nodes, comps = _union_find(
            local.column("s").to_pylist(), local.column("d").to_pylist()
        )
        at = to_arrow_type(id_type)
        return edges.sparkSession.createDataFrame(
            pa.table(
                {"node": pa.array(nodes, at), "component": pa.array(comps, at)}
            )
        )
    sym = sym.distinct().localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy(F.col("s").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        relaxed = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        # pointer jump: labels are node ids, so follow one hop through
        # the label table itself (label := min(label, label-of-label))
        lbl_map = relaxed.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        new_labels = (
            relaxed.join(
                lbl_map, relaxed["label"] == lbl_map["l_node"], "left"
            )
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("l_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one representative (min id) per near-dup component plus every
    row that appears in no pair. The end-to-end near-dup dedup: pairs →
    closure → survivors."""
    comp = connected_components(pairs, src, dst)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the symmetrized edge set — Pregel-lite: each
    iteration is one join (ranks onto out-edges) plus one groupBy(dst),
    with the per-iteration frame localCheckpoint'ed so iteration t+1
    reads a materialized t rather than replaying the whole lineage (the
    same convention as connected_components above).

    Symmetrized edges mean every node has out-degree >= 1, so there is
    no dangling mass to redistribute. Per-edge contributions are
    quantized to int64 (floor(r/deg * 1e12 + 0.5)) before the sum, so
    ranks are independent of partitioning and bit-reproducible by the
    SQL oracle. Returns (node, rank); ranks sum to ~1.
    """
    # Same base-materialization as connected_components: don't pay the
    # pair-generation subtree once per union branch.
    base = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).localCheckpoint(eager=True)
    sym = base.unionByName(
        base.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).distinct()
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    ed = sym.join(deg, "s").localCheckpoint(eager=True)

    nodes = ed.select(F.col("s").alias("node")).distinct()
    n = nodes.count()
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))

    for _ in range(iters):
        contrib = ed.join(
            ranks.withColumnRenamed("node", "s"), "s"
        ).select(
            F.col("d").alias("node"),
            F.floor(F.col("r") / F.col("deg") * 1e12 + 0.5)
            .cast("long")
            .alias("q"),
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("q").alias("sq"))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * (F.col("sq") / F.lit(1e12))
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("r").alias("rank"))


def triangle_stats(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """One-row graph cohesion summary over an undirected edge set:
    (n_nodes, n_edges, n_triangles, n_wedges, clustering_coeff).

    Triangle counting uses DEGREE-ORDERED ORIENTATION (the standard
    scale trick — Schank & Wagner's forward algorithm / Suri-Vassilvitskii
    in its join form): each undirected edge is directed from its
    lower-(degree, id) endpoint to the higher one, so every node's
    out-degree is O(sqrt(m)) and the wedge self-join fan-out is bounded
    even at hub nodes — a raw edge self-join is quadratic in the hottest
    node's degree instead. Wedges at u (pairs of out-neighbors) are
    closed by one more join against the canonical (min, max) edge set.
    Every triangle is counted exactly once: at its (degree, id)-minimum
    corner.

    n_wedges counts all open 2-paths (sum of C(deg, 2) over nodes); the
    global clustering coefficient is 3·triangles / wedges.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(F.col("a") != F.col("b"))
    # Canonical undirected edge set (lo, hi), deduped — MATERIALIZED
    # once (eager localCheckpoint, blocks GC-reclaimed with the plan):
    # the edge set feeds the degree pass, the orientation join, and the
    # closure semi-join; un-checkpointed, Spark replays the whole
    # upstream pair-generation subtree (for near-dup graphs, the
    # shingle self-join) for each of those consumers. The edge list is
    # tiny next to its producer, so the sync materialization is cheap.
    canon = (
        e.select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = canon.select(F.col("lo").alias("n"), F.col("hi").alias("m")).unionByName(
        canon.select(F.col("hi").alias("n"), F.col("lo").alias("m"))
    )
    deg = sym.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    # Orient each edge from the (deg, id)-smaller endpoint outward.
    dl = deg.select(F.col("n").alias("lo"), F.col("deg").alias("deg_lo"))
    dh = deg.select(F.col("n").alias("hi"), F.col("deg").alias("deg_hi"))
    ed = canon.join(dl, "lo").join(dh, "hi")
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | (
        (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    )
    out = ed.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
    )
    o1 = out.select(F.col("u"), F.col("v").alias("v1"))
    o2 = out.select(F.col("u"), F.col("v").alias("v2"))
    wedges_uv = o1.join(o2, "u").filter(F.col("v1") < F.col("v2"))
    tri = wedges_uv.join(
        canon,
        (F.least("v1", "v2") == F.col("lo"))
        & (F.greatest("v1", "v2") == F.col("hi")),
        "left_semi",
    )
    counts = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias(
            "n_wedges"
        ),
    )
    edge_stats = canon.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        counts.join(node_stats)
        .join(edge_stats)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(
                F.floor(
                    3.0 * F.col("n_triangles") / F.col("n_wedges") * 1000000.0
                    + 0.5
                )
                / 1000000.0
            )
            .alias("clustering_coeff"),
        )
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    src: str = "s",
    dst: str = "d",
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised label propagation: seeded nodes keep their label;
    every other node repeatedly takes the MAJORITY label of its labeled
    neighbors (ties broken by the smallest label — integer votes, so no
    float quantization is needed for cross-engine determinism; nodes
    with no labeled neighbor keep their previous state).

    ``edges`` must contain both directions of each undirected edge
    (s → d means "s votes into d"); ``seeds`` is (id, label) with NULL
    label for unseeded nodes. Each round is one join + one grouped count
    + one per-node argmax window (partitioned by node — never global)
    — the Pregel-lite shape shared with pagerank; lineage is truncated
    per round so round N never replays rounds 1..N-1.
    """
    sym = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).distinct().localCheckpoint(eager=True)
    from pyspark.sql.window import Window

    seeds0 = seeds.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("__seed")
    )
    cur = seeds0.select("id", F.col("__seed").alias("lbl"))
    w = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("nl"))
    for _ in range(iters):
        votes = (
            sym.join(
                cur.filter(F.col("lbl").isNotNull()).select(
                    F.col("id").alias("s"), F.col("lbl").alias("nl")
                ),
                "s",
            )
            .groupBy(F.col("d").alias("id"), "nl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", F.col("nl").alias("best"))
        )
        cur = (
            seeds0.join(cur, "id")
            .join(best, "id", "left")
            .select(
                "id",
                F.when(F.col("__seed").isNotNull(), F.col("__seed"))
                .otherwise(F.coalesce(F.col("best"), F.col("lbl")))
                .alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    return cur


def kcore(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    k: int = 2,
    rounds: int = 6,
) -> DataFrame:
    """k-core decomposition by iterative peeling: drop every vertex with
    degree < k, remove its edges, repeat ``rounds`` times; returns
    (node, degree) for the surviving subgraph. A fixed round count keeps
    the trajectory replayable by a SQL twin; once the peel converges the
    remaining rounds are no-ops, so ``rounds`` only needs to exceed the
    peel depth (bounded by the longest chain hanging off the core, not
    the graph size). Each round is one degree groupBy plus two semi
    joins, truncated with localCheckpoint so round N+1 doesn't replay
    rounds 1..N.
    """
    sym = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .unionAll(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = sym
    for _ in range(rounds):
        keep = (
            edges.groupBy("s")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("s")
        )
        edges = (
            edges.join(keep, "s", "left_semi")
            .join(keep.select(F.col("s").alias("d")), "d", "left_semi")
            .select("s", "d")
            .localCheckpoint(eager=True)
        )
    return (
        edges.groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .select(F.col("s").alias("node"), "degree")
    )


def bfs_distances(
    pairs: DataFrame,
    sources: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    rounds: int = 6,
) -> DataFrame:
    """Multi-source BFS: minimum hop count from any source vertex,
    explored for a fixed ``rounds`` hops (nodes further than that are
    absent from the output — the bounded-radius semantics a SQL twin
    can replay). ``sources`` is a one-column frame of seed vertex ids.

    Each round relaxes the frontier through one edge join and re-mins —
    Pregel-lite like pagerank/label_propagation, with the per-round
    frame truncated (localCheckpoint) so round t+1 doesn't replay
    rounds 1..t. The distance frame never exceeds |V| rows.
    """
    src = sources.toDF("n").distinct()
    sym = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .unionAll(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # seeds outside the edge set still have distance 0 to themselves
    dist = src.select("n", F.lit(0).alias("dist")).localCheckpoint(
        eager=True
    )
    for _ in range(rounds):
        hop = (
            dist.join(sym, dist["n"] == sym["s"])
            .select(F.col("d").alias("n"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionAll(hop)
            .groupBy("n")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.select(F.col("n").alias("node"), "dist")
