"""Entity-keyed sampling and train/val/test splitting — SURVEY.md §2.6.

The reference's signature operation (TrainDatasets.py:235-287, 423-433):
sample a fraction of *entity keys* (images / items), then split so that
every annotation of an entity lands in exactly one split — the
leakage-prevention invariant stated at TrainDatasets.py:149-150. Its
implementation is unseeded pandas RNG + per-image assignment loops; here
the same semantics are seeded, deterministic, and single-shuffle.

Two split families:

- ``random_*``: Spark ``sample``/``randomSplit`` with explicit seeds —
  statistically uniform, deterministic for a fixed input partitioning.
- ``hash_*``: assignment by md5 of the entity key — deterministic across
  engines, runs, cluster sizes, and data layout. This is the production
  choice at 100 TB: adding rows never reshuffles existing assignments,
  and the split can be recomputed anywhere (including a SQL oracle)
  without coordination.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Width of the hex prefix used for hash bucketing: 4 hex digits = 65536
# buckets → fraction granularity 1/65536, plenty for split ratios.
_HEX_DIGITS = 4
_BUCKETS = 16**_HEX_DIGITS


def _hex_threshold(cum_fraction: float) -> str:
    """Cumulative fraction → zero-padded lowercase hex boundary string."""
    b = min(_BUCKETS, max(0, round(cum_fraction * _BUCKETS)))
    return format(b, f"0{_HEX_DIGITS}x")


def hash_bucket_expr(key: Column, salt: str = "") -> Column:
    """Lowercase 4-hex-digit md5 prefix of the (salted) key — uniform over
    65536 buckets, identical in any engine with md5()."""
    return F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, _HEX_DIGITS)


def hash_split_expr(
    key: Column, fractions: dict[str, float], salt: str = ""
) -> Column:
    """CASE expression assigning a split label by hashed key.

    ``fractions`` maps label -> fraction (must sum to ~1). Assignment is
    by cumulative hex thresholds, so it is order-stable and reproducible
    in plain SQL (see queries.splits for the DuckDB twin).
    """
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = hash_bucket_expr(key, salt)
    expr = None
    cum = 0.0
    labels = list(fractions)
    for label in labels[:-1]:
        cum += fractions[label]
        cond = bucket < F.lit(_hex_threshold(cum))
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = labels[-1]
    return (F.lit(last) if expr is None else expr.otherwise(last)).alias("split")


def hash_split(
    df: DataFrame, key_col: str, fractions: dict[str, float], salt: str = ""
) -> DataFrame:
    """Tag each row with a deterministic split label keyed on ``key_col``.

    All rows sharing a key get the same label (leakage-safe by
    construction) — no shuffle, no state, no key-list on the driver.
    """
    return df.withColumn("split", hash_split_expr(F.col(key_col), fractions, salt))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Deterministic stratified sampling — ``sampleBy`` without RNG
    state: keep a row iff its key's hash falls under its stratum's
    threshold. Strata absent from ``fractions`` are dropped.

    Same-key rows are kept or dropped together (entity-safe, like the
    split operators), and the predicate is a pure function of the data:
    results are identical across engines, partitionings, and task
    retries — unlike ``DataFrame.sampleBy``, whose output depends on
    partition layout. The filter evaluates in the scan stage (no
    shuffle); at 100 TB this is the way to downsample dominant sources
    or languages to a target mix.
    """
    for stratum, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {stratum!r} not in [0,1]: {frac}")
    bucket = hash_bucket_expr(F.col(key_col), salt)
    cond = F.lit(False)
    for stratum, frac in fractions.items():
        if frac <= 0.0:
            continue
        in_stratum = F.col(stratum_col) == stratum
        # frac == 1.0 must skip the hash test: _hex_threshold(1.0) is
        # '10000', one digit wider than the 4-char bucket, and the
        # lexicographic compare would keep only buckets starting '0'.
        cond = cond | (
            in_stratum
            if frac >= 1.0
            else in_stratum & (bucket < F.lit(_hex_threshold(frac)))
        )
    return df.filter(cond)


def hash_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int,
    salt: str = "kpg",
) -> DataFrame:
    """Deterministic fixed-size sample: at most ``k`` rows per group,
    chosen by md5(salt:key) order — a reproducible reservoir.

    Unlike a fraction sample, group output size is bounded regardless of
    group skew, which is what a per-domain preview/eval carve-out needs.
    Two-phase: each input partition first keeps its own <= k rows per
    group (a (spark_partition_id, group) window — never a whole group
    in one task), then the global per-group window ranks <= k*P
    survivors. The group key is dictionary-class and typically skewed
    (source, lang); a single-phase per-group window would funnel the
    dominant group through ONE task at 100 TB. The rank is a window
    ``row_number`` so ties cannot duplicate; the top-k by a total order
    is preserved under local pruning. Deterministic across engines.
    """
    order = [
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))),
        F.col(key_col),
    ]
    local = Window.partitionBy(F.spark_partition_id(), *group_cols).orderBy(
        *order
    )
    pruned = (
        df.withColumn("__lr", F.row_number().over(local))
        .filter(F.col("__lr") <= k)
        .drop("__lr")
    )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        pruned.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def nested_entity_split(
    rows: DataFrame,
    entities: DataFrame,
    key_col: str,
    p: float,
    test_split: bool,
    seed: int,
) -> dict[str, DataFrame]:
    """R2 (TrainDatasets.py:235-287): nested train/val/test split.

    Reference semantics reproduced exactly: sample fraction ``p`` of
    entities as holdout; of the holdout, 80% → val and 20% → test (when
    ``test_split``, else all → val); remaining entities → train. Rows are
    materialized per split via left-semi joins against the key sets —
    the key lists never touch the driver (the reference collects them,
    TrainDatasets.py:289-294, which cannot work at datalake scale).
    """
    keys = entities.select(key_col).distinct()
    if test_split:
        train_k, val_k, test_k = keys.randomSplit(
            [1.0 - p, 0.8 * p, 0.2 * p], seed=seed
        )
    else:
        train_k, val_k = keys.randomSplit([1.0 - p, p], seed=seed)
        test_k = None
    out = {
        "train": rows.join(train_k, key_col, "left_semi"),
        "val": rows.join(val_k, key_col, "left_semi"),
    }
    if test_k is not None:
        out["test"] = rows.join(test_k, key_col, "left_semi")
    return out


def shuffle_split(
    ids: DataFrame, key_col: str, p: float, seed: int
) -> tuple[DataFrame, DataFrame]:
    """R3 (TrainDatasets.py:423-433 iid_sampler/db_query_sampler): split a
    distinct id set into (rest, sampled) with |sampled| ≈ p·|ids|."""
    distinct = ids.select(key_col).distinct()
    rest, sampled = distinct.randomSplit([1.0 - p, p], seed=seed)
    return rest, sampled


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "ws",
) -> DataFrame:
    """Weighted sampling without replacement — the A-Res/A-ExpJ reservoir
    construction (Efraimidis & Spirakis 2006) made deterministic and
    engine-portable: each row gets key = ln(u)/w with u an md5-derived
    uniform in (0,1), and the k LARGEST keys are the sample (equivalent
    ordering to u^(1/w); items are selected with probability
    proportional to ``weight_col``). At scale this is the standard
    one-pass distributed weighted sampler: keys are computed row-local,
    and top-k is two-phase (per-partition prune to k, then one global
    window over <= k*P survivors). md5 in place of engine RNG keeps
    results independent of partitioning AND re-derivable by a SQL twin.

    Output: (id, weight, wkey ROUNDED to 9dp, rank). The 9dp round + id
    tiebreak pins the cross-engine rank against last-ulp libm
    differences, the same contract as the perplexity/entropy queries.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 52))
    wkey = F.round(F.log(u) / F.col(weight_col), 9)
    scored = df.select(
        F.col(id_col), F.col(weight_col), wkey.alias("wkey")
    )
    part = scored.withColumn(
        "__r",
        F.row_number().over(
            Window.partitionBy(F.spark_partition_id()).orderBy(
                F.col("wkey").desc(), id_col
            )
        ),
    ).filter(F.col("__r") <= k)
    return (
        part.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("wkey").desc(), id_col)),
        )
        .filter(F.col("rank") <= k)
        .select(id_col, weight_col, "wkey", "rank")
    )
