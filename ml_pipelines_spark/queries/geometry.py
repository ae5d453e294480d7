"""Geometry queries — envelope bboxes, polygon restructuring, YOLO
normalization (oracle-backed), and the rotated-bbox numpy kernel
(rows-only; property-tested in tests/test_geometry.py).

Synthetic polygons are derived deterministically from the driver's
``embeddings`` table: the first 8 embedding values, cast to double and
affinely mapped into pixel space, form a 4-point polygon per row. Both
sides (Spark and DuckDB) build the polygon with the same arithmetic on
the same float32 inputs, so values match exactly before rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geometry import (
    aabb_to_polygon,
    bbox_area,
    segmentation_bbox,
    yolo_box,
)
from ..operators.geometry import with_rotated_bbox
from .registry import query
from .relational import t

# Shared synthetic-segmentation CTE: 4 points from the first 8 embedding
# values, mapped to [0, 1000]-ish pixel coordinates.
_SEG_SQL = """
    seg AS (
        SELECT vec_id,
               list_transform(embedding[1:8],
                              v -> CAST(v AS DOUBLE) * 400.0 + 500.0) AS s
        FROM embeddings
    )
"""


def _seg_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform(
            F.slice("embedding", 1, 8), lambda v: v.cast("double") * 400.0 + 500.0
        ).alias("s"),
    )


# ---------------------------------------------------------------------------
# G5/A8: axis-aligned envelope of a polygon, plus F12 area.
# Reference: segmentation2bbox COCOUtils.py:82-89; area
# create_coco_from_feather.py:21,40.
# ---------------------------------------------------------------------------
@query(
    "seg_bbox",
    "WITH " + _SEG_SQL + """
    , xs AS (
        SELECT vec_id,
               list_transform(generate_series(1, len(s) // 2), i -> s[2*i-1]) AS x,
               list_transform(generate_series(1, len(s) // 2), i -> s[2*i]) AS y
        FROM seg
    )
    SELECT vec_id,
           ROUND(list_aggregate(x, 'min'), 4) AS bx,
           ROUND(list_aggregate(y, 'min'), 4) AS by,
           ROUND(list_aggregate(x, 'max') - list_aggregate(x, 'min'), 4) AS bw,
           ROUND(list_aggregate(y, 'max') - list_aggregate(y, 'min'), 4) AS bh,
           ROUND((list_aggregate(x, 'max') - list_aggregate(x, 'min'))
                 * (list_aggregate(y, 'max') - list_aggregate(y, 'min')), 4) AS area
    FROM xs
    """,
)
def seg_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _seg_df(spark, sf_dir)
    bbox = segmentation_bbox(F.col("s"))
    return df.select(
        "vec_id",
        F.round(F.element_at(bbox, 1), 4).alias("bx"),
        F.round(F.element_at(bbox, 2), 4).alias("by"),
        F.round(F.element_at(bbox, 3), 4).alias("bw"),
        F.round(F.element_at(bbox, 4), 4).alias("bh"),
        F.round(bbox_area(bbox), 4).alias("area"),
    )


# ---------------------------------------------------------------------------
# F10/F11: aabb → 4-corner polygon (and implicitly rect → closed polygon).
# Reference: aabb2poly COCOUtils.py:91-101; CvatApi.py:317-325.
# ---------------------------------------------------------------------------
@query(
    "aabb_poly",
    "WITH " + _SEG_SQL + """
    , xs AS (
        SELECT vec_id,
               list_transform(generate_series(1, len(s) // 2), i -> s[2*i-1]) AS x,
               list_transform(generate_series(1, len(s) // 2), i -> s[2*i]) AS y
        FROM seg
    ),
    bb AS (
        SELECT vec_id,
               list_aggregate(x, 'min') AS bx, list_aggregate(y, 'min') AS by,
               list_aggregate(x, 'max') AS x2, list_aggregate(y, 'max') AS y2
        FROM xs
    )
    SELECT vec_id,
           ROUND(bx, 4) AS p0x, ROUND(by, 4) AS p0y,
           ROUND(x2, 4) AS p1x, ROUND(by, 4) AS p1y,
           ROUND(x2, 4) AS p2x, ROUND(y2, 4) AS p2y,
           ROUND(bx, 4) AS p3x, ROUND(y2, 4) AS p3y
    FROM bb
    """,
)
def aabb_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _seg_df(spark, sf_dir)
    poly = aabb_to_polygon(segmentation_bbox(F.col("s")))
    names = ["p0x", "p0y", "p1x", "p1y", "p2x", "p2y", "p3x", "p3y"]
    return df.select(
        "vec_id",
        *[F.round(F.element_at(poly, i + 1), 4).alias(n) for i, n in enumerate(names)],
    )


# ---------------------------------------------------------------------------
# F9: YOLO coordinate normalization (absolute bbox → center/wh fractions).
# Reference: create_yolo_from_feather.py:9-23.
# ---------------------------------------------------------------------------
@query(
    "yolo_norm",
    "WITH " + _SEG_SQL + """
    , xs AS (
        SELECT vec_id,
               list_transform(generate_series(1, len(s) // 2), i -> s[2*i-1]) AS x,
               list_transform(generate_series(1, len(s) // 2), i -> s[2*i]) AS y
        FROM seg
    ),
    bb AS (
        SELECT vec_id,
               list_aggregate(x, 'min') AS bx, list_aggregate(y, 'min') AS by,
               list_aggregate(x, 'max') - list_aggregate(x, 'min') AS bw,
               list_aggregate(y, 'max') - list_aggregate(y, 'min') AS bh
        FROM xs
    )
    SELECT vec_id,
           ROUND((bx + bw / 2) / 1920.0, 6) AS xc,
           ROUND((by + bh / 2) / 1080.0, 6) AS yc,
           ROUND(bw / 1920.0, 6) AS w,
           ROUND(bh / 1080.0, 6) AS h
    FROM bb
    """,
)
def yolo_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _seg_df(spark, sf_dir)
    yb = yolo_box(segmentation_bbox(F.col("s")), F.lit(1920.0), F.lit(1080.0))
    return df.select(
        "vec_id",
        F.round(F.element_at(yb, 1), 6).alias("xc"),
        F.round(F.element_at(yb, 2), 6).alias("yc"),
        F.round(F.element_at(yb, 3), 6).alias("w"),
        F.round(F.element_at(yb, 4), 6).alias("h"),
    )


# ---------------------------------------------------------------------------
# G1-G4: rotated-bbox kernel (numpy pandas UDF — genuinely non-SQL), made
# driver-checkable via geometric INVARIANTS evaluated with pure JVM
# expressions over the kernel's output: every input point must lie inside
# the rotated box (map each point into the box's axis frame — the rcoco
# (x, y) corner and theta define it, the center is (x+w/2, y+h/2) since
# the kernel rotates about the corner centroid), and the minimum rotated
# rect can never exceed the axis-aligned envelope's area. The oracle pins
# both booleans TRUE per vec_id; a kernel bug (wrong orientation, wrong
# corner order, lost point, inflated box) flips one and fails the hash.
# The aabb_area column upgrades part of the check to a true cross-engine
# value oracle: DuckDB recomputes the envelope area from the raw points.
# Full numeric outputs remain property-tested in tests/test_geometry.py.
# Reference: rbb_coco_from_seg COCOUtils.py:8-15 et seq.
# ---------------------------------------------------------------------------
@query(
    "rbb_from_seg",
    "WITH " + _SEG_SQL + """
    , xs AS (
        SELECT vec_id,
               list_transform(generate_series(1, len(s) // 2), i -> s[2*i-1]) AS x,
               list_transform(generate_series(1, len(s) // 2), i -> s[2*i]) AS y
        FROM seg
    )
    SELECT vec_id, TRUE AS contains_all_points, TRUE AS area_le_aabb,
           ROUND((list_aggregate(x, 'max') - list_aggregate(x, 'min'))
                 * (list_aggregate(y, 'max') - list_aggregate(y, 'min')), 4)
               AS aabb_area
    FROM xs
    """,
)
def rbb_from_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embeddings is one small file = one scan partition; spread the
    # CPU-bound numpy kernel across the cores (one task per core, as in
    # operators.tracks.interpolate_tracks).
    df = with_rotated_bbox(
        _seg_df(spark, sf_dir), seg_col="s",
        repartition=spark.sparkContext.defaultParallelism,
    )
    eps = 1e-6
    x = F.element_at("rcoco", 1)
    y = F.element_at("rcoco", 2)
    w = F.element_at("rcoco", 3)
    h = F.element_at("rcoco", 4)
    th = F.element_at("rcoco", 5)
    c, s = F.cos(th), F.sin(th)
    cx, cy = x + w / 2, y + h / 2
    contains = F.lit(True)
    for i in range(4):
        px = F.element_at("s", 2 * i + 1)
        py = F.element_at("s", 2 * i + 2)
        u = (px - cx) * c + (py - cy) * s + cx
        v = -(px - cx) * s + (py - cy) * c + cy
        contains = (
            contains
            & (u >= x - eps) & (u <= x + w + eps)
            & (v >= y - eps) & (v <= y + h + eps)
        )
    aabb_area = F.element_at("coco", 3) * F.element_at("coco", 4)
    # aabb_area is a genuine CROSS-ENGINE anchor (ADVICE round 3): the
    # oracle recomputes the envelope area from the raw points in SQL, so
    # the kernel's point-reading convention and envelope math are
    # value-checked across engines — only the rotated fit itself remains
    # a self-check invariant (plus tests/test_geometry.py properties).
    return df.select(
        "vec_id",
        contains.alias("contains_all_points"),
        (w * h <= aabb_area * (1 + 1e-9) + eps).alias("area_le_aabb"),
        F.round(aabb_area, 4).alias("aabb_area"),
    )


# ---------------------------------------------------------------------------
# Inter-annotator agreement — the labeling-ops QA metric: mean IoU
# between two annotators' boxes for the same annotation id. Annotator B
# is a deterministic perturbation of annotator A (shift derived from the
# keys), so the whole pipeline — pairing, intersection, union, per-image
# fold — is exact float64 arithmetic and value-checks cross-engine.
# Expression-only: one scan, one groupBy(image); no kernel, no join (the
# perturbation pairs row-locally, the realistic two-table variant is the
# same plan plus an equi-join on annotation id).
# ---------------------------------------------------------------------------
@query(
    "annotator_agreement_iou",
    """
    WITH a AS (
        SELECT 'img_' || l_orderkey AS image_name,
               CAST(l_partkey % 1000 AS DOUBLE) AS x,
               CAST(l_suppkey % 1000 AS DOUBLE) AS y,
               l_quantity * 5.0 AS w,
               l_discount * 1000.0 + 10.0 AS h,
               CAST(l_partkey % 7 AS DOUBLE) - 3.0 AS dx,
               CAST(l_suppkey % 5 AS DOUBLE) - 2.0 AS dy
        FROM lineitem
    ),
    iou AS (
        SELECT image_name,
               greatest(least(x + w, x + dx + w) - greatest(x, x + dx), 0.0)
               * greatest(least(y + h, y + dy + h) - greatest(y, y + dy), 0.0)
                   AS inter,
               w * h AS area
        FROM a
    )
    SELECT image_name,
           COUNT(*) AS n_boxes,
           ROUND(AVG(inter / (2.0 * area - inter)), 6) AS mean_iou
    FROM iou
    GROUP BY image_name
    """,
)
def annotator_agreement_iou(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    x = (F.col("l_partkey") % 1000).cast("double")
    y = (F.col("l_suppkey") % 1000).cast("double")
    w = F.col("l_quantity") * 5.0
    h = F.col("l_discount") * 1000.0 + 10.0
    dx = (F.col("l_partkey") % 7).cast("double") - 3.0
    dy = (F.col("l_suppkey") % 5).cast("double") - 2.0
    inter = F.greatest(
        F.least(x + w, x + dx + w) - F.greatest(x, x + dx), F.lit(0.0)
    ) * F.greatest(
        F.least(y + h, y + dy + h) - F.greatest(y, y + dy), F.lit(0.0)
    )
    area = w * h
    boxes = li.select(
        F.concat(F.lit("img_"), F.col("l_orderkey")).alias("image_name"),
        inter.alias("inter"),
        area.alias("area"),
    )
    return boxes.groupBy("image_name").agg(
        F.count(F.lit(1)).alias("n_boxes"),
        F.round(
            F.avg(F.col("inter") / (2.0 * F.col("area") - F.col("inter"))), 6
        ).alias("mean_iou"),
    )
