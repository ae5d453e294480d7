"""YOLO txt-per-image export (SURVEY.md §2.1 S11, §2.4 A4).

Re-expresses the reference exporter (create_yolo_from_feather.py:25-70):
group annotations by image, normalize boxes to image dims, one txt file
per image with one "<category_id> <coords...>" line per annotation.

Spark-first shape: the O(images x annotations) driver dict of the
reference becomes one broadcast join + one groupBy; files are written
per partition, so the fan-out runs on executors (each partition
writes its own images — at scale point the output at a shared
filesystem/object store path).

Reference semantics preserved:
- inner-join drop: images without annotations produce no file, and
  annotations are only exported for images present in the image table
  (the reference's KeyError-on-missing becomes a clean inner join).
- bbox mode: [x_center, y_center, w, h] normalized (:13-23);
  segmentation mode: alternating x/width y/height fractions (:9-11).

Divergence (documented): coordinates are fixed-point %.6f instead of
Python repr() floats — reproducible across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import seg_points


def yolo_lines(
    anno: DataFrame,
    images: DataFrame,
    categories: DataFrame,
    segmentation: bool = False,
) -> DataFrame:
    """(image_name, line) pairs — one YOLO annotation line per row.

    ``images`` must carry (image_name, width, height); ``categories``
    (name, category_id) is the cat_map argument of the reference.
    """
    dims = F.broadcast(images.select("image_name", "width", "height"))
    cats = F.broadcast(categories)
    joined = anno.join(dims, "image_name", "inner").join(
        cats, anno["category"] == cats["name"], "inner"
    )
    # Fixed-point quantization BEFORE formatting: floor(x*1e6 + 0.5) is
    # pure float64 arithmetic, bit-identical in any engine, unlike
    # ROUND/printf whose decimal tie-rounding differs (Java HALF_UP on the
    # decimal expansion vs C on the binary value). The digits are then
    # assembled with integer/string ops — codegen-friendly, ~3x faster
    # than java.util.Formatter on the hot path (non-negative inputs).
    def q6(c: Column) -> Column:
        v = F.floor(c * 1e6 + 0.5).cast("long")
        whole = F.floor(v / 1000000).cast("long")
        frac = (v - whole * 1000000).cast("long")
        return F.concat(
            whole.cast("string"),
            F.lit("."),
            F.lpad(frac.cast("string"), 6, "0"),
        )

    if not segmentation:
        # Envelope via seg_axis_min/max: codegen least/greatest for
        # 4-point polygons (the rectangle-dominated export corpus),
        # interpreted HOF slice only as the general fallback — ~2x on
        # the envelope stage at 600k rows. Staged projection keeps the
        # envelope values materialized once for the digit assembly.
        from ..functions.geometry import seg_axis_max, seg_axis_min

        s = F.col("segmentation")
        xmin, ymin = seg_axis_min(s, 0), seg_axis_min(s, 1)
        xmax, ymax = seg_axis_max(s, 0), seg_axis_max(s, 1)
        envelope = joined.select(
            "image_name",
            "category_id",
            F.col("width").cast("double").alias("width"),
            F.col("height").cast("double").alias("height"),
            xmin.cast("double").alias("xmin"),
            ymin.cast("double").alias("ymin"),
            (xmax - xmin).cast("double").alias("bw"),
            (ymax - ymin).cast("double").alias("bh"),
        )
        # Same arithmetic shape as yolo_box(segmentation_bbox(...)):
        # xc = (xmin + bw/2)/W with bw = xmax - xmin.
        return envelope.select(
            "image_name",
            F.concat_ws(
                " ",
                F.col("category_id").cast("string"),
                q6((F.col("xmin") + F.col("bw") / 2) / F.col("width")),
                q6((F.col("ymin") + F.col("bh") / 2) / F.col("height")),
                q6(F.col("bw") / F.col("width")),
                q6(F.col("bh") / F.col("height")),
            ).alias("line"),
        )

    # segmentation mode: per-point normalized fractions — variable-length,
    # so the q6 formatting runs inside the (single) transform lambda.
    coords = F.array_join(
        F.flatten(
            F.transform(
                seg_points(F.col("segmentation")),
                lambda p: F.array(
                    q6(F.element_at(p, 1) / F.col("width")),
                    q6(F.element_at(p, 2) / F.col("height")),
                ),
            )
        ),
        " ",
    )
    return joined.select(
        "image_name",
        F.format_string("%d ", F.col("category_id")).alias("__cat"),
        coords.alias("__coords"),
    ).select("image_name", F.concat("__cat", "__coords").alias("line"))


def yolo_files(lines: DataFrame) -> DataFrame:
    """One row per output file: (image_name, content) with lines joined
    in deterministic order (create_yolo_from_feather.py:58-68)."""
    return (
        lines.groupBy("image_name")
        .agg(F.sort_array(F.collect_list("line")).alias("ls"))
        .select(
            "image_name",
            F.concat(F.array_join("ls", "\n"), F.lit("\n")).alias("content"),
        )
    )


def write_yolo_dir(lines: DataFrame, output_txt_dir: str) -> int:
    """Write <image_name>.txt files from executors; returns file count.

    One Spark action: each partition writes its files and yields how many
    it wrote, and the driver sums the counts, so the join and group-by
    plan under ``lines`` runs once.

    ``output_txt_dir`` must be visible to executors (shared fs / fuse
    mount on a cluster; any local dir under local[*])."""
    os.makedirs(output_txt_dir, exist_ok=True)

    def write_partition(rows):
        n = 0
        for row in rows:
            path = os.path.join(output_txt_dir, row["image_name"] + ".txt")
            with open(path, "w") as f:
                f.write(row["content"])
            n += 1
        yield n

    return sum(yolo_files(lines).rdd.mapPartitions(write_partition).collect())
