"""COCO JSON export (SURVEY.md §2.1 S10, §2.4 A4/A6/A7).

Re-expresses the reference exporter (create_coco_from_feather.py:46-116)
two ways:

- ``coco_categories``, ``coco_images`` and ``coco_annotations`` are Spark
  plans — category dictionary-encoding, dense image/annotation id
  assignment and the image↔annotation join all run distributed, for
  callers that keep the records as a table (``queries/export.py``);
- ``coco_document`` / ``write_coco_json`` build the JSON document. A COCO
  file is a single small document by definition and is collected to the
  driver anyway, so the document builder collects the projected
  annotation rows once and the image dimension once and assigns the ids
  on the driver, by the same rules.

Reference semantics preserved:
- category ids are 1-based over the *sorted* distinct categories
  (background = 0 stays reserved; :59-70).
- image ids and annotation ids are dense 0-based integers. The reference
  uses nondeterministic iteration order (:75-84, :98-106); here ids come
  from ``row_number()`` over an explicit ordering (image_name; then
  annotation sort keys) so exports are reproducible — the SURVEY §7
  risk-3 divergence, on purpose.
- ODTK records: bbox = rcoco, area = rcoco[2]*rcoco[3]; segmentation only
  for validation sets (:14-26). D2 records: bbox = axis-aligned envelope
  of the segmentation, segmentation always present, and area *still*
  rcoco-based — a reference quirk (:28-44) kept for parity.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.geometry import segmentation_bbox
from ..operators.ids import dense_ids, dense_ids_small

COCO_INFO = {
    "description": "Dataset",
    "url": "http://permaling.com",
    "version": "1.0",
    "year": 2022,
    "contributor": "Permaling",
    "date_created": "2022/04/29",
}

COCO_LICENSES = [
    {
        "url": "http://creativecommons.org/licenses/by-nc-sa/2.0/",
        "id": 1,
        "name": "Attribution-NonCommercial-ShareAlike License",
    }
]


def coco_categories(anno: DataFrame, category_col: str = "category") -> DataFrame:
    """Sorted-distinct dictionary encode, ids from 1
    (A6; create_coco_from_feather.py:59-70)."""
    return (
        anno.select(F.col(category_col).alias("name"))
        .distinct()
        .withColumn("category_id", F.row_number().over(Window.orderBy("name")))
    )


def coco_images(images: DataFrame, distributed: bool = False) -> DataFrame:
    """Dense 0-based image ids by image_name order
    (A7; create_coco_from_feather.py:73-84).

    ``distributed=False`` (default): single-window assignment — correct
    whenever the image dimension is broadcast-sized, which is the COCO
    regime (the whole document collects to the driver at the end).
    ``distributed=True``: sampled-cut-point assignment (operators.ids)
    with no single-task pass, for datalake-scale image tables — pair it
    with ``broadcast_images=False`` in :func:`coco_annotations`.
    """
    proj = images.select("image_name", "width", "height")
    if distributed:
        return dense_ids(proj, ["image_name"], id_col="image_id")
    return dense_ids_small(proj, ["image_name"], id_col="image_id")


def coco_annotations(
    anno: DataFrame,
    images: DataFrame,
    odtk: bool = True,
    train: bool = True,
    order_cols: list[str] | None = None,
    broadcast_images: bool = True,
) -> DataFrame:
    """Annotation records with dense ids, joined to image ids
    (J1 + A7; create_coco_from_feather.py:98-106).

    Annotation-id assignment is distributed over the explicit
    ``order_cols`` (default: image_name, category) via ``dense_ids`` —
    deterministic, dense, and free of single-task global windows.

    ``broadcast_images`` picks one coherent strategy for the image side:
    True (default) = broadcast join + single-window image ids (the image
    dimension fits in a broadcast, so one window task over it is the
    cheap and correct choice); False = shuffle join + distributed image
    ids, for datalake-scale image tables where neither would fit.
    """
    order_cols = order_cols or ["image_name", "category"]
    cats = F.broadcast(coco_categories(anno))
    if broadcast_images and order_cols[0] == "image_name":
        # Fused per-image scheme for the broadcast regime. anno ids are
        # image-major (order_cols starts with image_name), so the global
        # dense id decomposes into (per-image offset) + (rank within
        # image). Everything per-image rides the image DIMENSION, which
        # is broadcast-sized by assumption:
        #   1. one narrow 1-column aggregation counts annos per image
        #      (map-side partial agg; lossless-join contract as below);
        #   2. ONE single-task window over the dimension assigns
        #      image_id AND the running anno offset together (same sort,
        #      one Window operator);
        #   3. a sort-merge join delivers image_id + offset to the fact
        #      side — FORCED over broadcast, deliberately: the per-image
        #      rank window needs hash(image_name) partitioning anyway,
        #      so the SMJ exchange does double duty and the window adds
        #      only a local sort (a broadcast join here would keep the
        #      scan partitioning and force a second, wider shuffle for
        #      the window, plus the dimension broadcast build — measured
        #      ~2x slower end-to-end at sf0.1). Max task = max annos per
        #      image, so skew is bounded by the corpus shape, never by
        #      id-range buckets.
        # vs. the generic dense_ids path this removes the cut-point
        # sample job, the per-row bucket search, the separate offsets
        # aggregation, and one broadcast join from every execution.
        counts = anno.groupBy("image_name").agg(F.count(F.lit(1)).alias("__n"))
        wdim = Window.orderBy("image_name")
        dim = (
            images.select("image_name")
            .join(F.broadcast(counts), "image_name", "left")
            .fillna(0, subset=["__n"])
            .select(
                "image_name",
                (F.row_number().over(wdim) - 1).cast("int").alias("image_id"),
                (F.sum("__n").over(wdim) - F.col("__n") - 1).alias("__off"),
            )
        )
        wloc = Window.partitionBy("image_name").orderBy(*order_cols[1:])
        out = (
            anno.hint("merge").join(dim, "image_name", "inner")
            .join(cats, anno["category"] == cats["name"], "inner")
            .drop("name")
            .withColumn(
                "anno_id",
                (F.col("__off") + F.row_number().over(wloc)).cast("int"),
            )
            .drop("__n", "__off")
            .withColumn("iscrowd", F.lit(0))
        )
    else:
        img = coco_images(images, distributed=not broadcast_images).select(
            "image_name", "image_id"
        )
        img_ids = F.broadcast(img) if broadcast_images else img
        joined = (
            anno.join(img_ids, "image_name", "inner")
            .join(cats, anno["category"] == cats["name"], "inner")
            .drop("name")
        )
        # The inner joins only drop annotations whose image/category is
        # missing — none, by construction in well-formed exports (the
        # category dictionary is derived FROM anno, so that join is
        # lossless by definition; the image side is the export
        # contract). The pre-join anno side therefore has the final key
        # multiset exactly: both the cut-point sample job AND the
        # bucket-count aggregation run against the narrow order columns
        # instead of re-executing the join subtree (broadcast builds
        # included) a second time.
        pre = (
            anno.select(*order_cols)
            if all(c in anno.columns for c in order_cols)
            else None
        )
        out = dense_ids(
            joined, order_cols, id_col="anno_id",
            sample_from=pre, counts_from=pre,
        ).withColumn("iscrowd", F.lit(0))
    area = (F.element_at("rcoco", 3) * F.element_at("rcoco", 4)).alias("area")
    if odtk:
        out = out.select(
            "anno_id",
            "image_id",
            "category_id",
            "iscrowd",
            F.col("rcoco").alias("bbox"),
            area,
            *([] if train else [F.col("segmentation")]),
        )
    else:
        out = out.select(
            "anno_id",
            "image_id",
            "category_id",
            "iscrowd",
            segmentation_bbox(F.col("segmentation")).alias("bbox"),
            area,
            "segmentation",
        )
    return out


def coco_document(
    anno: DataFrame,
    images: DataFrame,
    odtk: bool = True,
    train: bool = True,
) -> dict:
    """Assemble the complete COCO dict on the driver.

    The document is collected by contract, so ids are assigned here from
    one collect of the projected annotation rows and one of the image
    dimension, by the rules of the distributed builders above: category
    ids 1-based over the sorted names of every annotation, image ids
    0-based in ``image_name`` order, annotation ids 0-based in
    (``image_name``, ``category``) order over the annotations whose image
    is in ``images``. Ties within (``image_name``, ``category``) keep the
    collect order, as they are unordered in :func:`coco_annotations`.
    """
    keep_seg = not (odtk and train)
    bbox = F.col("rcoco") if odtk else segmentation_bbox(F.col("segmentation"))
    rows = anno.select(
        "image_name",
        "category",
        bbox.alias("bbox"),
        (F.element_at("rcoco", 3) * F.element_at("rcoco", 4)).alias("area"),
        *(["segmentation"] if keep_seg else []),
    ).collect()
    dims = sorted(
        images.select("image_name", "width", "height").collect(),
        key=lambda r: r["image_name"],
    )

    # a null category sorts first, as in coco_categories' window
    names = sorted(
        {r["category"] for r in rows}, key=lambda v: (v is not None, v)
    )
    cat_id = {name: i for i, name in enumerate(names, start=1)}
    image_id = {r["image_name"]: i for i, r in enumerate(dims)}
    cats = [{"supercategory": n, "id": cat_id[n], "name": n} for n in names]
    imgs = [
        {
            "license": 1,
            "file_name": r["image_name"] + ".jpeg",
            "height": r["height"],
            "width": r["width"],
            "id": i,
        }
        for i, r in enumerate(dims)
    ]
    # the inner joins of coco_annotations: drop annotations whose image is
    # not in ``images`` (or whose category is null)
    kept = sorted(
        (
            r for r in rows
            if r["image_name"] in image_id and r["category"] is not None
        ),
        key=lambda r: (r["image_name"], r["category"]),
    )
    annos = []
    for i, r in enumerate(kept):
        rec = {
            "iscrowd": 0,
            "image_id": image_id[r["image_name"]],
            "bbox": list(r["bbox"]) if r["bbox"] is not None else None,
            "category_id": cat_id[r["category"]],
            "area": r["area"],
            "id": i,
        }
        if keep_seg:
            rec["segmentation"] = [list(r["segmentation"])]
        annos.append(rec)
    return {
        "info": COCO_INFO,
        "licenses": COCO_LICENSES,
        "images": imgs,
        "annotations": annos,
        "categories": cats,
    }


def write_coco_json(
    anno: DataFrame,
    images: DataFrame,
    output_json: str,
    odtk: bool = True,
    train: bool = True,
) -> dict:
    doc = coco_document(anno, images, odtk=odtk, train=train)
    with open(output_json, "w") as f:
        json.dump(doc, f)
    return doc
