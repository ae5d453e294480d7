"""COCO/YOLO exporter tests — oracle parity plus file-level golden checks
(SURVEY.md §5.2: writers are tested by parsing their emitted files)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ml_pipelines_spark.queries.export import _anno_df, _images_df
from ml_pipelines_spark.sinks.coco import (
    coco_annotations,
    coco_categories,
    coco_document,
    coco_images,
    write_coco_json,
)
from ml_pipelines_spark.sinks.yolo import write_yolo_dir, yolo_files, yolo_lines
from ml_pipelines_spark.testing import check_query


@pytest.mark.parametrize("name", ["coco_records", "yolo_export_lines"])
def test_oracle_parity(spark, sf_dir, name):
    assert check_query(spark, sf_dir, name) == []


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    anno = _anno_df(spark, sf_dir).limit(200).cache()
    images = _images_df(spark, sf_dir).cache()
    return anno, images


class TestCocoDocument:
    def test_document_structure(self, spark, corpus, tmp_path):
        anno, images = corpus
        out = str(tmp_path / "coco.json")
        write_coco_json(anno, images, out, odtk=True, train=True)
        with open(out) as f:
            doc = json.load(f)
        assert set(doc) == {"info", "licenses", "images", "annotations", "categories"}

        # categories: 1-based dense ids over sorted names
        names = [c["name"] for c in doc["categories"]]
        assert names == sorted(names)
        assert [c["id"] for c in doc["categories"]] == list(
            range(1, len(names) + 1)
        )

        # image ids dense 0-based; annotation ids dense 0-based
        assert [i["id"] for i in doc["images"]] == list(range(len(doc["images"])))
        assert [a["id"] for a in doc["annotations"]] == list(
            range(len(doc["annotations"]))
        )

        # every annotation references a real image and category
        img_ids = {i["id"] for i in doc["images"]}
        cat_ids = {c["id"] for c in doc["categories"]}
        for a in doc["annotations"]:
            assert a["image_id"] in img_ids
            assert a["category_id"] in cat_ids
            # odtk: bbox is the 5-element rcoco; area = w*h
            assert len(a["bbox"]) == 5
            assert a["area"] == pytest.approx(a["bbox"][2] * a["bbox"][3])
            assert "segmentation" not in a  # train=True drops segmentation

    def test_validation_set_keeps_segmentation(self, corpus, tmp_path):
        anno, images = corpus
        out = str(tmp_path / "coco_val.json")
        write_coco_json(anno, images, out, odtk=True, train=False)
        with open(out) as f:
            doc = json.load(f)
        assert all("segmentation" in a for a in doc["annotations"])

    def test_d2_mode_quirk_area_from_rcoco(self, corpus):
        # d2 bbox is the segmentation envelope, but area stays rcoco-based
        # (reference quirk, create_coco_from_feather.py:28-44).
        anno, images = corpus
        recs = coco_annotations(anno, images, odtk=False).limit(50).collect()
        for r in recs:
            assert len(r["bbox"]) == 4
            assert len(r["segmentation"]) == 8


class TestDocumentMatchesBuilders:
    """The driver-side document assigns the ids the distributed builders
    assign: categories 1-based over the sorted names of every annotation,
    images 0-based in image_name order, annotations 0-based in
    (image_name, category) order over annotations with a known image."""

    @pytest.fixture(scope="class")
    def anno_orphan(self, corpus):
        anno, _ = corpus
        # an annotation whose image is not in `images`, carrying the only
        # use of category "M" (sorts between the real "A" and "N")
        orphan = anno.limit(1).select(
            F.lit("img_missing").alias("image_name"),
            F.lit("M").alias("category"),
            *[c for c in anno.columns if c not in ("image_name", "category")],
        )
        return anno.unionByName(orphan)

    @staticmethod
    def _records(rows):
        recs = []
        for r in rows:
            rec = {
                "iscrowd": r["iscrowd"],
                "image_id": r["image_id"],
                "bbox": list(r["bbox"]),
                "category_id": r["category_id"],
                "area": r["area"],
                "id": r["anno_id"],
            }
            if "segmentation" in r.__fields__:
                rec["segmentation"] = [list(r["segmentation"])]
            recs.append(rec)
        return recs

    @pytest.mark.parametrize(
        "odtk,train",
        [(True, True), (True, False), (False, True), (False, False)],
    )
    def test_equals_distributed_builders(
        self, corpus, anno_orphan, odtk, train
    ):
        _, images = corpus
        doc = coco_document(anno_orphan, images, odtk=odtk, train=train)

        cats = coco_categories(anno_orphan).orderBy("category_id").collect()
        assert doc["categories"] == [
            {"supercategory": r["name"], "id": r["category_id"], "name": r["name"]}
            for r in cats
        ]
        assert "M" in {c["name"] for c in doc["categories"]}

        imgs = coco_images(images).orderBy("image_id").collect()
        assert doc["images"] == [
            {
                "license": 1,
                "file_name": r["image_name"] + ".jpeg",
                "height": r["height"],
                "width": r["width"],
                "id": r["image_id"],
            }
            for r in imgs
        ]

        ref = self._records(
            coco_annotations(anno_orphan, images, odtk=odtk, train=train)
            .orderBy("anno_id")
            .collect()
        )
        got = doc["annotations"]
        # dense ids, and the same (image, category) sequence in id order
        assert [a["id"] for a in got] == list(range(len(got)))
        assert [a["id"] for a in ref] == list(range(len(ref)))
        assert [(a["image_id"], a["category_id"]) for a in got] == [
            (a["image_id"], a["category_id"]) for a in ref
        ]
        # ties within (image_name, category) are unordered: compare the
        # records without their ids as multisets
        def strip(recs):
            return sorted(repr({k: v for k, v in a.items() if k != "id"})
                          for a in recs)
        assert strip(got) == strip(ref)
        # the orphan annotation is dropped, its category is not used
        m_id = next(c["id"] for c in doc["categories"] if c["name"] == "M")
        assert all(a["category_id"] != m_id for a in got)


class TestYoloFiles:
    def test_files_written_and_parse(self, corpus, tmp_path):
        anno, images = corpus
        cats = coco_categories(anno)
        lines = yolo_lines(anno, images, cats)
        out_dir = str(tmp_path / "yolo")
        n = write_yolo_dir(lines, out_dir)
        files = os.listdir(out_dir)
        assert len(files) == n > 0
        total_lines = 0
        for fn in files:
            assert fn.endswith(".txt")
            with open(os.path.join(out_dir, fn)) as f:
                for line in f.read().strip().split("\n"):
                    parts = line.split(" ")
                    assert len(parts) == 5
                    assert int(parts[0]) >= 1
                    xc, yc, w, h = map(float, parts[1:])
                    for v in (xc, yc, w, h):
                        assert 0.0 <= v <= 1.5
                    total_lines += 1
        assert total_lines == lines.count()

    def test_inner_join_drops_unknown_images(self, spark, corpus):
        anno, images = corpus
        cats = coco_categories(anno)
        extra = anno.limit(1).withColumn("image_name", F.lit("img_nonexistent"))
        lines = yolo_lines(anno.unionByName(extra), images, cats)
        assert (
            lines.filter(F.col("image_name") == "img_nonexistent").count() == 0
        )

    def test_segmentation_mode(self, corpus):
        anno, images = corpus
        cats = coco_categories(anno)
        lines = yolo_lines(anno, images, cats, segmentation=True).limit(5).collect()
        for r in lines:
            parts = r["line"].split(" ")
            assert len(parts) == 1 + 8  # cat + 4 points x/y


class TestYoloSinglePass:
    def test_input_plan_runs_once(self, spark, tmp_path):
        images = spark.createDataFrame(
            [("a", 100, 50), ("b", 200, 100), ("c", 100, 100)],
            ["image_name", "width", "height"],
        )
        box = [10.0, 10.0, 30.0, 10.0, 30.0, 20.0, 10.0, 20.0]
        anno = spark.createDataFrame(
            [("a", "car", box), ("a", "car", box), ("a", "person", box),
             ("b", "person", box),
             # c carries only a redaction polygon: no label file
             ("c", "excluderegion", box)],
            "image_name string, category string, segmentation array<double>",
        )
        cats = spark.createDataFrame(
            [("car", 1), ("person", 2)], ["name", "category_id"]
        )
        evaluated = spark.sparkContext.accumulator(0)

        @F.udf("string")
        def tick(name):
            evaluated.add(1)
            return name

        # on the grouping key, so any action over the files plan needs it
        lines = yolo_lines(anno, images, cats).withColumn(
            "image_name", tick("image_name")
        )
        out_dir = str(tmp_path / "labels")
        n = write_yolo_dir(lines, out_dir)

        assert evaluated.value == 4  # one evaluation per line
        files = sorted(os.listdir(out_dir))
        assert files == ["a.txt", "b.txt"]
        assert n == len(files)
        with open(os.path.join(out_dir, "a.txt")) as f:
            assert len(f.read().splitlines()) == 3


# ---------------------------------------------------------------------------
# WebDataset tar shard sink
# ---------------------------------------------------------------------------


def test_webdataset_shards_pair_members_and_are_deterministic(spark, tmp_path):
    import hashlib
    import os
    import tarfile

    import pyspark.sql.functions as F

    from ml_pipelines_spark.sinks.webdataset import write_webdataset

    rows = [
        (i, f"text body {i}".encode(), f'{{"id": {i}}}') for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["sample_id", "img", "meta"])
    d1 = str(tmp_path / "wds1")
    m = write_webdataset(
        df, d1, "sample_id", {"img": "img", "meta": "json"}, num_shards=4
    ).collect()
    # manifest covers every sample exactly once
    assert sum(r.n_samples for r in m) == 60
    shards = sorted(os.listdir(d1))
    assert shards == [f"shard-{r.shard:05d}.tar" for r in sorted(m, key=lambda r: r.shard)]
    seen = set()
    for s in shards:
        with tarfile.open(os.path.join(d1, s)) as tar:
            names = tar.getnames()
            # members arrive in sorted-key order, one .img + .json pair
            # per sample, adjacent
            stems = [n.rsplit(".", 1)[0] for n in names]
            assert stems == sorted(stems, key=lambda x: (x, ))
            for i in range(0, len(names), 2):
                assert stems[i] == stems[i + 1]
            # payload round-trips
            for mem in tar.getmembers():
                if mem.name.endswith(".img"):
                    sid = int(mem.name.split(".")[0])
                    assert tar.extractfile(mem).read() == f"text body {sid}".encode()
                    seen.add(sid)
    assert seen == set(range(60))
    # byte determinism: a second write produces identical archives
    d2 = str(tmp_path / "wds2")
    write_webdataset(
        df, d2, "sample_id", {"img": "img", "meta": "json"}, num_shards=4
    ).collect()
    for s in shards:
        h1 = hashlib.md5(open(os.path.join(d1, s), "rb").read()).hexdigest()
        h2 = hashlib.md5(open(os.path.join(d2, s), "rb").read()).hexdigest()
        assert h1 == h2, s


def test_webdataset_write_is_eager_and_single_shot(spark, tmp_path):
    """The tar write is a side effect: it must run exactly once at call
    time, leave no temp files, and re-actions on the returned manifest
    must NOT rewrite the shards (a lazy manifest would re-run the pass
    on every count/collect, letting retries interleave writers)."""
    import os

    from ml_pipelines_spark.sinks.webdataset import write_webdataset

    rows = [(i, f"payload {i}".encode()) for i in range(20)]
    df = spark.createDataFrame(rows, ["sample_id", "img"])
    d = str(tmp_path / "wds_eager")
    m = write_webdataset(df, d, "sample_id", {"img": "img"}, num_shards=2)
    tars = sorted(os.listdir(d))
    assert tars == ["shard-00000.tar", "shard-00001.tar"]  # no temps
    stamps = {s: os.stat(os.path.join(d, s)).st_mtime_ns for s in tars}
    # act on the manifest repeatedly — shards must not be rewritten
    assert m.count() == 2
    assert sum(r.n_samples for r in m.collect()) == 20
    after = {s: os.stat(os.path.join(d, s)).st_mtime_ns for s in tars}
    assert after == stamps
