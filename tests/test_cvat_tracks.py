"""CVAT ingestion adapter + track-interpolation kernel tests.

The transport is a canned-fixture callable (module-level, picklable for
the distributed fan-out test); semantics under test mirror
CvatApi.py:61-201 (walk/annotations/export) and :427-731 (interpolation).
"""

from __future__ import annotations

import io
import sys
import zipfile

import numpy as np
import pytest
from pyspark import cloudpickle  # PySpark serializes with its vendored copy

# The fake transport is defined in this (non-importable-on-executor) test
# module; ship it by value with the closure instead of by reference.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from ml_pipelines_spark.operators.images import encode_image, synth_pixels
from ml_pipelines_spark.operators.tracks import (
    interpolate_ring,
    interpolate_track,
    interpolate_tracks,
)
from ml_pipelines_spark.sources.cvat import (
    CvatSource,
    attach_tags,
    fetch_images_distributed,
    fetch_shapes_distributed,
    images_df,
    images_with_tags_df,
    labels_df,
    normalize_image_name,
    shapes_df,
    tags_df,
)

SQUARE_0 = [0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0]
SQUARE_40 = [40.0, 0.0, 50.0, 0.0, 50.0, 10.0, 40.0, 10.0]


def _zip_bytes() -> bytes:
    # Image names match the frames meta of task 5 (front/back), so the
    # export path and the tag-attachment join line up end-to-end.
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("images/5_front.JPG", bytes(encode_image(synth_pixels(4, 4))))
        zf.writestr("images/5_back.jpeg.jpeg", bytes(encode_image(synth_pixels(5, 3))))
        zf.writestr("annotations.xml", b"<xml/>")
    return buf.getvalue()


_EXPORT_POLLS = {"n": 0}


def fake_transport(path: str, params: dict):
    if path == "projects/1":
        return {
            "labels": [
                {"id": 10, "name": "Car",
                 "attributes": [{"id": 100, "name": "color"}]},
                {"id": 11, "name": "Person", "attributes": []},
            ]
        }
    if path == "tasks" and params.get("page") == 1:
        return {
            "results": [
                {"id": 5, "segments": [{"jobs": [{"id": 50}]}]},
            ],
            "next": 2,
        }
    if path == "tasks" and params.get("page") == 2:
        return {
            "results": [{"id": 6, "segments": [{"jobs": [{"id": 60}]}]}],
            "next": None,
        }
    if path == "jobs/50":
        return {"task_id": 5, "start_frame": 0}
    if path == "jobs/60":
        return {"task_id": 6, "start_frame": 0}
    if path == "tasks/5/data/meta":
        return {"frames": [{"name": "5_front.JPG.jpg"},
                           {"name": "dir/5_back.jpeg"}]}
    if path == "tasks/6/data/meta":
        return {"frames": []}
    if path == "jobs/50/annotations":
        return {
            "tags": [
                {"label_id": 10, "frame": 0},
                {"label_id": 11, "frame": 0},
                {"label_id": 10, "frame": 1},
            ],
            "shapes": [
                {"frame": 0, "label_id": 10, "type": "polygon",
                 "points": SQUARE_0, "outside": False,
                 "attributes": [{"spec_id": 100, "value": "red"}]},
                {"frame": 1, "label_id": 11, "type": "rectangle",
                 "points": [1.0, 2.0, 3.0, 4.0], "outside": False,
                 "attributes": []},
            ],
            "tracks": [
                {"id": 7, "label_id": 10, "shapes": [
                    {"frame": 0, "type": "polygon", "points": SQUARE_0,
                     "outside": False, "attributes": []},
                    {"frame": 4, "type": "polygon", "points": SQUARE_40,
                     "outside": False, "attributes": []},
                ]},
            ],
        }
    if path == "jobs/60/annotations":
        return {"tags": [], "shapes": [], "tracks": []}
    if path == "tasks/5/dataset" and params.get("action") == "status":
        _EXPORT_POLLS["n"] += 1
        return {"http_status": 202 if _EXPORT_POLLS["n"] < 3 else 201}
    if path == "tasks/5/dataset" and params.get("action") == "download":
        return _zip_bytes()
    raise KeyError(f"unexpected request: {path} {params}")


class TestNameNormalization:
    def test_cases(self):
        assert normalize_image_name("5_front.JPG.jpg") == "front.jpeg"
        assert normalize_image_name("dir/5_back.jpeg") == "back.jpeg"
        assert normalize_image_name("no_prefix.png") is not None
        # non-numeric prefix is kept (CvatApi.py:274-279)
        assert normalize_image_name("abc_x.jpg") == "abc_x.jpeg"


class TestProjectWalk:
    def test_pagination_and_labels(self):
        src = CvatSource(fake_transport)
        proj = src.fetch_project(1)
        assert proj["labels"] == {10: "car", 11: "person"}
        assert proj["attr_types"] == {100: "color"}
        assert proj["jobs"] == [(5, 50), (6, 60)]

    def test_shapes_df(self, spark):
        df = shapes_df(spark, CvatSource(fake_transport), 1)
        pdf = df.toPandas()
        assert len(pdf) == 4  # 2 shapes + 2 track keyframes
        shapes = pdf[pdf["track_id"] == -1]
        assert set(shapes["category"]) == {"car", "person"}
        assert set(shapes["image_name"]) == {"front.jpeg", "back.jpeg"}
        track = pdf[pdf["track_id"] == 7]
        assert list(track["frame"]) == [0, 4]

    def test_distributed_fetch_matches_driver_side(self, spark):
        a = shapes_df(spark, CvatSource(fake_transport), 1).toPandas()
        b = fetch_shapes_distributed(spark, fake_transport, 1).toPandas()
        key = ["job_id", "track_id", "frame"]
        assert sorted(map(tuple, a[key].values.tolist())) == sorted(
            map(tuple, b[key].values.tolist())
        )

    def test_image_export_polls_and_unzips(self, spark):
        _EXPORT_POLLS["n"] = 0
        sleeps = []
        df = images_df(spark, CvatSource(fake_transport), [5],
                       poll_sleep=sleeps.append)
        pdf = df.toPandas()
        assert sorted(pdf["image_name"]) == ["back.jpeg", "front.jpeg"]
        assert len(sleeps) == 2  # two 202s before the 201

    def test_distributed_images_match_driver_side(self, spark):
        _EXPORT_POLLS["n"] = 0
        a = images_df(spark, CvatSource(fake_transport), [5]).toPandas()
        b = fetch_images_distributed(spark, fake_transport, [5]).toPandas()
        key = lambda pdf: sorted(
            (r["image_name"], bytes(r["image_bytes"]))
            for _, r in pdf.iterrows()
        )
        assert key(a) == key(b)


def _reference_lookup_tags(frame_id, tags, labels):
    """Reference-style serial model (CvatApi.py:241-248): tag names for
    one frame, payload order."""
    out = []
    for label_id, fr in tags:
        if fr == frame_id:
            out.append(labels[label_id])
    return out


class TestTagAttachment:
    def test_tags_df_rows(self, spark):
        src = CvatSource(fake_transport)
        pdf = tags_df(spark, src, 1).toPandas()
        assert len(pdf) == 3
        assert set(pdf["image_name"]) == {"front.jpeg", "back.jpeg"}
        assert set(pdf["label_id"]) == {10, 11}

    def test_attach_matches_reference_model(self, spark):
        src = CvatSource(fake_transport)
        proj = src.fetch_project(1)
        imgs = images_df(spark, src, [5])
        tags = tags_df(spark, src, 1, proj=proj)
        out = attach_tags(imgs, tags, labels_df(spark, proj["labels"]))
        got = {
            r["image_name"]: list(r["tags"]) for r in out.collect()
        }
        # serial reference model over the same payloads (frame ids 0/1
        # map to front/back via the task-5 frames meta)
        ref_tags = [(10, 0), (11, 0), (10, 1)]
        expected = {
            "front.jpeg": sorted(
                _reference_lookup_tags(0, ref_tags, proj["labels"])
            ),
            "back.jpeg": sorted(
                _reference_lookup_tags(1, ref_tags, proj["labels"])
            ),
        }
        assert got == expected

    def test_images_with_tags_end_to_end(self, spark):
        _EXPORT_POLLS["n"] = 0
        out = images_with_tags_df(
            spark, CvatSource(fake_transport), 1, [5]
        )
        assert dict(out.dtypes)["tags"] == "array<string>"
        got = {r["image_name"]: list(r["tags"]) for r in out.collect()}
        assert got == {
            "front.jpeg": ["car", "person"],
            "back.jpeg": ["car"],
        }
        # the P6 skip-tag filter now runs directly on the ingest result
        from pyspark.sql import functions as F

        kept = out.filter(
            ~F.arrays_overlap(F.col("tags"), F.array(F.lit("person")))
        )
        assert [r["image_name"] for r in kept.collect()] == ["back.jpeg"]

    def test_untagged_image_keeps_empty_array(self, spark):
        src = CvatSource(fake_transport)
        proj = src.fetch_project(1)
        imgs = spark.createDataFrame(
            [("front.jpeg", bytearray(b"x")), ("lonely.jpeg", bytearray(b"y"))],
            "image_name string, image_bytes binary",
        )
        out = attach_tags(
            imgs, tags_df(spark, src, 1, proj=proj),
            labels_df(spark, proj["labels"]),
        )
        got = {r["image_name"]: list(r["tags"]) for r in out.collect()}
        assert got["lonely.jpeg"] == []
        assert got["front.jpeg"] == ["car", "person"]


class TestInterpolationKernel:
    def test_translated_square_midpoint_exact(self):
        left = np.array(SQUARE_0).reshape(-1, 2)
        right = np.array(SQUARE_40).reshape(-1, 2)
        mid = interpolate_ring(left, right, 0.5)
        assert mid.shape == (4, 2)
        assert np.allclose(mid, (left + right) / 2)

    def test_mismatched_counts(self):
        left = np.array(SQUARE_0).reshape(-1, 2)
        hexagon = np.array(
            [[40, 0], [45, -3], [50, 0], [50, 10], [45, 13], [40, 10]],
            dtype=float,
        )
        out = interpolate_ring(left, hexagon, 0.25)
        assert len(out) >= 3
        # interpolated ring stays within the hull of the two inputs
        allpts = np.vstack([left, hexagon])
        assert out[:, 0].min() >= allpts[:, 0].min() - 1e-9
        assert out[:, 0].max() <= allpts[:, 0].max() + 1e-9

    def test_track_dense_fill_and_propagation(self):
        shapes = [
            {"frame": 0, "points": SQUARE_0, "outside": False},
            {"frame": 4, "points": SQUARE_40, "outside": False},
        ]
        dense = interpolate_track(shapes, end_frame=8)
        frames = [s["frame"] for s in dense]
        assert frames == list(range(8))  # gap-filled AND propagated to 7
        kf = {s["frame"]: s["keyframe"] for s in dense}
        assert kf[0] and kf[4]
        assert not any(kf[f] for f in (1, 2, 3, 5, 6, 7))
        # propagated frames repeat the last keyframe (W5)
        assert dense[5]["points"] == SQUARE_40
        # keyframe endpoints unchanged (property per SURVEY §5.3)
        assert dense[0]["points"] == SQUARE_0
        assert dense[4]["points"] == SQUARE_40

    def test_outside_stops_interpolation_and_propagation(self):
        shapes = [
            {"frame": 0, "points": SQUARE_0, "outside": True},
            {"frame": 4, "points": SQUARE_40, "outside": False},
            {"frame": 6, "points": SQUARE_40, "outside": True},
        ]
        dense = interpolate_track(shapes, end_frame=10)
        frames = [s["frame"] for s in dense]
        # no fill between 0..4 (prev outside), fill 4..6, no propagation
        # after 6 (outside), but all keyframes retained
        assert frames == [0, 4, 5, 6]

    def test_end_frame_clips_tail_interpolation(self):
        shapes = [
            {"frame": 0, "points": SQUARE_0, "outside": False},
            {"frame": 10, "points": SQUARE_40, "outside": False},
        ]
        dense = interpolate_track(shapes, end_frame=5)
        assert [s["frame"] for s in dense] == [0, 1, 2, 3, 4]

    def test_spark_apply_in_pandas(self, spark):
        from pyspark.sql.types import (
            ArrayType, BooleanType, DoubleType, IntegerType, LongType,
            StringType, StructField, StructType,
        )
        schema = StructType([
            StructField("job_id", LongType()),
            StructField("track_id", LongType()),
            StructField("frame", IntegerType()),
            StructField("points", ArrayType(DoubleType())),
            StructField("outside", BooleanType()),
        ])
        rows = [
            (50, 7, 0, SQUARE_0, False),
            (50, 7, 4, SQUARE_40, False),
            (50, 8, 0, SQUARE_0, False),
            (50, 8, 2, SQUARE_0, False),
        ]
        df = spark.createDataFrame(rows, schema)
        out = interpolate_tracks(df, end_frame=5, group_cols=["job_id"])
        pdf = out.toPandas()
        t7 = pdf[pdf["track_id"] == 7].sort_values("frame")
        assert list(t7["frame"]) == [0, 1, 2, 3, 4]
        assert list(t7["keyframe"]) == [True, False, False, False, True]
        t8 = pdf[pdf["track_id"] == 8].sort_values("frame")
        assert list(t8["frame"]) == [0, 1, 2, 3, 4]
        assert set(pdf["job_id"]) == {50}


class TestCoreSizedKernelStages:
    """The CPU-bound Python stages take one partition per core, whatever
    spark.sql.shuffle.partitions says."""

    @pytest.fixture
    def odd_shuffle_partitions(self, spark):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        yield
        spark.conf.set("spark.sql.shuffle.partitions", old)

    def test_interpolate_tracks_partitions_track_cores(
        self, spark, sf_dir, odd_shuffle_partitions
    ):
        from ml_pipelines_spark.queries.tracks import _keyframes_df
        from ml_pipelines_spark.testing import check_query

        out = interpolate_tracks(_keyframes_df(spark, sf_dir), end_frame=12)
        parallelism = spark.sparkContext.defaultParallelism
        assert parallelism != 3
        assert out.rdd.getNumPartitions() == parallelism
        assert check_query(spark, sf_dir, "track_interpolation") == []

    def test_rbb_from_seg_partitions_track_cores(
        self, spark, sf_dir, odd_shuffle_partitions
    ):
        from ml_pipelines_spark.queries import QUERIES

        out = QUERIES["rbb_from_seg"](spark, sf_dir)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


class TestDataSourceApi:
    def test_format_read_matches_driver_side(self, spark):
        """spark.read.format('cvat_shapes') through the Spark 4 Python
        DataSource API must produce exactly the driver-side adapter's
        rows, reading its job slices on executors."""
        from ml_pipelines_spark.sources.cvat_datasource import (
            CvatShapesDataSource,
            pickled_transport_option,
        )

        spark.dataSource.register(CvatShapesDataSource)
        got = (
            spark.read.format("cvat_shapes")
            .option("project_id", 1)
            .option("transport_pickle", pickled_transport_option(fake_transport))
            .option("n_partitions", 2)
            .load()
        )
        expected = shapes_df(spark, CvatSource(fake_transport), 1)
        key = lambda r: repr(tuple(r))  # noqa: E731 — None-safe ordering
        assert sorted(map(tuple, got.collect()), key=key) == sorted(
            map(tuple, expected.collect()), key=key
        )
