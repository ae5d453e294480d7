"""The benchmark workloads.

Each workload has

- ``setup(layers, setup_dir)``: generate the seeded inputs and ingest them
  through the program's public write functions; returns the expected
  answers of the generator;
- ``iterate(layers, it_dir)``: one timed pipeline iteration, every call
  into the program going through ``layers.call``; returns what the checks
  need, with ``read_s`` set to the time of the iteration's read step;
- ``check(state)``: ``(name, ok)`` correctness checks against the
  generator's expected answers, run after the timed part;
- ``outputs(it_dir)``: the directories whose bytes and files count as the
  iteration's output;
- ``ratios(state)``: per-layer ratios, reported by the traced run.
"""

from __future__ import annotations

import os
import tarfile
import time

from pyspark.sql import functions as F

from gen import gen_corpus, gen_detect, gen_table


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles


class DetectExport:
    """Datalake sampler -> rotated boxes -> COCO and YOLO export, redacted
    image export and keyframe track fill."""

    name = "detect_export"

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed

    def setup(self, L, setup_dir: str) -> dict:
        from ml_pipelines_spark.datasets import DatasetObjDetect
        from ml_pipelines_spark.schemas import ANNO_SCHEMA, IMAGE_SCHEMA

        inp = os.path.join(setup_dir, "inputs")
        os.makedirs(inp)
        self.exp = gen_detect(self.seed, inp)
        self.ds = DatasetObjDetect(self.spark, os.path.join(setup_dir, "lake"))
        read = self.spark.read
        L.call("datasets.add_images", self.ds.add_images,
               read.schema(IMAGE_SCHEMA).parquet(f"{inp}/images.parquet"))
        L.call("datasets.add_annotations", self.ds.add_annotations,
               read.schema(ANNO_SCHEMA).parquet(f"{inp}/annotations.parquet"))
        self.cats = self.spark.createDataFrame(
            list(enumerate(self.exp["categories"])), ["category_id", "name"])
        return self.exp

    def iterate(self, L, it_dir: str) -> dict:
        from ml_pipelines_spark.io import read_table
        from ml_pipelines_spark.operators.geometry import with_rotated_bbox
        from ml_pipelines_spark.operators.tracks import interpolate_tracks
        from ml_pipelines_spark.schemas import ANNO_SCHEMA
        from ml_pipelines_spark.sinks.coco import write_coco_json
        from ml_pipelines_spark.sinks.yolo import write_yolo_dir, yolo_lines

        ds, exp = self.ds, self.exp
        out = os.path.join(it_dir, "out")
        os.makedirs(out)
        # the sampler's own split seed: which images land in train is then
        # the same rule on every input seed
        train, val, test = L.call(
            "datasets.image_sampler", ds.image_sampler, exp["projects"],
            skip_tags=["badimage"], test_split=True,
        )
        # the train split feeds four layers and the read step: keep it, as a
        # user would
        train = L.keep(train)
        # read step: rows per split and image, in one job
        t0 = time.perf_counter()
        per_image = (
            train.select(F.lit(0).alias("split"), "image_name")
            .unionByName(val.select(F.lit(1).alias("split"), "image_name"))
            .unionByName(test.select(F.lit(2).alias("split"), "image_name"))
            .groupBy("split", "image_name").count().collect()
        )
        read_s = time.perf_counter() - t0
        splits = [{}, {}, {}]
        for r in per_image:
            splits[r["split"]][r["image_name"]] = r["count"]
        # image dims: every image of the lake has the generator's size
        dims = train.select("image_name").distinct().select(
            "image_name", F.lit(exp["width"]).alias("width"),
            F.lit(exp["height"]).alias("height"),
        )
        # the COCO writer reads the boxes twice (categories, annotations)
        rbb = L.keep(L.call("operators.geometry.with_rotated_bbox",
                            with_rotated_bbox, train))
        doc = L.call("sinks.coco.write_coco_json", write_coco_json, rbb,
                     dims, os.path.join(out, "coco.json"))
        n_yolo = L.call("sinks.yolo.write_yolo_dir", write_yolo_dir,
                        yolo_lines(train, dims, self.cats),
                        os.path.join(out, "labels"))
        L.call("datasets.write_images", ds.write_images, train,
               os.path.join(out, "images"))
        anno = L.call("io.read_table", read_table, self.spark,
                      ds.anno_path, ANNO_SCHEMA)
        keyframes = anno.filter(F.col("track_id") >= 0).select(
            "track_id",
            F.regexp_extract("image_name", r"_f(\d+)$", 1).cast("int")
            .alias("frame"),
            F.col("segmentation").cast("array<double>").alias("points"),
            F.coalesce(
                F.get_json_object("gt_attr", "$.outside") == "true",
                F.lit(False),
            ).alias("outside"),
        )
        filled = L.call("operators.tracks.interpolate_tracks",
                        interpolate_tracks, keyframes, exp["end_frame"])
        n_filled = filled.count()
        return dict(read_s=read_s, out=out, splits=splits, doc=doc,
                    n_yolo=n_yolo, n_filled=n_filled)

    def check(self, s: dict) -> list[tuple[str, bool]]:
        exp = self.exp
        train, val, test = (set(d) for d in s["splits"])
        n_train = sum(s["splits"][0].values())
        rows = sum(sum(d.values()) for d in s["splits"])
        coco_images = {im["file_name"][:-5] for im in s["doc"]["images"]}
        exported = {
            f[:-5] for f in os.listdir(os.path.join(s["out"], "images"))
        }
        labels = {
            f[:-4] for f in os.listdir(os.path.join(s["out"], "labels"))
        }
        labelled = train - set(exp["exclude_only"])
        return [
            ("splits_disjoint", not (train & val or train & test or val & test)),
            ("split_rows_add_up", rows == exp["good_anno_rows"]),
            ("coco_annotations_eq_train_rows",
             len(s["doc"]["annotations"]) == n_train),
            ("coco_images_eq_train_images", coco_images == train),
            ("yolo_files_eq_labelled_train_images",
             labels == labelled and s["n_yolo"] == len(labelled)),
            ("exported_eq_referenced", exported == train),
            ("no_badimage_exported", not exported & set(exp["bad_images"])),
            ("track_frames_eq_expected",
             s["n_filled"] == exp["expected_track_frames"]),
        ]

    def outputs(self, it_dir: str) -> list[str]:
        return [os.path.join(it_dir, "out")]

    def ratios(self, s: dict) -> dict:
        return {}


class CorpusCuration:
    """JSONL crawl -> quality -> exact/near/embedding dedup ->
    decontaminate -> the corpus snapshot table (the crawl's curated docs
    upserted, then scripted appends, upserts, takedown deletes, compaction,
    pruned and time-travel reads, expiry) -> token budget -> WebDataset
    shards."""

    name = "corpus_curation"
    QUALITY_MIN = 0.6
    JACCARD = 0.7
    COSINE = 0.95
    KEY = "doc_id"

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed

    def setup(self, L, setup_dir: str) -> dict:
        from ml_pipelines_spark.io import write_partitioned
        from ml_pipelines_spark.operators.manifest import write_manifest_table

        inp = os.path.join(setup_dir, "inputs")
        os.makedirs(inp)
        exp = gen_corpus(self.seed, inp)
        table = gen_table(self.seed, inp)
        exp["table"] = table
        exp["input_rows"] += table["input_rows"]
        exp["input_bytes"] += table["input_bytes"]
        self.exp = exp
        self.max_iterations = len(table["iterations"])
        self.i = 0
        self.inp = inp
        self.emb_dir = os.path.join(setup_dir, "embeddings")
        self.path = os.path.join(setup_dir, "table")
        L.call("io.write_partitioned", write_partitioned,
               self.spark.read.parquet(f"{inp}/embeddings.parquet"),
               self.emb_dir, ["shard"])
        L.call("operators.manifest.write_manifest_table", write_manifest_table,
               self.spark.read.parquet(f"{inp}/initial.parquet"), self.path,
               self.KEY, num_files=8)
        return exp

    def iterate(self, L, it_dir: str) -> dict:
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from ml_pipelines_spark.functions.text import (
            fingerprint, lang_id, quality_score, token_count,
        )
        from ml_pipelines_spark.io import read_table
        from ml_pipelines_spark.operators.components import dedup_by_components
        from ml_pipelines_spark.operators.dedup import (
            decontaminate, exact_dedup, minhash_lsh_candidates, minhash_lsh_pairs,
        )
        from ml_pipelines_spark.operators.manifest import (
            append_snapshot, compact_small_files, delete_from_snapshot,
            expire_snapshots, merge_snapshot, pruned_file_count, read_pruned,
            read_snapshot, versions,
        )
        from ml_pipelines_spark.operators.mixture import token_budget_select
        from ml_pipelines_spark.operators.quality import observed_filter
        from ml_pipelines_spark.operators.similarity import (
            embedding_near_dup_pairs, hyperplane_tables,
        )
        from ml_pipelines_spark.sinks.webdataset import write_webdataset
        from ml_pipelines_spark.sources.jsonl import read_jsonl

        spark, exp, k, path = self.spark, self.exp, self.KEY, self.path
        script = exp["table"]["iterations"][self.i]
        i, self.i = self.i, self.i + 1
        read = spark.read.parquet
        v_start = versions(spark, path)[-1]
        schema = StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ])
        valid, quarantine = L.call("sources.jsonl.read_jsonl", read_jsonl,
                                   spark, f"{self.inp}/corpus.jsonl", schema)
        n_quarantine = quarantine.count()
        text = F.col("text")
        signals = L.call(
            "functions.text.quality_score",
            lambda df: df.select(
                "doc_id", "text",
                quality_score(text).alias("quality"),
                lang_id(text).alias("lang"),
                token_count(text).cast("long").alias("n_tokens"),
            ),
            valid,
        )
        kept, obs = L.call("operators.quality.observed_filter",
                           observed_filter, signals,
                           F.col("quality") >= self.QUALITY_MIN, "quality")
        exact = L.call("operators.dedup.exact_dedup", exact_dedup,
                       kept.withColumn("fp", fingerprint(text)), ["fp"],
                       "doc_id")
        # the deduplicated text feeds four layers: keep it, as a user would
        exact = L.keep(exact.drop("fp"))
        # the LSH collisions before verification, for pair_yield; only
        # traced runs report it
        cands = L.call("operators.dedup.minhash_lsh_candidates",
                       minhash_lsh_candidates, exact, "doc_id", "text") \
            if L.traced else None
        pairs = L.call("operators.dedup.minhash_lsh_pairs", minhash_lsh_pairs,
                       exact, "doc_id", "text", self.JACCARD)
        emb = L.call("io.read_table", read_table, spark, self.emb_dir)
        emb = emb.join(exact.select(F.col("doc_id").alias("vec_id")),
                       "vec_id", "left_semi")
        epairs = L.call("operators.similarity.embedding_near_dup_pairs",
                        embedding_near_dup_pairs, emb, self.COSINE,
                        hyperplane_tables(32, 4, 10))
        # one closure over text and embedding pairs: a document near
        # either kind of duplicate joins its cluster
        edges = pairs.select("id_a", "id_b").unionByName(
            epairs.select("id_a", "id_b"))
        near = L.call("operators.components.dedup_by_components",
                      dedup_by_components, exact, edges, "doc_id")
        evals, _ = L.call("sources.jsonl.read_jsonl", read_jsonl, spark,
                          f"{self.inp}/eval.jsonl", schema)
        clean = L.call("operators.dedup.decontaminate", decontaminate,
                       near, evals, "doc_id", "text")
        # merge_snapshot reads its updates more than once (key bounds,
        # then the rewrite): keep them, as a user would
        clean = L.keep(clean)
        # the crawl's curated docs land in the corpus table (an upsert, so
        # a re-run of the same crawl changes nothing), then the scripted
        # changes of earlier-crawl docs
        L.call("operators.manifest.merge_snapshot", merge_snapshot, spark,
               path, k, clean.select("doc_id", "text", "lang", "n_tokens"))
        L.call("operators.manifest.append_snapshot", append_snapshot,
               read(f"{self.inp}/append_{i}.parquet"), path, k, num_files=2)
        L.call("operators.manifest.merge_snapshot", merge_snapshot, spark,
               path, k, read(f"{self.inp}/upserts_{i}.parquet"))
        v_del = L.call("operators.manifest.delete_from_snapshot",
                       delete_from_snapshot, spark, path, k,
                       read(f"{self.inp}/deletes_{i}.parquet"))
        v_cmp = L.call("operators.manifest.compact_small_files",
                       compact_small_files, spark, path, k, target_rows=2000)
        compacted = dir_usage(os.path.join(path, f"v={v_cmp}"))[0] \
            if v_cmp > v_del else 0
        # read step: pruned band scan of the latest snapshot, and the
        # iteration's first version (time travel; at iteration 0 the
        # initial snapshot)
        lo, hi = script["band"]
        t0 = time.perf_counter()
        band = L.call("operators.manifest.read_pruned", read_pruned, spark,
                      path, k, lo, hi)
        band_n, band_sum = band.agg(F.count(F.lit(1)), F.sum(k)).collect()[0]
        first = L.call("operators.manifest.read_snapshot", read_snapshot,
                       spark, path, version=v_start)
        n_first = first.filter(F.col(k) >= exp["table"]["base"]).count()
        read_s = time.perf_counter() - t0
        kept_files = pruned_file_count(spark, path, lo, hi)
        latest = L.call("operators.manifest.read_snapshot", read_snapshot,
                        spark, path)
        selected = L.call("operators.mixture.token_budget_select",
                          token_budget_select, latest, "lang", "n_tokens",
                          exp["token_budget"], order_cols=["n_tokens", "doc_id"])
        wds_dir = os.path.join(it_dir, "wds")
        manifest = L.call("sinks.webdataset.write_webdataset",
                          write_webdataset, selected, wds_dir, "doc_id",
                          {"text": "txt"}, num_shards=8)
        n_samples = sum(r["n_samples"] for r in manifest.collect())
        L.call("operators.manifest.expire_snapshots", expire_snapshots, spark,
               path, keep_last=1)
        return dict(read_s=read_s, script=script, n_quarantine=n_quarantine,
                    obs=obs, cands=cands, pairs=pairs, band_n=band_n,
                    band_sum=band_sum, n_first=n_first, kept_files=kept_files,
                    compacted=compacted, selected=selected, wds_dir=wds_dir,
                    n_samples=n_samples)

    def check(self, s: dict) -> list[tuple[str, bool]]:
        from ml_pipelines_spark.operators.manifest import read_snapshot

        exp, script = self.exp, s["script"]
        base = exp["table"]["base"]
        ids = [r[0] for r in read_snapshot(self.spark, self.path)
               .select(self.KEY).collect()]
        curated = {i for i in ids if i < base}
        near = exp["near_losers"]
        removed = sum(1 for i in near if i not in curated)
        members = 0
        for f in os.listdir(s["wds_dir"]):
            if f.endswith(".tar"):
                with tarfile.open(os.path.join(s["wds_dir"], f)) as tar:
                    members += len(tar.getnames())
        kept = s["selected"].count()
        return [
            ("quarantine_eq_planted", s["n_quarantine"] == exp["corrupt_lines"]),
            ("exact_dups_removed", not curated & set(exp["exact_losers"])),
            ("contaminated_removed", not curated & set(exp["contaminated"])),
            ("near_dup_recall_floor", removed >= exp["recall_floor"] * len(near)),
            ("wds_samples_eq_kept", s["n_samples"] == kept == members),
            ("snapshot_rows_eq_replay",
             len(ids) - len(curated) == script["end_rows"]),
            ("time_travel_rows_eq_replay",
             s["n_first"] == script["start_rows"]),
            ("pruned_read_eq_band", s["band_n"] == script["band_rows"]
             and s["band_sum"] == script["band_key_sum"]),
        ]

    def outputs(self, it_dir: str) -> list[str]:
        return [self.path, os.path.join(it_dir, "wds")]

    def ratios(self, s: dict) -> dict:
        q = s["obs"].get
        n_cands = s["cands"].count()
        kept, total = s["kept_files"]
        return {
            "operators.dedup.pair_yield":
                s["pairs"].count() / n_cands if n_cands else 0.0,
            "operators.quality.keep_frac":
                q["quality_kept"] / q["quality_in"] if q["quality_in"] else 0.0,
            "operators.manifest.files_kept_frac": kept / total if total else 0.0,
            "operators.manifest.compact_bytes_rewritten": float(s["compacted"]),
        }


WORKLOADS = {w.name: w for w in (DetectExport, CorpusCuration)}
