"""Layer-call wrapper used by every workload.

``Layers.call(name, fn, ...)`` is how a workload calls into the program.
Untraced, it only counts the call as an attempted operation. Traced, it
also records a span named ``<module>.<function>`` with

- ``call_s``: time inside the Python call (eager driver-side jobs included),
- ``force_s``: time to write each returned DataFrame to a staging parquet
  file, which is then read back and handed to the next layer, so the time
  is this layer's own work and not the planning of a lazy plan,
- ``rows_out``: rows of the returned DataFrames,
- ``jobs`` / ``tasks``: Spark jobs and completed tasks under the job group
  set for the span.

Spans are kept in memory; ``Layers.dump`` writes them as one JSON file.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame

FIELD_UNITS = {
    "call_s": "s", "force_s": "s", "rows_out": "rows", "jobs": "count",
    "tasks": "count",
}
# Spans whose layer returns DataFrames (staged, so they have force_s and
# rows_out) and spans of eager writers (their result is not staged).
LAZY_SPANS = (
    "datasets.image_sampler",
    "operators.geometry.with_rotated_bbox",
    "io.read_table",
    "operators.tracks.interpolate_tracks",
    "sources.jsonl.read_jsonl",
    "functions.text.quality_score",
    "operators.quality.observed_filter",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_candidates",
    "operators.dedup.minhash_lsh_pairs",
    "operators.components.dedup_by_components",
    "operators.similarity.embedding_near_dup_pairs",
    "operators.dedup.decontaminate",
    "operators.mixture.token_budget_select",
    "operators.manifest.read_pruned",
    "operators.manifest.read_snapshot",
)
EAGER_SPANS = (
    "sinks.coco.write_coco_json",
    "sinks.yolo.write_yolo_dir",
    # writes its files eagerly; the lazy manifest it returns is not used
    "datasets.write_images",
    "sinks.webdataset.write_webdataset",
    "operators.manifest.append_snapshot",
    "operators.manifest.merge_snapshot",
    "operators.manifest.delete_from_snapshot",
    "operators.manifest.compact_small_files",
    "operators.manifest.expire_snapshots",
)
SETUP_SPANS = (
    "session.get_spark",
    "datasets.add_images",
    "datasets.add_annotations",
    "io.write_partitioned",
    "operators.manifest.write_manifest_table",
)
RATIOS = {
    "operators.dedup.pair_yield": "ratio",
    "operators.quality.keep_frac": "ratio",
    "operators.manifest.files_kept_frac": "ratio",
    "operators.manifest.compact_bytes_rewritten": "bytes",
}
TRACE_METRICS = {"trace.iter_s": "s", "trace.overhead_s": "s"}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for span in LAZY_SPANS:
        for f in ("call_s", "force_s", "rows_out", "jobs", "tasks"):
            out[f"{span}.{f}"] = FIELD_UNITS[f]
    for span in EAGER_SPANS:
        for f in ("call_s", "jobs", "tasks"):
            out[f"{span}.{f}"] = FIELD_UNITS[f]
    for span in SETUP_SPANS:
        out[f"{span}.call_s"] = "s"
    out.update(RATIOS)
    out.update(TRACE_METRICS)
    return out


class Layers:
    def __init__(self, spark, stage_dir: str | None = None):
        self.spark = spark
        self.stage_dir = stage_dir  # None = untraced
        self.spans: list[dict] = []
        self.attempted = 0
        self.iteration = None
        self._seq = 0
        self._parent = None

    @property
    def traced(self) -> bool:
        return self.stage_dir is not None

    def begin_iteration(self, iteration) -> None:
        self.iteration = iteration
        if self.traced:
            self._parent = self._open(f"iteration.{iteration}", None)

    def end_iteration(self) -> None:
        if self._parent is not None:
            self._parent["end"] = time.perf_counter()
            self.spans.append(self._parent)
            self._parent = None

    def _open(self, name, parent):
        self._seq += 1
        return {
            "id": self._seq,
            "name": name,
            "parent": parent["id"] if parent else None,
            "iteration": self.iteration,
            "start": time.perf_counter(),
        }

    def call(self, name: str, fn, *args, **kwargs):
        """Call ``fn(*args, **kwargs)`` as layer ``name``."""
        self.attempted += 1
        if not self.traced:
            return fn(*args, **kwargs)
        sc = self.spark.sparkContext
        span = self._open(name, self._parent)
        group = f"span-{span['id']}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            res = fn(*args, **kwargs)
            t1 = time.perf_counter()
            res, frames = (res, []) if name in EAGER_SPANS \
                else self._stage(res, span["id"])
            t2 = time.perf_counter()
        finally:
            sc.setJobGroup("bench", "benchmark glue")
        span["end"] = t2
        span["call_s"] = t1 - t0
        if frames:
            span["force_s"] = t2 - t1
            span["rows_out"] = sum(f.count() for f in frames)
        jobs, tasks = self._jobs(group)
        span["jobs"], span["tasks"] = jobs, tasks
        self.spans.append(span)
        return res

    def keep(self, df: DataFrame) -> DataFrame:
        """Cache a DataFrame that is read more than once. Traced, the staged
        input is already materialized, so caching would only move work
        into the next span."""
        return df if self.traced else df.cache()

    def _stage(self, res, span_id):
        """Materialize every DataFrame in ``res`` (a DataFrame or a tuple
        holding some) and return the read-back copies in its place."""
        if isinstance(res, DataFrame):
            out = self._stage_one(res, f"{span_id}")
            return out, [out]
        if isinstance(res, tuple) and any(isinstance(r, DataFrame) for r in res):
            items, frames = [], []
            for k, r in enumerate(res):
                if isinstance(r, DataFrame):
                    r = self._stage_one(r, f"{span_id}_{k}")
                    frames.append(r)
                items.append(r)
            return tuple(items), frames
        return res, []

    def _stage_one(self, df: DataFrame, tag: str) -> DataFrame:
        path = f"{self.stage_dir}/stage_{tag}"
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _jobs(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        ids = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(ids), tasks

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
