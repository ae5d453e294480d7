"""Query registry — one entry per operator from SURVEY.md §2.

Each query is a named pair:
  - a PySpark implementation ``(spark, sf_dir) -> DataFrame``
  - (when SQL-expressible) a DuckDB-ANSI oracle SQL string over the same
    parquet tables, producing identical column names and values.

The driver compares the two at sf=0.01 (row count + schema + order-
insensitive value hash). Column names are aliased identically on both
sides; floating aggregates are rounded on both sides so the comparison is
robust to summation order (Spark sums per-partition, DuckDB serially).
"""

from __future__ import annotations

from .registry import ORACLES, QUERIES, query  # noqa: F401

# Import for registration side effects — each module registers its queries.
from . import relational  # noqa: E402,F401
from . import windows  # noqa: E402,F401
from . import splits  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import geometry  # noqa: E402,F401
from . import export  # noqa: E402,F401
from . import tracks  # noqa: E402,F401
from . import udaf  # noqa: E402,F401
from . import asof  # noqa: E402,F401
from . import streaming  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import audio  # noqa: E402,F401
from . import packing  # noqa: E402,F401
from . import mixture  # noqa: E402,F401
from . import validation  # noqa: E402,F401
from . import profiling  # noqa: E402,F401
from . import lm  # noqa: E402,F401
from . import evolution  # noqa: E402,F401
from . import sketches  # noqa: E402,F401
from . import classifier  # noqa: E402,F401
from . import linalg  # noqa: E402,F401
from . import geo  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import timeseries  # noqa: E402,F401
from . import search  # noqa: E402,F401
from . import recsys  # noqa: E402,F401
from . import stats  # noqa: E402,F401
from . import journeys  # noqa: E402,F401
from . import formats  # noqa: E402,F401
from . import pipelines  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Registry ordering. The driver's correctness harness hashes the FIRST 50
# registered queries against their oracles each round; registration order is
# therefore the evidence-collection schedule, not an implementation detail.
#
# STANDING ROTATION SCHEDULE (adopted round 5; VERDICT r4 item 9). With
# ~128 registered queries and a 50-slot window, every query must earn a
# driver row at least once per 3 rounds. Each round the window is filled
# in strict priority order:
#   1. queries that have NEVER had a driver row (new registrations and
#      any query whose prior rows all errored),
#   2. queries whose implementation or oracle changed THIS round
#      (re-evidence after code motion),
#   3. the flagship (q1_pricing_summary rides every round — it is the
#      smoke-check query and its driver row should never go stale),
#   4. remaining slots to the queries with the OLDEST driver evidence,
#      oldest first, family-balanced.
# Queries rotated out always keep local parity coverage —
# tests/test_oracle_parity.py runs ALL registered queries against DuckDB
# with the same hash compare every pytest run.
#
# Round-7 window, filled by the standing schedule:
# (a) rule 1 — never driver-checked: q11_important_stock (registered
#     after the round-6 window sealed) plus the TWELVE queries new this
#     round (sweep-line peak concurrency, seasonal-naive backtest, BM25,
#     RRF hybrid search, PMI collocations, join-key skew report,
#     stratified k-fold, k-core, item-item CF cosine, naive-Bayes
#     annotator distillation, rolling HLL merge, grid-density
#     clustering).
# (b) rule 2 — code touched this round: geo_nearest_city (the
#     longitude-cell coverage fix changed operator AND oracle);
#     pagerank_near_dup re-evidences the swap_cache session-scoping
#     change through the shared cached edge list.
# (c) the flagship.
# (d) rule 4 — 34 slots, oldest evidence first: the ten r2-evidenced
#     scalar/relational queries, then the r3 streaming/multimodal/
#     mixture/packing families and the r3 dedup/similarity remainder.
#     Still waiting (round 8 leads): the r3 window/geometry/udaf/asof
#     block (window_lag, last_per_key, interp_gap_fill, forward_fill,
#     rolling_avg_value, seg_bbox, aabb_poly, yolo_norm, rbb_from_seg,
#     track_interpolation, grouped_quantile_udaf, asof_join_events,
#     range_join_events, sequence_pack_docs, pack_bins_ffd,
#     validate_lineitem, profile_orders, top_sources), then the r4
#     relational/splits/kmeans families.
#
# Round-6 window, filled by the standing schedule:
# (a) rule 1 — never driver-checked: the three late-round-5
#     registrations plus the rows-only sketch query, then the SIXTEEN
#     queries new this round (KMV, TPC-H Q7/Q8/Q10 shapes, basket rules,
#     EWMA, MAD outliers, triangle census, shard manifest, quantile
#     normalization, Pareto skyline, audio fingerprint near-dup, kNN
#     label agreement, shingle containment, label propagation, CUBE,
#     native session-window stream replay, grid-bucketed spatial join,
#     RFM segmentation, gaps-and-islands activity streaks, classifier
#     calibration, Neyman-allocation stratified sampling, the TPC-H
#     Q9/Q13/Q16/Q17/Q18/Q19/Q21/Q22 completion, the RANGE-frame
#     rolling window, and the Zipf-slope corpus fit; plus the six
#     registered after the window was first sealed — best-copy dedup,
#     mixed-language flags, A/B z-test, label-centroid similarity,
#     last-touch attribution, video scene cuts). Rule 1 fills 42 of 50
#     slots this round — never-checked outranks stale-but-green
#     evidence, so NO rule-4 slots this round; round 7's rule 4 leads
#     with q11_important_stock (the one remaining never-checked), the
#     ten r1/r2-evidenced scalar queries, the r5 code-shape carryover
#     (text_quality, pack_bins_ffd, sequence_pack_docs, curate_corpus,
#     rbb_from_seg, snapshot_diff_orders), then the r3
#     streaming/multimodal/mixture/packing families.
# (b) rule 2 — re-evidence for code touched this round: the three
#     near-dup-graph oracles + ngram_jaccard_pairs (shared capped-pairs
#     CTE), logreg_quality_train (cache-release rework),
#     pca_top_component (CTE-list assembly), curate_corpus_v2
#     (localCheckpoint boundary).
# (c) the flagship.
# (d) rule 4 — NO slots this round: rule 1 alone fills 42 of the 49
#     non-flagship slots and never-checked evidence outranks
#     stale-but-green r1/r2 rows. Round 7's rule 4 order is pinned in
#     the (a) note above.
# ---------------------------------------------------------------------------
# Round-8 window, filled by the standing schedule:
# (a) rule 1 — never driver-checked: EXACTLY 49 queries have no driver
#     row (every round-7 second/third-wave registration; the full list
#     below), which together with the flagship fills the window with
#     zero slack. Rule 1 outranks everything else, so rule 2's
#     round-7 swap_cache re-evidence (near_dup_components,
#     entity_resolution_suppliers, ngram_jaccard_pairs) and the rule-4
#     tail displaced from round 7 (ann_ivf_topk, embedding_near_dup,
#     embedding_centroids, ann_quantized_topk, ann_lsh_topk, then the
#     r3 window/geometry/udaf/asof block pinned in the round-7 note)
#     carry to round 9, where they lead after any round-8
#     registrations. All carried queries keep local parity coverage
#     via tests/test_oracle_parity.py every pytest run.
#     (approx_distinct_users_sketch is NOT in rule 1: it is the
#     rows-only sketch query and holds its r06 rows-only driver row.)
# (b) rule 2 — code touched this round coincides with rule 1: the
#     ADVICE fixes land in manifest.py (table_format_lifecycle,
#     table_change_feed, manifest_pruned_scan), invindex.py
#     (indexed_term_lookup), webdataset.py (webdataset_export_manifest)
#     and the bpe lineage fix in lm.py (bpe_train_merges) — all six
#     queries are already rule-1 members of this window.
# (c) the flagship.
# (d) rule 4 — no slots this round (rule 1 fills 49 of 49 non-flagship
#     slots). Round-9 rule 4 order: the round-7 carryover above, then
#     oldest-evidence family-balanced.
#
# Round-9 rule 1 (registered AFTER the round-8 window sealed, driver row
# pending; local parity green via tests/test_oracle_parity.py):
# manifest_two_tier_scan (manifest-of-manifests tier),
# schema_evolution_orders (metadata-only ALTER TABLE lifecycle),
# table_restore_orders (RESTORE with shadowed tombstones/events),
# table_expire_maintenance (WAP stage/audit/publish + expire_snapshots
# GC), sequence_match_funnel (MATCH_RECOGNIZE-style row patterns),
# manifest_stats_scan (secondary-column file skipping),
# manifest_bloom_lookup (per-file bloom point lookup),
# zorder_rectangle_scan (Morton-laid snapshot, two-axis intersection
# prune), partition_spec_evolution_scan (Iceberg-style per-file
# partition tuples; status-spec v1 + month-spec v2 pruned per-spec),
# gdpr_erasure_audit (right-to-be-forgotten cascaded customer ->
# orders -> lineitem through MoR tombstones, orphan counts read back
# through the tombstone filter), wap_branch_publish_audit (optimistic-
# concurrency append branches: publish / range-conflict / rebase), and
# orc_roundtrip_docs (lossless ORC round-trip with a portable row
# checksum), unigram_tokenizer_train (SentencePiece-style hard-EM
# unigram tokenizer, integer-exact objective replayed bit-for-bit by a
# recursive-CTE DuckDB oracle), and unigram_token_counts (the apply
# path: per-language token totals + fertility under the trained
# vocabulary, full train->apply chain value-checked), and
# search_eval_ndcg (retrieval-quality eval: nDCG@10/MRR@10 for the
# bm25/cosine/rrf rankers against deterministic graded relevance), and
# curation_funnel_audit (per-stage in/out/drop observability for the
# curate_corpus gates, one corpus pass), and ann_ivfpq_topk (the
# composed IVFADC index: coarse cells as hive partitions holding only
# PQ codes, probe = partition pruning, the full build+probe+ADC chain
# a bit-identical cross-engine value oracle), and ann_ivfpq_incremental
# (index freshness: an append batch encoded under FROZEN quantizers
# into existing cell partitions, probe over both generations), and
# aqp_revenue_estimate (approximate query processing: deterministic
# 20% hash-sample estimate with exact-moment 95% CI and a within-CI
# calibration flag), and partition_spec_band_scan (per-file column
# stats on the spec table: tuple pruning AND [min,max] band skipping
# compose), and stream_spec_ingest_replay (streaming ingest into the
# spec table: one version per micro-batch via the idempotent
# foreachBatch ledger, read back through both prunings) — all round-8
# registrations.
# ---------------------------------------------------------------------------
# EVIDENCE-AGE SLAs (adopted round 9; VERDICT r08 item 2). With 285
# registered queries and a 50-slot window, the original "every query
# every 3 rounds" promise is arithmetically impossible (285/50 ≈ a
# 6-round full cycle). The standing rotation above keeps its four rules
# but the staleness bound is now TIERED, enforced mechanically by
# tests/test_registry_window.py against the CORRECTNESS_r*.json history
# in the repo root:
#
#   - FAMILY SLA (3 rounds): every operator family (= the registering
#     queries/ module, registry.FAMILIES) must have at least one member
#     whose driver evidence is at most 3 rounds old, counting the
#     current window as this round's evidence. One fresh representative
#     per family bounds how stale a whole operator class can get.
#   - QUERY SLA (7 rounds): every individual query must re-earn a
#     driver row at least once per 7 rounds. Capacity check: 285/7 ≈ 41
#     slots/round for the query SLA, and the 32 families need ≈ 11
#     slots/round, largely overlapping — comfortably inside 50 with
#     slack for rule-1 (new registrations) and rule-2 (re-evidence).
#   - Rule 1/2/3 of the standing rotation are unchanged and outrank
#     the SLA fill (rule 4 = SLA pressure, oldest first).
#
# Local DuckDB parity still covers ALL queries every pytest run; the
# SLAs bound only the freshness of the DRIVER's independent evidence.
# ---------------------------------------------------------------------------
# Round-11 window, filled by the standing schedule:
# (a) rule 1 — never driver-checked: none (every registered query has
#     at least one green driver row across rounds 1-10).
# (b) rule 2 — code touched this round (VERDICT top-next + ADVICE
#     items): rfm_segments (global-NTILE → two-phase ordered_cumsum
#     rewrite), stream_mor_upsert_replay + mor_merge_audit (MoR commit
#     probe-job fold; evolved-reader victim scan),
#     small_file_compaction_audit + table_format_lifecycle
#     (schema-events compaction guard; sidecar-sweep race guard),
#     dv_position_delete_audit (sidecar verify-before-commit),
#     heavy_hitters_two_pass (null-safe counts, two scans),
#     drift_psi_events (epsilon smoothing).
# (c) the flagship.
# (d) SLA pressure, oldest first: ALL 22 queries whose evidence is r4
#     (age 7 — the hard query-SLA edge; the 9 relational members
#     deferred from round 10 plus the 13 displaced by round 10's
#     second-session registrations); one refresher each for the four
#     families whose freshest member would age past 3 next round
#     (classifier → quality_classifier_scores, tpch →
#     q9_profit_nation_year, timeseries → seasonal_naive_forecast,
#     recsys → item_item_cosine); then the first 8 of the r5-evidence
#     (age 6) tail, alphabetical.
# Mid-round rule-2 expansion: the metadata-read/commit-latency work
# (driver-side sidecar reads, _commit_manifest, coalesce(1) →
# repartition(1)) touched partspec.py, filestats.py, claims.py and the
# clone/refs/snapshot-count paths in manifest.py, so one representative
# per touched path re-evidences (partition_spec_evolution_scan,
# manifest_stats_scan, zorder_rectangle_scan, table_tag_travel,
# shallow_clone_divergence, dv_schema_evolution_scan,
# table_snapshots_metadata), displacing the last 7 of the age-6 tail
# (hourly_anomaly_flags, image_redact_checksum, image_resize_checksum,
# incremental_dedup_batches, kmeans_inertia, lang_source_chisq,
# length_bucket_batches — age 7 at round 12, they lead its rule-4
# fill).
# approx_distinct_users_sketch was DE-REGISTERED this round (VERDICT
# item 3): the only oracle-less entry in the registry is now bench/
# pytest-only (tests/test_sketches.py checks it against its exact and
# full-HLL twins), so every registry row the driver can sample is
# hash-checkable.
# ---------------------------------------------------------------------------
# Round-12 window, filled by the standing schedule:
# (a) rule 1 — never driver-checked: none.
# (b) rule 2 — code touched this round (VERDICT r11 top-next + ADVICE
#     items + the skew-partition-window lint sweep):
#     doc_length_quartiles (per-lang NTILE -> grouped_ordered_ntiles),
#     rfm_segments + heavy_hitters_two_pass (localCheckpoint leak ->
#     swap_cache; integer-exact ntile arithmetic),
#     gini_revenue_concentration + quantile_normalize_lengths
#     (grouped_ordered_rank rewrites), token_budget_per_source
#     (grouped_ordered_cumsum; token_budget_bpe shares the operator but
#     is already in the age-7 block), sample_k_per_source +
#     neyman_allocation_sample + topk_per_group (two-phase local
#     prunes), stream_outer_join_replay + stream_timeout_sessions_replay
#     (mtime-stamped waves, retimed triggers, 4-partition state pin —
#     the round's biggest behavioral change to micro-batch
#     decomposition; stream_dedup_replay/stream_running_totals share
#     only the pin and carry local oracle evidence), and one
#     representative per table-layer commit path touched by the
#     carried-manifest schema fix + the tz normalization + the holds()
#     point lookup: dv_position_delete_audit (delete_where),
#     stream_mor_upsert_replay (merge_on_read + restore/clone/shard
#     shapes share these code paths and carry r11 evidence + local
#     oracle runs this round).
# (c) the flagship.
# (d) rule 4 — SLA pressure: ALL 35 queries at the hard age-7 query-SLA
#     edge (r5 evidence), alphabetical. Family SLA: asof/packing/tracks
#     get fresh members through the age-7 block; the families sitting
#     at exactly freshness 3 (formats, journeys, lm, pipelines, search,
#     udaf) remain within SLA this round and lead round 13's refresher
#     list.
# 35 + 14 + 1 = 50.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# Round-13 window, filled by the standing schedule:
# (a) rule 1 — never driver-checked: none.
# (b) rule 2 — code touched. This block OPENS with the 17 queries
#     VERDICT r12 item 1 ordered to the head: their round-12 rewrites
#     (explode-mirror, IN-literal anchors, flagged-join fusions, the
#     shared-lineage checkpoints, the BPE trainer checkpoint) have only
#     builder-run oracle evidence; the driver must confirm. Then the
#     queries whose code round 13 touches: the edf size-gate
#     (doc_length_quartiles, gini_revenue_concentration,
#     quantile_normalize_lengths, token_budget_per_source,
#     token_budget_bpe), the mor-upsert replay retune, the Arrow-batch
#     table-appends reader, the lm_perplexity/mor_merge/compaction
#     audit one-pass folds, and the logreg/stream_session paths under
#     examination (both also age-7).
# (c) the flagship.
# (d) rule 4 — SLA pressure: four refreshers for the families whose
#     freshest member ages past 3 this round (formats, journeys,
#     pipelines, udaf — lm and search are refreshed through the
#     VERDICT-17 block), then 16 of the 39 age-7 queries, alphabetical.
#     16 age-7 queries do not fit (q10/q13/q16/q17/q18/q19/q21/q22/
#     q7/q8, near_dup_keep_docs, range_frame_weekly,
#     training_shard_manifest, triangle_count_near_dup,
#     video_scene_cuts, zipf_slope_by_source)
#     — at age 7 they are INSIDE the SLA this round; the VERDICT-17
#     re-verification outranks pre-emptive refresh (round-13 is the
#     terminal round of the schedule; were there a round 14, they would
#     lead its window).
# 1 + 17 + 12 + 4 + 16 = 50.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# Round-14 window, filled by the standing schedule:
# (a) rule 1 — never driver-checked: none.
# (b) rule 2 — code touched this round: the one-collect COCO document
#     (coco_records is the export-family refresher below), the single-
#     action YOLO writer (yolo_export_lines), and the core-sized
#     Python-kernel stages (track_interpolation, rbb_from_seg).
# (c) the flagship.
# (d) rule 4 — SLA pressure: the 16 queries whose evidence is 8 rounds
#     old (round 13 left them out; see its header), alphabetical; one
#     refresher each for the families whose freshest member ages past 3
#     this round (export: coco_records; audio, geo and validation: their
#     oldest member, age 7; linalg: pca_top_component); then 25 of the
#     remaining age-7 queries, alphabetical. The 12 that do not fit
#     (q11_important_stock through union_all) are inside the SLA this
#     round and lead round 15's window.
# 1 + 3 + 16 + 5 + 25 = 50.
# ---------------------------------------------------------------------------
_CHECK_FIRST = [
    # (c) flagship rides every round
    "q1_pricing_summary",
    # (b) rule 2: code touched in round 14
    "yolo_export_lines",
    "track_interpolation",
    "rbb_from_seg",
    # (d) rule 4: age-8 block, alphabetical
    "near_dup_keep_docs",
    "q10_returned_items",
    "q13_order_count_distribution",
    "q16_supplier_variety",
    "q17_small_qty_revenue",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q21_late_sole_supplier",
    "q22_idle_balance",
    "q7_volume_shipping",
    "q8_market_share",
    "range_frame_weekly",
    "training_shard_manifest",
    "triangle_count_near_dup",
    "video_scene_cuts",
    "zipf_slope_by_source",
    # (d) family SLA refreshers (export, audio, geo, validation, linalg)
    "coco_records",
    "audio_frame_features",
    "grid_density_clusters",
    "scd2_orders_history",
    "pca_top_component",
    # (d) rule 4: age-7 block, alphabetical (25 of 37 — see header)
    "array_restructure",
    "bfs_hops_near_dup",
    "bootstrap_ci_mean",
    "chunk_documents",
    "count_per_group",
    "decontaminate_train",
    "dedup_exact_docs",
    "distinct_keys",
    "epoch_repeat_docs",
    "filename_normalize",
    "filter_eq",
    "filter_isin",
    "image_exif_normalize",
    "image_meta_decode",
    "json_extract",
    "kcore_near_dup",
    "knn_bruteforce",
    "minhash_near_dup",
    "minhash_signature",
    "mixture_temperature_sample",
    "naive_bayes_langid",
    "pagerank_near_dup",
    "peak_concurrency",
    "pii_redact_docs",
    "pmi_bigrams",
]


def _reorder_registry() -> None:
    missing = [n for n in _CHECK_FIRST if n not in QUERIES]
    if missing:
        raise ValueError(f"_CHECK_FIRST names not registered: {missing}")
    ordered = {n: QUERIES[n] for n in _CHECK_FIRST}
    ordered.update({n: f for n, f in QUERIES.items() if n not in ordered})
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder_registry()
