"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
The printed "queries" map holds only the 10 slowest queries so the
line stays <2000 chars (the driver keeps only a stdout tail); the full
per-query map is written to bench_full_latest.json alongside.

Methodology:
- Each query is forced to full materialization with a noop sink (no
  driver-side collect, no pandas conversion) — measuring the engine,
  not the transfer.
- Each query runs up to TWICE and reports the per-query MIN
  ("best-of-2"): run-to-run variance on local[32] is ~±10%, and
  one-shot timing made round-over-round regression detection noisy.
  The second run reuses the first run's persisted intermediates, so
  the min is the warm session number (deliberate — a real pipeline
  session is warm). ADAPTIVE: the second run is skipped when the
  first already finished under FAST_CUTOFF seconds — a fast first
  run by definition contains no noise spike, while a spiked first
  run exceeds the cutoff and still gets its re-run. This bounds
  total bench wall time (the 212-query suite must fit the driver's
  execution window) without giving up best-of-2 where it matters.
  EXEMPT: the R03_HEADLINE set always runs best-of-2 regardless of
  the cutoff — its r03 baseline (95.369 s) was uniformly warm
  best-of-2, and mixing methodologies inside r03_comparable_total
  would bias the round-over-round comparison (ADVICE r5).
- After a query's two runs its caches are released
  (spark.catalog.clearCache): per-query numbers are then independent
  of suite order, and cached intermediates cannot accumulate executor
  memory for the whole session. Cross-query plan-cache reuse (the
  shingle table used to feed four dedup/text queries) is given up in
  exchange; the warm best-of-2 min keeps the legitimate
  within-query reuse.
- Fault isolation: one broken query must never zero the artifact —
  failures are recorded per query, `n_failed` is always emitted, and
  the JSON line always prints.
- `r03_comparable_total` sums only the 54 queries benched in round 3
  (BENCH_r03 total was 95.369 s) so totals stay comparable as new
  queries join the headline list.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from razulibs_spark import queries as Q
from razulibs_spark.plans.flagship import flagship_triples
from razulibs_spark.session import get_spark

R03_HEADLINE = [
    "q1_pricing_summary",
    "j1_lookup_join",
    "q3_shipping_priority",
    "j4_manifest_reconcile",
    "o1_sequential_ids",
    "o2_entity_fanout",
    "f1_date_type_classify",
    "f8_identifier_templating",
    "events_sessionize",
    "events_hourly_rollup",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_token_stats",
    "text_quality_scores",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "sim_embedding_neardup",
    "sim_ivf_assign",
    "j_asof_join",
    "j_range_join_binned",
    "q5_regional_revenue",
    "q18_large_orders",
    "pipeline_corpus_prep",
    "sim_rp_lsh_neardup",
    "a_cube_price",
    "w_running_total",
    "w_lag_lead_gaps",
    "events_enriched_nation",
    "split_train_test",
    "quality_percentile_filter",
    "text_tfidf_topterms",
    "contamination_ngram",
    "dedup_incremental",
    "q7_nation_volume",
    "q9_product_profit",
    "q13_order_distribution",
    "q22_dormant_accounts",
    "j_salted_skew_join",
    "a_grouping_sets",
    "a_exact_quantiles",
    "pack_sequences",
    "sim_label_centroids",
    "sim_knn_classify",
    "q6_forecast_revenue",
    "q8_market_share",
    "q10_returned_items",
    "q21_waiting_suppliers",
    "q2_mincost_supplier",
    "pipeline_full_prep",
    "events_funnel",
    "sim_quantize_int8",
]

# Round-4 additions: the flagship with its hash oracle, the structured
# streaming paths (availableNow drains, previously pytest-only), and
# the newly oracle-backed §2 stragglers.
R04_ADDITIONS = [
    "flagship_triples_oracle",
    "streaming_session_window",
    "streaming_interval_join_outer",
    "streaming_dedup",
    "p7_suffix_scan_filter",
    "p9_only_if_new",
    "p10_invalid_triple_filter",
    "f3_mtime_iso",
    "f20_tool_signature",
    "o7_delete_batches",
    "dedup_containment",
    "dedup_semantic_clusters",
    "mixture_sample",
    "events_retention_cohorts",
    "sim_pq_topk",
    "w_rolling_stats",
    "events_markov",
    "events_rfm",
    "o_scd2_history",
    "t_grouped_topk",
    "text_chunk_dedup",
    "dedup_edit_distance",
    "j_asof_forward",
    "events_anomaly_mad",
    "text_rarity_score",
    "pipeline_dataset_card",
    "u_intersect_all",
    "j_interval_overlap",
    "contamination_bloom",
    "a_heavy_hitters",
    "o_analyze_stats",
    "sim_ivfpq_topk",
    "text_bpe_pair_counts",
    "text_bpe_merges",
    "events_rolling_dau",
    "dedup_cross_source",
    # Round-4 continuation: mixing/CDC/LM/graph/tokenizer families.
    "sample_temperature_mix",
    "o_cdc_apply",
    "quality_filter_funnel",
    "pipeline_decon_split",
    "text_lm_score",
    "sim_random_projection",
    "o_skew_profile",
    "a_grouped_ols",
    "graph_pagerank",
    "text_bpe_encode",
    "text_novelty_ratio",
    "events_funnel_windowed",
    "sim_maxsim_topk",
    "w_running_distinct",
    "eval_confusion_matrix",
    "events_bounce_rate",
    # Round-4 session 3: evaluation & distribution-statistics family.
    "eval_auc_ovr",
    "eval_cohens_kappa",
    "eval_calibration",
    "eval_retrieval_pr",
    "stats_chi_square",
    "stats_embedding_dims",
    "stats_ks_drift",
    "j_resample_ffill",
    "events_copurchase_pairs",
    "a_grouped_zscore",
    "stats_group_gini",
    "text_vocab_coverage",
    "events_interarrival_quantiles",
    "a_corr_matrix",
    "a_winsorize",
    "events_changepoint",
    "eval_ann_agreement",
    "events_new_returning",
    "events_weekday_profile",
    "sim_pca_power",
    "events_cohort_ltv",
    "events_session_duration_hist",
    "j_pit_scd2",
    "events_path_analysis",
    "o_write_plan",
    "dedup_lsh_tuning",
    "dedup_cluster_sizes",
    "sim_centroid_shift",
    "events_peak_concurrency",
]

# Round-5 additions: the full registry tail (VERDICT r4 item 6) — the
# cheap scalar/projection/TPC-H/roundtrip entries that were registered
# but never benched. With these, HEADLINE covers every queries() entry.
R05_ADDITIONS = [
    "j2_vocab_resolve",
    "a1_global_minmax",
    "a6_distinct_groups",
    "j5_changed_or_new",
    "j6_set_diff",
    "u4_upsert_by_key",
    "j8_hierarchy_links",
    "t1_topk_orders",
    "a6w_group_change_detect",
    "f2_full_extension",
    "f13_split_explode",
    "f21_integer_validation",
    "s8_eventlog_maxid",
    "p6_lock_predicate",
    "f19_json_extract",
    "dedup_minhash_lsh_ml",
    "text_language_id",
    "text_fingerprints",
    "multimodal_features",
    "streaming_hourly_rollup",
    "s6_manifest_scan",
    "d6_premis_events",
    "p4_triple_first_value",
    "p8_date_filter_nullkeep",
    "u2_graph_union_dedup",
    "a2_min_across_runs",
    "f4_extract_id_parts",
    "f6_normalize_path",
    "f9_compose_filename",
    "f12_wkt_bbox",
    "f14_null_to_zero",
    "f17_mime_guess",
    "p5_subject_type_pivot",
    "j7_upload_verification",
    "a4_outcome_buckets",
    "f5_filename_stem",
    "f16_url_encode",
    "t3_sorted_diff",
    "s7_manifest_map_scan",
    "k2_ntriples_roundtrip",
    "k1_jsonld_roundtrip",
    "streaming_sessionize",
    "j2_multilabel_resolve",
    "a_rollup_pricing",
    "a_distinct_count",
    "a_approx_distinct",
    "multimodal_resize",
    "multimodal_chunk_audio",
    "multimodal_sample_frames",
    "events_view_purchase_attribution",
    "streaming_interval_join",
    "dedup_jaccard_prefix_filter",
    "streaming_enrich",
    "dedup_cluster_canonical",
    "pipeline_cluster_best",
    "sample_stratified",
    "length_histogram",
    "q16_supplier_parts",
    "rdf_bgp_match",
    "q4_order_priority",
    "q11_important_parts",
    "q12_priority_by_linestatus",
    "q14_promo_effect",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q19_brand_size_revenue",
    "q20_promotion_suppliers",
    "text_repetition_stats",
    "quality_gopher_filter",
    "text_pii_scrub",
    "sql_adhoc_region_revenue",
    "a_approx_quantiles",
    "dedup_minhash_incremental",
    "o_zorder_key",
    "multimodal_decode",
]

# Round-6 additions: curation-stage + RDF-validation operators.
R06_ADDITIONS = [
    "curate_source_cap",
    "text_hash_classifier",
    "text_dsir_importance",
    "rdf_ancestor_closure",
    "rdf_shape_validation",
    "events_multitouch_attribution",
    "multimodal_video_frames",
    "sim_kmeans_lloyd",
    "io_orc_roundtrip",
    "graph_triangle_count",
    "io_jsonl_gz_roundtrip",
    "multimodal_gif_decode",
    "io_schema_evolution",
    "io_bucketed_join",
    "dedup_url_canonical",
    "w_ewma",
    "graph_bfs_levels",
    "io_partitioned_pruning",
    "io_csv_malformed",
    "multimodal_image_ahash",
]

R07_ADDITIONS = [
    "k2_rdfxml_roundtrip",
    "k2_trig_roundtrip",
    "k2_trix_roundtrip",
    "dedup_substring_spans",
    "dedup_substring_cut",
    "multimodal_audio_spectral",
]

R08_ADDITIONS = [
    "io_avro_roundtrip",
    "dedup_substring_multik",
    "multimodal_mp4_metadata",
    "text_html_extract",
    "pipeline_warc_extract",
    "text_charset_sniff",
    "pipeline_link_graph",
    "pipeline_robots_filter",
    "pipeline_sitemap_scan",
    "j_spatial_grid_join",
    "multimodal_tiff_decode",
    "pipeline_frontier_assembly",
]

R09_ADDITIONS = [
    "pipeline_warc_mixed",
    "pipeline_sitemap_discovery",
    "pipeline_cdx_index",
    "pipeline_crawl_schedule",
    "streaming_warc_ingest",
    "text_pdf_extract",
    "io_zip_roundtrip",
    "io_tar_gz_roundtrip",
    "pipeline_recrawl_due",
    "eval_pass_at_k",
    "io_variant_json",
    "stats_welch_ttest",
    "j_asof_nearest",
    "pipeline_revisit_resolve",
    "text_html_meta",
    # session-2 additions
    "pipeline_warc_http_decode",
    "pipeline_wet_derive",
    "pipeline_wat_derive",
    "text_docx_extract",
    "dedup_exact_lines",
    "curate_url_blocklist",
    "text_mojibake_repair",
    "pipeline_noindex_gate",
    "text_markdown_extract",
    "quality_compression_filter",
    "text_wikitext_extract",
    "text_pii_luhn",
    "io_bz2_foreign_roundtrip",
    "pipeline_corpus_from_crawl",
    "multimodal_mulaw_decode",
    "o_incremental_agg",
    "sim_hard_negatives",
    "io_csv_dialect_sniff",
    "split_cluster_safe",
    "text_eml_extract",
    "multimodal_srt_subtitles",
    "text_unicode_nfc",
    "io_parquet_footer_audit",
    "sim_mips_topk",
    "f_geojson_bbox",
    "curate_license_filter",
    "stats_benford_digits",
    "streaming_mv_rollup",
]

# Round-10 additions.
R10_ADDITIONS = [
    "k2_turtle_foreign",
    "text_xlsx_extract",
    "text_rtf_extract",
    "k2_turtle_grouped_roundtrip",
    "text_odt_extract",
    "text_epub_extract",
    "io_zorder_pruning",
    "io_compaction_plan",
    "io_schema_contract_diff",
    "j_bloom_semijoin_reduction",
]

R11_ADDITIONS = [
    "text_pptx_extract",
    "k2_turtle_sharded_roundtrip",
    "text_mbox_extract",
    "text_wiki_sharded_extract",
]

R12_ADDITIONS = [
    "pipeline_example_packing",
    "text_pptx_notes_extract",
]

HEADLINE = (
    R03_HEADLINE + R04_ADDITIONS + R05_ADDITIONS + R06_ADDITIONS
    + R07_ADDITIONS + R08_ADDITIONS + R09_ADDITIONS + R10_ADDITIONS
    + R11_ADDITIONS + R12_ADDITIONS
)

# Benched OUTSIDE the registry-pinned HEADLINE (the 293-vs-291
# bookkeeping gap in BENCH_r09 — VERDICT r9 what's-wrong #3):
# flagship_rdf_pipeline is the warm-up/headline plan with no
# queries() entry of its own, and streaming_upsert_sink is the
# side-effecting exactly-once foreachBatch sink timed separately.
BENCH_ONLY = ["flagship_rdf_pipeline", "streaming_upsert_sink"]

N_RUNS = 2
FAST_CUTOFF = 1.0  # s: first run under this skips the confirm run


def _calibrate_host_speed() -> float:
    """Fixed single-thread CPU work, timed BEFORE Spark starts — a
    host-speed normalizer for the artifact (VERDICT r13 next #2). The
    loadavg contention guard cannot see hypervisor steal or frequency
    scaling (r13 documented a 2.2x same-tree throughput swing across
    sweeps the guard labeled identically); a fixed-work token lets any
    two artifacts be compared in host-relative terms. Work = 256 MiB
    of sha256 (C-speed, allocation-free) + a 2M-iteration pure-Python
    loop (interpreter/py4j-side speed) — deterministic, no I/O.
    Additions-only: methodology and stdout contract are unchanged."""
    import hashlib

    t0 = time.time()
    buf = b"\xa5" * (1 << 20)
    h = hashlib.sha256()
    for _ in range(256):
        h.update(buf)
    acc = 0
    for i in range(2_000_000):
        acc += i ^ (i >> 3)
    # fold the results in so the work cannot be dead-code-eliminated
    _ = (h.hexdigest(), acc)
    return round(time.time() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # Sample contention BEFORE the Spark session exists: loadavg at
    # finish would mostly measure the bench's own local[n] load, not
    # the external tenants the guard is about.
    loadavg_start = os.getloadavg()[0]
    calib_sec = _calibrate_host_speed()
    spark = get_spark("razulibs-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen paths once so per-query numbers measure the
    # engine, not first-run class loading.
    flagship_triples(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # Warm the Arrow/pandas-UDF worker pool too (first pandas-UDF job
    # otherwise pays Python worker spin-up inside its measurement).
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    def _warm(s: "pd.Series") -> "pd.Series":
        return s

    _warm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    warm_udf = F.pandas_udf(_warm, "long")
    spark.range(10_000).select(warm_udf("id").alias("x")).write.format(
        "noop"
    ).mode("overwrite").save()

    times: dict[str, float] = {}
    errors: dict[str, str] = {}

    def run_once(name, fn) -> None:
        t0 = time.time()
        try:
            fn().write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            times[name] = min(times.get(name, dt), dt)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    for _ in range(N_RUNS):
        run_once(
            "flagship_rdf_pipeline", lambda: flagship_triples(spark, sf_dir)
        )
    spark.catalog.clearCache()

    for name in HEADLINE:
        fn = Q.QUERIES.get(name)
        if fn is None:
            errors[name] = "KeyError: not in registry"
            continue
        for _ in range(N_RUNS):
            if name in errors:
                break
            run_once(name, lambda: fn(spark, sf_dir))
            if (
                name not in R03_HEADLINE
                and times.get(name, float("inf")) < FAST_CUTOFF
            ):
                break
        spark.catalog.clearCache()

    # The exactly-once foreachBatch upsert sink is side-effecting (no
    # queries() entry): time the full availableNow drain into a fresh
    # parquet target per run.
    import shutil
    import tempfile

    from razulibs_spark.streaming.idempotent_sink import stream_upsert_events

    for _ in range(N_RUNS):
        if "streaming_upsert_sink" in errors:
            break
        tmp = tempfile.mkdtemp(prefix="bench_upsert_")
        t0 = time.time()
        try:
            q = stream_upsert_events(
                spark, sf_dir, os.path.join(tmp, "target")
            )
            q.awaitTermination()
            dt = round(time.time() - t0, 3)
            times["streaming_upsert_sink"] = min(
                times.get("streaming_upsert_sink", dt), dt
            )
        except Exception as exc:  # noqa: BLE001
            errors["streaming_upsert_sink"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    spark.catalog.clearCache()

    total = round(sum(times.values()), 3)
    r03_total = round(
        sum(times[n] for n in ["flagship_rdf_pipeline"] + R03_HEADLINE
            if n in times),
        3,
    )
    r04_total = round(
        sum(times[n] for n in R04_ADDITIONS if n in times), 3
    )

    # Full per-query map goes to a file (the driver's stdout capture
    # keeps only the final ~2000 chars, which a 200-query map
    # overflows — BENCH_r04 was parsed:null for exactly that reason).
    full = {
        "metric": "headline_query_wall_seconds_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "errors": errors,
        "n_failed": len(errors),
        "max_runs_per_query": N_RUNS,
        "fast_cutoff_s": FAST_CUTOFF,
        "r03_always_best_of_2": True,
        "bench_only": BENCH_ONLY,
        "registry_count": len(Q.QUERIES),
        "benched_count": len(times),
        "r03_comparable_total": r03_total,
        "baseline_r03_total": 95.369,
        "r04_additions_total": r04_total,
        "sf": sf,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    # A contended run (external tenants; observed 0.2 → 10+ swings)
    # inflates every wall number 30-400% — such a per-query map is
    # round-over-round noise, not signal. Keep bench_full_latest.json
    # idle-only: contended runs land in bench_full_contended.json so
    # the committed map stays interpretable (VERDICT r6 what's-wrong
    # #3). The decision uses the START sample (pre-Spark); the finish
    # sample is recorded for context but reflects the bench itself.
    loadavg_1m = os.getloadavg()[0]
    contended = loadavg_start > 4.0
    full["loadavg_1m"] = round(loadavg_1m, 2)
    full["loadavg_start_1m"] = round(loadavg_start, 2)
    full["calib_sec"] = calib_sec
    full["calib_sec_end"] = _calibrate_host_speed()
    full_name = (
        "bench_full_contended.json" if contended else "bench_full_latest.json"
    )
    full_path = os.path.join(here, full_name)
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    # Final stdout line: compact summary, guaranteed <2000 chars. The
    # "queries" map carries only the 10 slowest (the regression-watch
    # set); everything else is in bench_full_latest.json.
    slowest = dict(
        sorted(times.items(), key=lambda kv: -kv[1])[:10]
    )
    summary = {
        "metric": "headline_query_wall_seconds_total",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(times),
        "errors": errors,
        "n_failed": len(errors),
        "max_runs_per_query": N_RUNS,
        "fast_cutoff_s": FAST_CUTOFF,
        "r03_always_best_of_2": True,
        "r03_comparable_total": r03_total,
        "baseline_r03_total": 95.369,
        "bench_only": BENCH_ONLY,
        "registry_count": len(Q.QUERIES),
        "benched_count": len(times),
        "r04_additions_total": r04_total,
        "full_results": full_name,
        # loadavg context: start sample (pre-Spark) drives the
        # contended-map reroute; the finish sample mostly measures the
        # bench's own local[n] load.
        "loadavg_1m": round(loadavg_1m, 2),
        "loadavg_start_1m": round(loadavg_start, 2),
        "calib_sec": calib_sec,
        "calib_sec_end": full["calib_sec_end"],
        "sf": sf,
    }
    line = json.dumps(summary)
    if len(line) > 1900:  # belt-and-braces: drop detail, keep totals
        summary.pop("queries", None)
        summary["errors"] = dict(list(errors.items())[:3])
        line = json.dumps(summary)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
