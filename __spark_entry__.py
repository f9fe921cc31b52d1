"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``razulibs_spark``; this module only adapts
it to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from razulibs_spark import queries as _q  # noqa: E402
from razulibs_spark.plans.flagship import flagship_triples  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The csv2rdf-shaped pipeline (SURVEY.md §3.1): scan → broadcast
    joins → aggregations → entity fan-out → RDF triples DataFrame.
    """
    return flagship_triples(spark, "/root/testdata/sf0.001")


# Names already driver-verified (green rows in CORRECTNESS_r01/r02).
# The driver checks the FIRST 50 ``queries()`` entries per round, so we
# rotate: entries with no driver row yet come first (oracle-backed ones
# before rows-only ones), previously-green entries last. Across rounds
# this verifies the whole registry; local pytest parity covers all
# entries every round regardless of the window.
# Names SUBTRACTED from the verified set below (via
# _EFFECTIVE_VERIFIED) so they re-enter the driver window as fresh
# entries despite having old rows: their code was refactored since
# r01/r02 and VERDICT r4 item 4 asks for fresh driver rows.
# scripts/update_rotation.py clears a name from this set as soon as a
# newer CORRECTNESS artifact records it again, so stale entries cannot
# permanently occupy window slots.
# Entries are round-stamped "name@N": the name re-enters the window
# and update_rotation.py clears it only once a CORRECTNESS_r{M}.json
# with M >= N records it — an OLDER green row (from before the code
# change that motivated the refresh) must not clear it.
# k2_turtle_grouped_roundtrip: r11 block-capped the grouped sink
# (windowed block-id salting, VERDICT r10 item 1) and added the
# ldto:hub0 super-subject fixture — output rows changed.
# text_xlsx_extract: r11 added the date/styles layer (row 5 serials)
# and the foreign-producer 1904/absolute-target axis — output changed.
# text_pdf_extract: r11 added encryption axes (d%23 in {5,7} RC4
# empty-password, d%89==3 password-protected fail-closed rows).
# text_pdf_extract: r12 added AES-256 V5/R6+R5 axes (d%23 in {9,15})
# and the C-backed crypto fast path — fixture bytes changed.
# text_mbox_extract: r12 added the mboxcl2 Content-Length axis
# (d%41==5) and the auto-dialect stitcher — fixture + plan changed.
# text_epub_extract: r12 added the pure-EPUB3 nav-document axis
# (d%47==21) and linear="no" spine skipping.
# text_pptx_extract: r12 fixture gained notes/SmartArt parts (default
# path provably excludes them; opt-in include_notes extracts).
# multimodal_decode: r12 added the SOF9 arithmetic-JPEG axis (d%5==4
# in the JPEG slot) — fixture bytes changed, stats oracle unchanged.
# r14-touched queries (VERDICT r13 next #8 — the round's touched
# entries re-enter the driver window for fresh rows):
# text_mbox_extract: r14 distributed the Content-Length stitch fold
# (size-adaptive sync-point scan) — plan changed for >par spools.
# events_rfm: r14 took the ADVICE width/determinism fixes (3·n_users
# range fan-out, max() passenger aggregate).
# sim_random_projection / sim_kmeans_lloyd: r14 added int-literal
# type guards on the SQL-rendered parameters.
_ROTATION_FORCE_REFRESH = frozenset({
    "events_rfm@14", "sim_kmeans_lloyd@14", "sim_random_projection@14",
    "text_mbox_extract@14",
})

_PREVIOUSLY_VERIFIED = frozenset({
    "a1_global_minmax", "a2_min_across_runs", "a4_outcome_buckets",
    "a6_distinct_groups", "a6w_group_change_detect",
    "a_approx_distinct", "a_approx_quantiles", "a_corr_matrix",
    "a_cube_price", "a_distinct_count", "a_exact_quantiles",
    "a_grouped_ols", "a_grouped_zscore", "a_grouping_sets",
    "a_heavy_hitters", "a_rollup_pricing", "a_winsorize",
    "contamination_bloom", "contamination_ngram",
    "curate_license_filter", "curate_source_cap",
    "curate_url_blocklist", "d6_premis_events",
    "dedup_cluster_canonical", "dedup_cluster_sizes",
    "dedup_containment", "dedup_cross_source", "dedup_edit_distance",
    "dedup_exact", "dedup_exact_lines", "dedup_incremental",
    "dedup_jaccard_prefix_filter", "dedup_lsh_tuning",
    "dedup_minhash_incremental", "dedup_minhash_lsh",
    "dedup_minhash_lsh_ml", "dedup_ngram_jaccard",
    "dedup_semantic_clusters", "dedup_simhash", "dedup_substring_cut",
    "dedup_substring_multik", "dedup_substring_spans",
    "dedup_url_canonical", "eval_ann_agreement", "eval_auc_ovr",
    "eval_calibration", "eval_cohens_kappa", "eval_confusion_matrix",
    "eval_pass_at_k", "eval_retrieval_pr", "events_anomaly_mad",
    "events_bounce_rate", "events_changepoint", "events_cohort_ltv",
    "events_copurchase_pairs", "events_enriched_nation",
    "events_funnel", "events_funnel_windowed", "events_hourly_rollup",
    "events_interarrival_quantiles", "events_markov",
    "events_multitouch_attribution", "events_new_returning",
    "events_path_analysis", "events_peak_concurrency",
    "events_retention_cohorts", "events_rfm", "events_rolling_dau",
    "events_session_duration_hist", "events_sessionize",
    "events_view_purchase_attribution", "events_weekday_profile",
    "f12_wkt_bbox", "f13_split_explode", "f14_null_to_zero",
    "f16_url_encode", "f17_mime_guess", "f19_json_extract",
    "f1_date_type_classify", "f20_tool_signature",
    "f21_integer_validation", "f2_full_extension", "f3_mtime_iso",
    "f4_extract_id_parts", "f5_filename_stem", "f6_normalize_path",
    "f8_identifier_templating", "f9_compose_filename", "f_geojson_bbox",
    "flagship_triples_oracle", "graph_bfs_levels", "graph_pagerank",
    "graph_triangle_count", "io_avro_roundtrip", "io_bucketed_join",
    "io_bz2_foreign_roundtrip", "io_compaction_plan",
    "io_csv_dialect_sniff", "io_csv_malformed", "io_jsonl_gz_roundtrip",
    "io_orc_roundtrip", "io_parquet_footer_audit",
    "io_partitioned_pruning", "io_schema_contract_diff",
    "io_schema_evolution", "io_tar_gz_roundtrip", "io_variant_json",
    "io_zip_roundtrip", "io_zorder_pruning", "j1_lookup_join",
    "j2_multilabel_resolve", "j2_vocab_resolve",
    "j4_manifest_reconcile", "j5_changed_or_new", "j6_set_diff",
    "j7_upload_verification", "j8_hierarchy_links", "j_asof_forward",
    "j_asof_join", "j_asof_nearest", "j_bloom_semijoin_reduction",
    "j_interval_overlap", "j_pit_scd2", "j_range_join_binned",
    "j_resample_ffill", "j_salted_skew_join", "j_spatial_grid_join",
    "k1_jsonld_roundtrip", "k2_ntriples_roundtrip",
    "k2_rdfxml_roundtrip", "k2_trig_roundtrip", "k2_trix_roundtrip",
    "k2_turtle_foreign", "k2_turtle_grouped_roundtrip",
    "k2_turtle_sharded_roundtrip",
    "length_histogram", "mixture_sample", "multimodal_audio_spectral",
    "multimodal_chunk_audio", "multimodal_decode",
    "multimodal_features", "multimodal_gif_decode",
    "multimodal_image_ahash", "multimodal_mp4_metadata",
    "multimodal_mulaw_decode", "multimodal_resize",
    "multimodal_sample_frames", "multimodal_srt_subtitles",
    "multimodal_tiff_decode", "multimodal_video_frames",
    "o1_sequential_ids", "o2_entity_fanout", "o7_delete_batches",
    "o_analyze_stats", "o_cdc_apply", "o_incremental_agg",
    "o_scd2_history", "o_skew_profile", "o_write_plan", "o_zorder_key",
    "p10_invalid_triple_filter", "p4_triple_first_value",
    "p5_subject_type_pivot", "p6_lock_predicate",
    "p7_suffix_scan_filter", "p8_date_filter_nullkeep",
    "p9_only_if_new", "pack_sequences", "pipeline_cdx_index",
    "pipeline_cluster_best", "pipeline_corpus_from_crawl",
    "pipeline_corpus_prep", "pipeline_crawl_schedule",
    "pipeline_dataset_card", "pipeline_decon_split",
    "pipeline_example_packing", "pipeline_frontier_assembly",
    "pipeline_full_prep", "pipeline_link_graph",
    "pipeline_noindex_gate", "pipeline_recrawl_due",
    "pipeline_revisit_resolve", "pipeline_robots_filter",
    "pipeline_sitemap_discovery", "pipeline_sitemap_scan",
    "pipeline_warc_extract", "pipeline_warc_http_decode",
    "pipeline_warc_mixed", "pipeline_wat_derive", "pipeline_wet_derive",
    "q10_returned_items", "q11_important_parts",
    "q12_priority_by_linestatus", "q13_order_distribution",
    "q14_promo_effect", "q15_top_supplier", "q16_supplier_parts",
    "q17_small_qty_revenue", "q18_large_orders",
    "q19_brand_size_revenue", "q1_pricing_summary",
    "q20_promotion_suppliers", "q21_waiting_suppliers",
    "q22_dormant_accounts", "q2_mincost_supplier",
    "q3_shipping_priority", "q4_order_priority", "q5_regional_revenue",
    "q6_forecast_revenue", "q7_nation_volume", "q8_market_share",
    "q9_product_profit", "quality_compression_filter",
    "quality_filter_funnel", "quality_gopher_filter",
    "quality_percentile_filter", "rdf_ancestor_closure",
    "rdf_bgp_match", "rdf_shape_validation", "s6_manifest_scan",
    "s7_manifest_map_scan", "s8_eventlog_maxid", "sample_stratified",
    "sample_temperature_mix", "sim_centroid_shift", "sim_cosine_topk",
    "sim_embedding_neardup", "sim_hard_negatives", "sim_ivf_assign",
    "sim_ivf_topk", "sim_ivfpq_topk", "sim_kmeans_lloyd",
    "sim_knn_classify", "sim_label_centroids", "sim_maxsim_topk",
    "sim_mips_topk", "sim_pca_power", "sim_pq_topk",
    "sim_quantize_int8", "sim_random_projection", "sim_rp_lsh_neardup",
    "split_cluster_safe", "split_train_test",
    "sql_adhoc_region_revenue", "stats_benford_digits",
    "stats_chi_square", "stats_embedding_dims", "stats_group_gini",
    "stats_ks_drift", "stats_welch_ttest", "streaming_dedup",
    "streaming_enrich", "streaming_hourly_rollup",
    "streaming_interval_join", "streaming_interval_join_outer",
    "streaming_mv_rollup", "streaming_session_window",
    "streaming_sessionize", "streaming_warc_ingest", "t1_topk_orders",
    "t3_sorted_diff", "t_grouped_topk", "text_bpe_encode",
    "text_bpe_merges", "text_bpe_pair_counts", "text_charset_sniff",
    "text_chunk_dedup", "text_docx_extract", "text_dsir_importance",
    "text_eml_extract", "text_epub_extract", "text_fingerprints",
    "text_hash_classifier", "text_html_extract", "text_html_meta",
    "text_language_id", "text_lm_score", "text_markdown_extract",
    "text_mbox_extract", "text_mojibake_repair", "text_novelty_ratio",
    "text_odt_extract", "text_pdf_extract", "text_pii_luhn",
    "text_pii_scrub", "text_pptx_extract", "text_pptx_notes_extract",
    "text_quality_scores", "text_rarity_score", "text_repetition_stats",
    "text_rtf_extract", "text_tfidf_topterms", "text_token_stats",
    "text_unicode_nfc", "text_vocab_coverage",
    "text_wiki_sharded_extract", "text_wikitext_extract",
    "text_xlsx_extract", "u2_graph_union_dedup", "u4_upsert_by_key",
    "u_intersect_all", "w_ewma", "w_lag_lead_gaps", "w_rolling_stats",
    "w_running_distinct", "w_running_total",
})


# The set the rotation actually orders by: force-refreshed names are
# treated as never-verified so they re-enter the window. Entries may
# carry a round stamp ("name@N") consumed by update_rotation.py; the
# bare name is what the ordering subtracts.
_EFFECTIVE_VERIFIED = _PREVIOUSLY_VERIFIED - frozenset(
    n.split("@", 1)[0] for n in _ROTATION_FORCE_REFRESH
)


def _round_counter() -> int:
    """Deterministic per-round value: the number of CORRECTNESS
    artifacts the driver has produced so far. Used to rotate which
    previously-verified entries re-enter the 50-entry window once all
    fresh entries fit, so regressions in old greens are eventually
    re-caught by the driver (not only by local pytest parity)."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    return len(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so
    the driver's correctness window reaches not-yet-verified entries.

    Window slots left over after all fresh entries are seated go to a
    rotating sample of previously-verified entries (keyed by round
    counter) so old greens get periodically re-verified."""
    import hashlib

    fresh_oracle, fresh_rows_only, seen = [], [], []
    for name in _q.QUERIES:
        if name in _EFFECTIVE_VERIFIED:
            seen.append(name)
        elif name in _q.ORACLES:
            fresh_oracle.append(name)
        else:
            fresh_rows_only.append(name)
    rnd = _round_counter()
    seen.sort(
        key=lambda n: hashlib.md5(f"{rnd}:{n}".encode()).hexdigest()
    )
    ordered = fresh_oracle + fresh_rows_only + seen
    return {name: _q.QUERIES[name] for name in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys missing here are the
    genuinely non-SQL-expressible ops (driver records rows-only)."""
    return dict(_q.ORACLES)
