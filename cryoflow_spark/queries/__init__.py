"""Query registry: every implemented operator exposed as a named query.

Each entry pairs a Spark DataFrame builder ``fn(spark, sf_dir) ->
DataFrame`` with an equivalent ANSI-SQL oracle string for DuckDB (or
``None`` for genuinely non-SQL-expressible operators — the driver then
records a weaker rows-only check).

Determinism rules used throughout (so the driver's order-insensitive
value-hash matches bit-for-bit between Spark and DuckDB):

- Multi-row float aggregation is order-dependent in IEEE doubles, so every
  ``SUM``/``AVG`` over doubles goes through an exact decimal accumulator:
  ``SUM(CAST(x AS DECIMAL(38,10)))`` then cast back to double. Decimal sums
  are exact and order-independent; the final decimal→double cast is
  deterministic and identical in both engines.
- Per-row double arithmetic (e.g. ``price * (1 - discount)``) is identical
  IEEE in both engines — safe without tricks.
- ``count``/``min``/``max`` are order-independent — safe as-is (sums of
  integers are cast to BIGINT on the DuckDB side, where SUM(int) widens to
  HUGEINT).
- Window/top-k queries always order by a unique tiebreaker so the result
  *set* is deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    description: str = ""


#: name -> QuerySpec; modules register into this at import time.
REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], description: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, description=description)
        return fn

    return deco


#: Fan a scan out to every core only while the WHOLE table is at most this
#: many bytes per core on disk — small enough that the round-robin exchange
#: is far below scan granularity (one default scan split is 128 MiB), so the
#: spread can only be a win. Past the cap the scan itself provides
#: parallelism (many files / row groups) and a blanket repartition would be
#: a full shuffle of the corpus — exactly the scale-killer to avoid.
_FAN_OUT_CAP_BYTES_PER_CORE = 4 << 20


def _local_input_bytes(path: str) -> int:
    import os

    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total
    return os.path.getsize(path)


def _fan_out_small_scan(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Scale-adaptive scan fan-out (optimization guide §2/§6).

    A table that fits in one parquet file produces ONE scan partition, so
    every downstream per-row map (minhash signatures, winnowing selection,
    CDC chunking, …) runs on one core no matter how many the session has.
    When the table is tiny relative to the session's parallelism (see
    ``_FAN_OUT_CAP_BYTES_PER_CORE``), round-robin repartition to
    ``defaultParallelism`` so the expensive maps use the whole machine; the
    exchange moves at most ``cores * cap`` bytes, which is noise. Above the
    cap this is a NO-OP: at real scale the scan has file/row-group
    parallelism already and the repartition would shuffle the corpus.

    Row placement never affects registered-query results (the determinism
    rules at the top of this module make every query order-insensitive),
    and ``spark.sql.execution.sortBeforeRepartition`` (default on) keeps
    the assignment stable under task retries.
    """
    try:
        size = _local_input_bytes(path)
    except OSError:
        return df
    cores = spark.sparkContext.defaultParallelism
    if size == 0 or size > cores * _FAN_OUT_CAP_BYTES_PER_CORE:
        return df
    return df.repartition(cores)


def load(
    spark: SparkSession, sf_dir: str, table: str, spread: bool = False
) -> DataFrame:
    """Read a test table; ``spread=True`` asks for the small-scan fan-out.

    The spread is OPT-IN per call site: it pays one exchange (plus the
    round-robin pre-sort) to put an expensive downstream per-row map on
    every core, which a full-map A/B showed is a multi-second win for the
    compute-bound pipelines (minhash/winnowing/CDC/ANN/profiling) but a
    flat ~0.3-1s LOSS for the many cheap relational queries whose
    single-partition scan was already fine (158 queries regressed under a
    blanket spread, 38 of them past the bench's 2x fresh-process gate).
    Query authors opt in exactly where the map is the bottleneck.
    """
    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.parquet(path)
    return _fan_out_small_scan(df, spark, path) if spread else df


def load_events(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """Load the events table, normalizing ``ts`` to session-local TIMESTAMP.

    The driver's ``events.parquet`` has shipped ``ts`` as either parquet
    TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read as a
    long via ``spark.sql.legacy.parquet.nanosAsLong`` and truncate to
    micros, matching DuckDB's reader) or plain TIMESTAMP(MICROS) without
    UTC adjustment (which Spark infers as TIMESTAMP_NTZ — cast to LTZ;
    the session timezone is UTC, so the micros are unchanged and both
    engines see identical values). Downstream queries rely on a uniform
    TIMESTAMP (LTZ) type for ``unix_micros``/``F.window`` etc.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _fan_out_small_scan(df, spark, path) if spread else df


#: The driver's correctness harness checks the FIRST 50 entries of
#: ``queries()`` in registration order. ``_PRIORITY`` is the committed
#: rotation order; its head-50 is the upcoming round's driver window, and
#: everything else follows (still runnable/benchable).
#:
#: ROTATION POLICY (bounded staleness — enforced by
#: tests/test_registry.py::test_rotation_policy_bounded_staleness, derived
#: by tools/make_window.py): with 300 registered queries and a 50-slot
#: window, "every query re-verified every round" is arithmetically
#: impossible. The steady-state rule is:
#:
#:   ordering = all never-driver-checked queries first (base registration
#:              order), then strictly oldest-driver-evidence-first, ties
#:              broken by base registration order,
#:
#: where a query's driver evidence is the latest committed
#: CORRECTNESS_r*.json that contains it. With <= 50 new registrations per
#: round this bounds every query's driver-evidence age to
#: ceil(N/50) + 1 rounds (= 7 at the current registry size of 300). The
#: enforcement test recomputes this ordering from the committed artifacts
#: themselves, so it fails the moment a rotation edit (or a forgotten
#: rotation) would let any query go staler than the policy allows.
#:
#: This list IS the policy ordering as of the round-15 artifacts: the
#: round-16 window is the head 50 — the oldest-evidence r10 cohort
#: (x02, x04, x06, x173/x174, q02–q12, q64–q81, …) leads; positions 51+
#: pre-commit the following rounds. Operators newly registered in a
#: round are never-checked and therefore PREPEND. After each driver
#: round, ``python tools/make_window.py`` prints the refreshed list
#: body in full, to paste between the brackets.
_PRIORITY: list[str] = [
    # --- round-16 window head: oldest-evidence cohort (regenerate
    # with tools/make_window.py after each driver round) ---
    "x02_dedup_normalized",  # last checked: r10
    "x04_jaccard_dedup",  # last checked: r10
    "x06_embedding_neardup",  # last checked: r10
    "x08_text_stats",  # last checked: r10
    "x09_lang_id",  # last checked: r10
    "x10_quality_score",  # last checked: r10
    "x11_fingerprint",  # last checked: r10
    "x15_minhash_dedup",  # last checked: r10
    "x18_ivf_cosine_topk",  # last checked: r10
    "x19_bpe_token_budget",  # last checked: r10
    "x21_tfidf_top_terms",  # last checked: r10
    "x31_zorder_key",  # last checked: r10
    "x32_remove_frequent_segments",  # last checked: r10
    "x41_ann_recall",  # last checked: r10
    "x42_domain_normalize_cap",  # last checked: r10
    "x172_markov_next_event",  # last checked: r10
    "x173_event_communities",  # last checked: r10
    "x174_signup_proximity",  # last checked: r10
    "x175_margin_mining",  # last checked: r10
    "x176_padding_waste",  # last checked: r10
    "x177_good_turing",  # last checked: r10
    "q02_filter_project",  # last checked: r10
    "q03_top_orders",  # last checked: r10
    "q04_order_priority",  # last checked: r10
    "q05_local_supplier_volume",  # last checked: r10
    "q06_forecast_revenue",  # last checked: r10
    "q07_price_buckets",  # last checked: r10
    "q08_topk_lineitems",  # last checked: r10
    "q09_distinct_segments",  # last checked: r10
    "q10_union_order_classes",  # last checked: r10
    "q11_intersect_customers",  # last checked: r10
    "q12_customers_without_orders",  # last checked: r10
    "q64_late_shipment_priority",  # last checked: r10
    "q65_top_supplier",  # last checked: r10
    "q66_dominant_supplier",  # last checked: r10
    "q67_cheapest_supplier",  # last checked: r10
    "q68_important_parts",  # last checked: r10
    "q69_large_orders",  # last checked: r10
    "q70_nation_trade",  # last checked: r10
    "q71_returned_customers",  # last checked: r10
    "q72_waiting_suppliers",  # last checked: r10
    "q73_small_quantity_revenue",  # last checked: r10
    "q74_unshipped_orders",  # last checked: r10
    "q75_local_supplier_volume",  # last checked: r10
    "q76_forecast_revenue",  # last checked: r10
    "q77_promo_share",  # last checked: r10
    "q78_supplier_diversity",  # last checked: r10
    "q79_disjunctive_revenue",  # last checked: r10
    "q80_product_profit",  # last checked: r10
    "q81_priority_shipping",  # last checked: r10
    # --- positions 51+: pre-committed following rounds ---
    "x43_semantic_dedup",  # last checked: r11
    "x44_html_to_text",  # last checked: r11
    "x45_quantile_gate",  # last checked: r11
    "x46_vocab_stats",  # last checked: r11
    "x47_gopher_rules",  # last checked: r11
    "x48_c4_clean",  # last checked: r11
    "x49_group_centroids",  # last checked: r11
    "x50_script_profile",  # last checked: r11
    "x52_corpus_report",  # last checked: r11
    "x53_incremental_presig",  # last checked: r11
    "x55_bloom_decontaminate",  # last checked: r11
    "x178_k_anonymity",  # last checked: r11
    "x179_ks_two_sample",  # last checked: r11
    "x180_wasserstein",  # last checked: r11
    "x181_dsir_importance",  # last checked: r11
    "x182_winnowing",  # last checked: r11
    "x183_heaps_law",  # last checked: r11
    "x184_kaplan_meier",  # last checked: r11
    "x185_ql_dirichlet",  # last checked: r11
    "x186_rouge_overlap",  # last checked: r11
    "x187_vocab_richness",  # last checked: r11
    "x188_term_burstiness",  # last checked: r11
    "x189_dedup_triangles",  # last checked: r11
    "x190_dedup_assortativity",  # last checked: r11
    "x191_group_ks_fdr",  # last checked: r11
    "x192_mann_whitney",  # last checked: r11
    "x193_cusum_alarm",  # last checked: r11
    "q13_top_orders_per_customer",  # last checked: r11
    "q14_event_deltas",  # last checked: r11
    "q15_string_ops",  # last checked: r11
    "q16_orders_by_month",  # last checked: r11
    "q17_cast_quantity_histogram",  # last checked: r11
    "q18_customer_order_stats",  # last checked: r11
    "q19_right_join_nations",  # last checked: r11
    "q20_region_nation_matrix",  # last checked: r11
    "q21_quantity_stats",  # last checked: r11
    "q22_rollup_counts",  # last checked: r11
    "q23_event_props_json",  # last checked: r11
    "q24_ship_delay",  # last checked: r11
    "q26_price_quantiles",  # last checked: r11
    "q27_pivot_returnflag",  # last checked: r11
    "q28_word_frequencies",  # last checked: r11
    "q29_priciest_lineitem_per_flag",  # last checked: r11
    "q31_running_totals",  # last checked: r11
    "q36_range_join_pairs",  # last checked: r11
    "q44_time_bucket_rollup",  # last checked: r11
    "q45_collect_sorted_arrays",  # last checked: r11
    "q54_array_lambdas",  # last checked: r11
    "q57_above_nation_average",  # last checked: r11
    "q58_distributed_cdf",  # last checked: r11
    "x17_sessionize",  # last checked: r12
    "x24_pii_scrub",  # last checked: r12
    "x51_jl_projection",  # last checked: r12
    "x54_dataset_checksum",  # last checked: r12
    "x56_unicode_normalize",  # last checked: r12
    "x57_containment_pairs",  # last checked: r12
    "x59_segment_repetition",  # last checked: r12
    "x60_crawl_refresh",  # last checked: r12
    "x61_heavy_hitters",  # last checked: r12
    "x62_quantile_buckets",  # last checked: r12
    "x63_filter_funnel",  # last checked: r12
    "x64_pack_sequences",  # last checked: r12
    "x65_centroid_drift",  # last checked: r12
    "x66_ivf_presig_topk",  # last checked: r12
    "x67_histogram",  # last checked: r12
    "x68_key_skew",  # last checked: r12
    "x70_exact_n_sample",  # last checked: r12
    "x69_token_budget_mix",  # last checked: r12
    "x71_cluster_best_keep",  # last checked: r12
    "x72_expectations",  # last checked: r12
    "x73_winsorize",  # last checked: r12
    "x74_distinctive_terms",  # last checked: r12
    "x75_embedding_qa",  # last checked: r12
    "x76_correlation_matrix",  # last checked: r12
    "x77_categorical_dependence",  # last checked: r12
    "x78_duplication_profile",  # last checked: r12
    "x79_quantile_summary",  # last checked: r12
    "x80_conversion_funnel",  # last checked: r12
    "x81_retention_cohorts",  # last checked: r12
    "x82_robust_outliers",  # last checked: r12
    "x83_stopword_fraction",  # last checked: r12
    "x84_mutual_information",  # last checked: r12
    "x85_water_fill_budget",  # last checked: r12
    "x86_quantile_normalize",  # last checked: r12
    "x87_zipf_fit",  # last checked: r12
    "x88_distribution_drift",  # last checked: r12
    "x89_exact_n_per_group",  # last checked: r12
    "x90_js_divergence",  # last checked: r12
    "x91_snapshot_containment",  # last checked: r12
    "x92_group_js_divergence",  # last checked: r12
    "x93_duplicate_spans",  # last checked: r12
    "x94_ensemble_rank_score",  # last checked: r12
    "x95_funnel_latency",  # last checked: r12
    "x194_exact_substring_dedup",  # last checked: r12
    "x194_exact_substring_engine",  # last checked: r12
    "x195_bpe_train",  # last checked: r12
    "x196_bpe_encode",  # last checked: r12
    "x198_edit_distance",  # last checked: r12
    "x199_windowed_pmi",  # last checked: r12
    "x200_truncation_recall",  # last checked: r12
    "x96_cross_entropy_score",  # last checked: r13
    "x97_water_fill_epochs",  # last checked: r13
    "x98_domain_blocklist",  # last checked: r13
    "x99_token_cap_per_source",  # last checked: r13
    "x100_pq_adc_topk",  # last checked: r13
    "x101_water_fill_floors",  # last checked: r13
    "x102_ivf_pq_topk",  # last checked: r13
    "x104_ingest_freshness",  # last checked: r13
    "x105_training_order",  # last checked: r13
    "x106_vocab_coverage",  # last checked: r13
    "x107_ivf_cell_stats",  # last checked: r13
    "x108_bigram_cross_entropy",  # last checked: r13
    "x109_pmi_collocations",  # last checked: r13
    "x110_fk_integrity",  # last checked: r13
    "x111_secret_scan",  # last checked: r13
    "x112_ccnet_buckets",  # last checked: r13
    "x113_tokenizer_fertility",  # last checked: r13
    "x114_profile_drift",  # last checked: r13
    "x201_kn_perplexity",  # last checked: r13
    "x202_kcore",  # last checked: r13
    "x203_cdc_chunks",  # last checked: r13
    "x204_readability",  # last checked: r13
    "x205_luhn_audit",  # last checked: r13
    "x206_sorted_neighborhood",  # last checked: r13
    "x207_ktruss",  # last checked: r13
    "x208_textrank",  # last checked: r13
    "x209_llr_collocations",  # last checked: r13
    "x210_phrase_search",  # last checked: r13
    "q30_string_cleanup",  # last checked: r13
    "q32_rank_family",  # last checked: r13
    "q33_conditional_aggs",  # last checked: r13
    "q34_date_vocabulary",  # last checked: r13
    "q35_approx_distinct",  # last checked: r13
    "q37_null_handling",  # last checked: r13
    "q38_cube_order_stats",  # last checked: r13
    "q39_hash_sample",  # last checked: r13
    "q40_stratified_sample",  # last checked: r13
    "q41_native_pivot",  # last checked: r13
    "q42_exists_subquery",  # last checked: r13
    "q43_range_interval_window",  # last checked: r13
    "q46_sliding_windows",  # last checked: r13
    "q47_regex_groups",  # last checked: r13
    "q48_bag_set_ops",  # last checked: r13
    "q49_null_safe_join",  # last checked: r13
    "q50_unpivot_measures",  # last checked: r13
    "q51_gap_fill_spine",  # last checked: r13
    "q52_bivariate_stats",  # last checked: r13
    "q53_fuzzy_part_names",  # last checked: r13
    "q55_grouping_sets",  # last checked: r13
    "q56_latest_per_key",  # last checked: r13
    "x01_dedup_exact",  # last checked: r14
    "x03_jaccard_pairs",  # last checked: r14
    "x05_cosine_topk",  # last checked: r14
    "x115_langid_margin",  # last checked: r14
    "x116_decontamination_audit",  # last checked: r14
    "x117_truncation_qa",  # last checked: r14
    "x118_rate_anomaly",  # last checked: r14
    "x119_mixture_order",  # last checked: r14
    "x120_cross_source_dup",  # last checked: r14
    "x121_domain_diversity",  # last checked: r14
    "x122_pii_exposure",  # last checked: r14
    "x123_centroid_similarity",  # last checked: r14
    "x124_packing_efficiency",  # last checked: r14
    "x125_dedup_savings",  # last checked: r14
    "x126_encoding_artifacts",  # last checked: r14
    "x127_event_transitions",  # last checked: r14
    "x128_scd2_intervals",  # last checked: r14
    "x129_ngram_diversity",  # last checked: r14
    "x130_benford_audit",  # last checked: r14
    "x131_ivf_quant_error",  # last checked: r14
    "x132_threshold_sensitivity",  # last checked: r14
    "x133_classification_report",  # last checked: r14
    "x134_join_explosion",  # last checked: r14
    "x135_session_journeys",  # last checked: r14
    "x136_keyword_contexts",  # last checked: r14
    "x137_traffic_seasonality",  # last checked: r14
    "x138_chat_transcript_audit",  # last checked: r14
    "x139_ab_lift",  # last checked: r14
    "x140_cluster_capped_sample",  # last checked: r14
    "x141_outlier_report",  # last checked: r14
    "x142_association_rules",  # last checked: r14
    "x143_bpe_merge_pairs",  # last checked: r14
    "x144_cohens_kappa",  # last checked: r14
    "x145_image_hash_pairs",  # last checked: r14
    "x146_embedding_covariance",  # last checked: r14
    "x147_code_detection",  # last checked: r14
    "x148_kneser_ney_counts",  # last checked: r14
    "x149_active_users",  # last checked: r14
    "x150_mixed_script",  # last checked: r14
    "x151_special_tokens",  # last checked: r14
    "x152_dedup_pair_inspector",  # last checked: r14
    "x153_chat_turn_stats",  # last checked: r14
    "x154_session_entries",  # last checked: r14
    "x155_bm25_search",  # last checked: r14
    "x156_duplicate_embeddings",  # last checked: r14
    "q59_recursive_months",  # last checked: r14
    "q60_lateral_topn",  # last checked: r14
    "q61_market_share",  # last checked: r14
    "q62_customer_distribution",  # last checked: r14
    "q63_sales_opportunity",  # last checked: r14
    "x07_lsh_cosine_topk",  # last checked: r15
    "x12_multimodal_meta",  # last checked: r15
    "x13_multimodal_features",  # last checked: r15
    "x14_frame_sample",  # last checked: r15
    "x16_simhash_pairs",  # last checked: r15
    "x20_dedup_clusters",  # last checked: r15
    "x22_token_shards",  # last checked: r15
    "x23_ivf_fixed_topk",  # last checked: r15
    "x25_decontaminate",  # last checked: r15
    "x26_repetition_stats",  # last checked: r15
    "x27_quantized_topk",  # last checked: r15
    "x28_source_mix",  # last checked: r15
    "x29_chunk_documents",  # last checked: r15
    "x30_weighted_sample",  # last checked: r15
    "x33_incremental_dedup",  # last checked: r15
    "x34_domain_cap",  # last checked: r15
    "x35_corpus_freq_score",  # last checked: r15
    "x36_dedup_segments",  # last checked: r15
    "x37_profile_columns",  # last checked: r15
    "x38_leakage_safe_split",  # last checked: r15
    "x39_snapshot_diff",  # last checked: r15
    "x40_ngram_novelty",  # last checked: r15
    "x15_engine_minhash_dedup",  # last checked: r15
    "x33_engine_incremental_dedup",  # last checked: r15
    "x58_temperature_mix",  # last checked: r15
    "x37_profile_approx",  # last checked: r15
    "x76_correlation_approx",  # last checked: r15
    "x79_quantiles_approx",  # last checked: r15
    "x100_pq_adc_engine",  # last checked: r15
    "x102_ivf_pq_engine",  # last checked: r15
    "x103_minhash_audit",  # last checked: r15
    "x141_outliers_approx",  # last checked: r15
    "x157_ivf_pq_rerank",  # last checked: r15
    "x158_session_exits",  # last checked: r15
    "x159_auc_report",  # last checked: r15
    "x160_calibration_curve",  # last checked: r15
    "x162_fleiss_kappa",  # last checked: r15
    "x163_hard_negatives",  # last checked: r15
    "x164_attribution_report",  # last checked: r15
    "x161_event_pagerank",  # last checked: r15
    "x165_rrf_fusion",  # last checked: r15
    "x166_ndcg_eval",  # last checked: r15
    "x167_theil_sen_trend",  # last checked: r15
    "x168_spearman",  # last checked: r15
    "x157_rerank_engine",  # last checked: r15
    "x169_token_concentration",  # last checked: r15
    "x170_mrr_eval",  # last checked: r15
    "x171_growth_accounting",  # last checked: r15
    "q01_pricing_summary",  # last checked: r15
    "q25_asof_join",  # last checked: r15
]


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect registration.
    from cryoflow_spark.queries import extensions  # noqa: F401
    from cryoflow_spark.queries import relational  # noqa: F401
    from cryoflow_spark.queries import relational2  # noqa: F401

    ordered = {n: REGISTRY[n] for n in _PRIORITY if n in REGISTRY}
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
