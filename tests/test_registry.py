"""Registry integrity: the exact query key set is pinned so a broken
plan-module import (which now raises instead of being swallowed) or an
accidentally dropped registration fails the suite loudly — the driver's
correctness gate must never silently shrink.
"""

from __future__ import annotations

EXPECTED_KEYS = {
    # relational
    "flagship_service_area_report",
    "filter_tag_entities",
    "latest_update_per_entity",
    "earliest_year_per_entity",
    "dedup_first_per_key",
    "regex_extract_fields",
    "two_digit_year_fix",
    "enrich_join_dims",
    "anti_join_missing",
    "patch_override_join",
    "sync_status_case",
    "group_combine_collect",
    "concat_order_text",
    "agg_stats_by_group",
    "top_revenue_orders",
    "sentinel_date_imputation",
    "top3_orders_per_customer",
    "kml_description_parse",
    "geometry_currency_check",
    "chronology_enriched",
    # analytics
    "events_asof_attribution",
    "events_in_promo_windows",
    "agg_rollup_region_nation",
    "value_percentiles",
    "events_moving_window",
    "profile_orders",
    "approx_distinct_users",
    "supplier_balance_rank_dist",
    "user_first_last_event",
    "daily_new_users_cumulative",
    "supplier_daily_running_revenue",
    "tdigest_value_quantiles",
    "event_funnel_conversion",
    "cohort_retention",
    "rolling_7d_active_users",
    "qty_price_covariance_components",
    "event_type_transitions",
    "order_backlog_timeseries",
    "trade_graph_pagerank",
    # tpch
    "regional_order_volume",
    "max_size_parts_per_brand",
    "nation_trade_volume",
    "supplier_count_by_part_type",
    "events_value_quartiles",
    "customers_above_avg_spend",
    "orders_with_late_items",
    "customer_order_distribution",
    "dormant_high_balance_customers",
    "order_status_priority_cube",
    "supplier_ship_gap_stats",
    "customer_retention_setops",
    "small_lot_revenue_by_brand",
    "large_volume_orders",
    "promo_revenue_share_by_month",
    "nation_market_share_inputs",
    "disjunctive_bracket_revenue",
    "order_fulfillment_latency",
    "simple_revenue_delta",
    "returned_item_report",
    "profit_by_nation_year",
    "part_revenue_concentration",
    "top_revenue_supplier",
    "excess_quantity_suppliers",
    "supplier_order_exclusivity",
    "min_cost_supplier_per_part",
    "unshipped_order_revenue",
    "priority_counts_by_returnflag",
    "docs_chunk_split",
    "docs_pack_sequences",
    "text_redact_pii",
    "docs_benchmark_overlap",
    "docs_block_dedup",
    "docs_repetition_signals",
    "domain_quota_sample",
    "dedup_exact_substring",
    "event_anomaly_zscore",
    "customer_rfm_segments",
    "embedding_pair_histogram",
    "dedup_keep_best",
    "dedup_keep_best_quality",
    "hll_registers_users",
    "source_curation_profile",
    "reservoir_sample_docs",
    # etl
    "merge_upsert_customers",
    "salted_hot_key_join",
    "pivot_status_by_year",
    "unpivot_part_metrics",
    "weighted_sample_orders",
    "fuzzy_match_part_names",
    "scd2_customer_history",
    "bloom_new_customer_orders",
    # multimodal
    "multimodal_decode_meta",
    "multimodal_frame_sample",
    "multimodal_features",
    "multimodal_dedup_bytes",
    # events
    "events_tumbling_agg",
    "events_sessionize",
    "events_latest_per_user",
    "events_json_extract",
    "user_session_stats",
    # text
    "text_token_count",
    "text_lang_id",
    "text_quality_score",
    "text_clean",
    "text_top_tokens",
    "stratified_sample",
    "text_tfidf_top_term",
    "doc_fingerprint",
    "docs_training_filter",
    "token_count_histogram",
    "corpus_clean_sample",
    "docs_unigram_surprisal",
    "docs_bigram_surprisal",
    "heavy_hitter_tokens",
    "lang_id_confusion",
    # ann
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_sqrtn_topk",
    "ann_quantized_topk",
    "ann_ivf_quantized_topk",
    "dedup_embedding_cosine",
    "embedding_centroid_by_label",
    "embedding_kmeans_assign",
    "embedding_quantize_int8",
    # dedup
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_verified",
    "dedup_incremental_ingest",
    "dedup_clusters",
    "dedup_simhash",
    # geo
    "geo_area_rank",
    "geo_point_in_polygon",
    "geo_overlap_pairs",
    "geo_pip_grid_cells",
    "geo_overlap_grid_cells",
    "geo_bbox_centroid",
    "geo_plss_cells",
    "geo_union_grid_area",
    "geo_union_overlap_area",
    "geo_dissolve_true_union",
    "geo_make_valid",
    "geo_viewport_query",
    "geo_combine_multipolygon",
    "geo_simplify",
    "geo_morton_order",
    "geo_nearest_area",
    "geo_grid_density",
    # r9 additions
    "geo_shapefile_roundtrip",
    "dedup_cluster_density",
    "cms_token_counts",
    "docs_shard_manifest",
    "ann_pq_topk",
    "embedding_matryoshka_recall",
    "ann_ivfpq_topk",
    "tokenizer_vocab_coverage",
    "ann_ivfpq_residual_topk",
    "docs_cdc_chunks",
    "dedup_cdc_clusters",
    "geo_shapefile_pip",
    "embedding_pca_project",
    "embedding_pca_map",
    "histogram_value_quantiles",
    "event_robust_outliers",
    "orders_daily_gapfill",
    "event_audience_overlap",
    "revenue_bootstrap_ci",
    "orders_pareto_front",
    "events_asof_tolerance",
    "kmeans_cluster_quality",
    "geo_knn_areas",
    "orders_daily_ewma",
    "data_quality_audit",
    "source_length_drift",
    "simhash_hamming_histogram",
    "revenue_benford_audit",
    "part_abc_classification",
    "token_collocations",
    "events_burst_detection",
    "nation_supplier_hhi",
    "signup_to_purchase_latency",
    "customer_k_anonymity",
    "user_daily_journey_match",
    "customers_all_quarters_1996",
    "customer_order_streaks",
    "ann_ivf_probe_recall",
    "hll_audience_overlap",
    "dedup_threshold_sweep",
    "seq_len_packing_sweep",
    "ann_lsh_plane_sweep",
    "orders_winsorized_stats",
    # r8 additions
    "semantic_dedup_keep",
    "dedup_quote_containment",
    "dedup_graph_triangles",
    "source_mixing_weights",
    "embedding_outlier_flags",
    "market_basket_pairs",
    "deletion_cascade_manifest",
    "join_key_skew_profile",
    "curation_funnel_report",
    "semantic_dedup_sqrtn",
    "orders_rollup_incremental",
    "dataset_snapshot_diff",
    "minhash_estimator_quality",
    "curation_funnel_by_source",
    # r10 additions
    "revenue_bootstrap_ci_fast",
    # r11 additions
    "tokenizer_bpe_merges",
    "bpe_compression_sweep",
    "kmv_distinct_customers",
    "kmv_customer_overlap",
    "events_hourly_autocorr",
    "shard_zonemap_prune",
    "orders_daily_ohlc",
    "dataset_split_assign",
    "orders_weekly_ohlc",
    "kmv_union_distinct",
    "events_variant_stats",
    # r12 additions
    "text_bm25_topk",
    "dedup_suffix_lrs",
    "embedding_knn_graph",
    "multimodal_aspect_buckets",
    "docs_novelty_profile",
    "source_token_entropy",
    "text_rake_keyphrases",
    "geo_simplify_vw",
    "search_rrf_fusion",
    "trade_graph_lpa",
    "ann_mmr_rerank",
    "corpus_zipf_fit",
    "orders_ols_trend",
    "geo_quadkey_pyramid",
    "cdc_latest_version_merge",
    "abtest_two_proportion",
    "minhash_bbit_tradeoff",
    "text_hashing_trick_features",
    # r13
    "ann_ivfpq_search_persisted",
    "docs_model_quality_scores",
    "text_bm25_search_persisted",
    "docs_gopher_quality_flags",
    "text_naive_bayes_source",
    "docs_dsir_importance",
    "dedup_cc_twostar",
    "trade_graph_hits",
    "abtest_cuped_adjusted",
    "orders_theil_sen_trend",
    "events_exact_quartiles_nosort",
    "source_kl_drift",
    "versioned_merge_snapshot",
    "quality_pair_mining",
    "docs_curriculum_rank",
    "abtest_srm_check",
    "user_activity_gini",
    "part_brand_type_chi2",
    "orders_seasonality_index",
    "vocab_coverage_sweep",
    "corpus_heaps_fit",
    "events_poisson_rate_ci",
    "docs_quality_logreg_train",
    "docs_logreg_pr_sweep",
    "docs_logreg_calibration",
    # r15 additions
    "dedup_suffix_splice",
    "curation_funnel_classifier",
    "abtest_mann_whitney",
    "events_cusum_changepoint",
    "orders_kruskal_wallis",
    "logreg_online_sweep_refresh",
    "medallion_stream_pipeline",
}


def test_registry_key_set_pinned():
    import __spark_entry__ as e

    got = set(e.queries())
    missing = EXPECTED_KEYS - got
    extra = got - EXPECTED_KEYS
    assert not missing, f"registry lost queries: {sorted(missing)}"
    assert not extra, (
        f"new queries {sorted(extra)} — add them to EXPECTED_KEYS so the "
        "pin stays exact"
    )


def test_survey_section2_matches_registry():
    """Mechanical SURVEY.md §2 ↔ registry check (VERDICT r10 task #4):
    every §2 row's key must be registered, every registered key must
    have a §2 row, and the row's oracle cell must agree with whether
    the key actually carries a SQL oracle — so neither the table nor
    the oracle annotations can go stale again."""
    import os
    import re

    from utility_service_areas_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    survey = os.path.join(os.path.dirname(os.path.dirname(__file__)), "SURVEY.md")
    with open(survey, encoding="utf-8") as f:
        text = f.read()
    rows = re.findall(r"^\| \d+ \| `([a-z0-9_]+)` \|.*\| ([^|]+)\|$", text, re.M)
    survey_keys = {k for k, _ in rows}
    assert len(rows) == len(survey_keys), "duplicate §2 rows"
    reg_keys = set(REGISTRY)
    assert survey_keys == reg_keys, (
        f"SURVEY §2 drift: missing rows {sorted(reg_keys - survey_keys)}, "
        f"orphan rows {sorted(survey_keys - reg_keys)}"
    )
    stale = {}
    for key, cell in rows:
        cell = cell.strip()
        has_oracle = REGISTRY[key].oracle is not None
        if has_oracle and not cell.startswith("sql"):
            stale[key] = f"has SQL oracle but cell says {cell!r}"
        if not has_oracle and not cell.startswith("rows"):
            stale[key] = f"rows-only but cell says {cell!r}"
    assert not stale, f"stale SURVEY oracle cells: {stale}"


def test_load_all_raises_on_broken_module(monkeypatch):
    """_load_all must NOT swallow import errors (a broken module would
    silently drop its family from the driver's correctness gate)."""
    import builtins

    import pytest

    from utility_service_areas_spark.plans import registry

    monkeypatch.setattr(registry, "_LOADED", False)
    real_import = builtins.__import__

    def boom(name, *a, **kw):
        if name.endswith("geo_queries"):
            raise ImportError("synthetic break")
        return real_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", boom)
    with pytest.raises(ImportError):
        registry._load_all()
    # Restore so later tests see the fully-loaded registry.
    monkeypatch.setattr(builtins, "__import__", real_import)
    registry._LOADED = False
    registry._load_all()
    assert registry._LOADED


def test_oracle_output_surface_is_driver_safe(spark):
    """r7 post-mortem lint: the driver canonicalizes results through
    pandas, where DuckDB HUGEINT/DECIMAL degrade to float64 (hashing
    `N.0` against Spark's int64 `N`) and raw list columns crash its
    sort_values. Both failure classes are invisible to fetchall()-based
    local mirrors, so we pin the declared output surface mechanically:
    every oracle's LIMIT-0 schema and every Spark plan's top-level
    schema must be atomic (no HUGEINT/DECIMAL/list/struct/map).
    """
    import duckdb

    import __spark_entry__ as e
    from tests.conftest import SMOKE_SF
    from tools.check_oracle import (
        TABLES,
        lint_oracle_surface,
        lint_spark_surface,
    )

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SMOKE_SF}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    bad = {}
    qs = e.queries()
    for name, sql in e.oracle_sql().items():
        hits = lint_oracle_surface(con, sql)
        if hits:
            bad[f"oracle:{name}"] = hits
    for name, fn in qs.items():
        hits = lint_spark_surface(fn(spark, SMOKE_SF))
        if hits:
            bad[f"spark:{name}"] = hits
    assert not bad, f"driver-hostile output columns: {bad}"


def test_driver_priority_prefix_invariants():
    """The driver attests exactly the first 50 registry keys per
    round: the prefix must be exactly 50 unique, registered names and
    must never contain the three oracle-less rows-only sketches
    (they can only burn a slot with err:no_oracle)."""
    from utility_service_areas_spark.plans.registry import (
        REGISTRY,
        _load_all,
        _ordered,
    )

    _load_all()
    order = list(_ordered())
    prefix = order[:50]
    assert len(prefix) == 50
    assert len(set(prefix)) == 50
    unknown = [n for n in prefix if n not in REGISTRY]
    assert not unknown, unknown
    oracle_less = {n for n, spec in REGISTRY.items() if spec.oracle is None}
    assert not oracle_less & set(prefix), (
        "oracle-less keys can only burn a driver slot"
    )
    assert sorted(order) == sorted(REGISTRY), "the walk must visit every key once"


def test_rotation_matches_correctness_union():
    """The rotation can never drift from the data: `_ordered()` derives
    it, and this test recomputes it independently.

    Recompute each sql-oracled key's newest GREEN driver-attestation
    round from the union of the committed CORRECTNESS_r*.json files
    (never-attested keys count as round 0; a red row — err set or
    rows_match not true — keeps the key's old staleness so it re-enters
    the sample at once), sort that pool by (newest_round, name) — the
    rotation discipline is "stalest first, boundary cohort split
    alphabetically" — and assert that the driver walk is exactly that
    pool followed by the oracle-less keys in module-load order.
    """
    import glob
    import json
    import os

    from utility_service_areas_spark.plans.registry import (
        REGISTRY,
        _load_all,
        _ordered,
    )

    _load_all()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    assert files, "no committed CORRECTNESS_r*.json — rotation unverifiable"
    newest: dict[str, int] = {}
    for path in files:
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        for key, row in json.load(open(path, encoding="utf-8")).items():
            green = (
                isinstance(row, dict)
                and row.get("err") is None
                and row.get("rows_match") is True
            )
            if green:
                newest[key] = max(newest.get(key, 0), rnd)

    pool = sorted(
        (name for name, spec in REGISTRY.items() if spec.oracle is not None),
        key=lambda n: (newest.get(n, 0), n),
    )
    oracle_less = [name for name, spec in REGISTRY.items() if spec.oracle is None]
    assert list(_ordered()) == pool + oracle_less


def test_red_rows_do_not_count_as_attested(tmp_path):
    """A key whose newest driver row is red keeps the staleness of its
    last green row, so it heads the next rotation."""
    import json

    from utility_service_areas_spark.plans.registry import _newest_green_round

    green = {"rows_match": True, "err": None}
    rounds = {
        1: {"a": green, "b": green},
        2: {"a": {"rows_match": False, "err": None}, "b": {"rows_match": True, "err": "boom"}},
        3: {"c": green, "d": "not a row"},
    }
    for rnd, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    assert _newest_green_round(str(tmp_path)) == {"a": 1, "b": 1, "c": 3}
