"""Regenerate EXPLAIN.md: formatted physical plans for the headline
queries at sf0.001, with the scale-relevant plan facts called out.

Usage: python tools/dump_plans.py   (writes EXPLAIN.md at repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# query key → the plan property a reviewer should check
HEADLINE = {
    "flagship_service_area_report": "dims broadcast; single shuffle on the group key",
    "regional_order_volume": "two BroadcastHashJoins; date filter in PushedFilters",
    "top_revenue_orders": "TakeOrderedAndProject (TopK), no full sort",
    "agg_stats_by_group": "partial HashAggregate pair around one exchange",
    "dedup_minhash_lsh": "band-bucket shuffle; no join of the corpus against itself",
    "dedup_ngram_jaccard": (
        "df-cap broadcast anti-join BEFORE collect_list; doc-size window "
        "reuses the doc partitioning (Sort+Window, no extra Exchange); "
        "size-ratio prefilter fused into the pair Generate"
    ),
    "geo_point_in_polygon": "BroadcastNestedLoopJoin on bbox; ArrowEvalPython only after",
    "geo_union_overlap_area": "broadcast bbox pair join; overlay UDF on candidates only",
    "events_value_quartiles": "broadcast percentile cutoffs; no Window/ntile sort",
    "events_asof_attribution": "union-marker window; one exchange on the key",
    "corpus_clean_sample": "LeftSemi dedup join; filters fused into one projection",
    "orders_with_late_items": "LeftSemi join (EXISTS), no row duplication",
    "dormant_high_balance_customers": "LeftAnti join; date filter pushed to orders scan",
    "ann_cosine_topk": "broadcast query side; corpus never shuffles",
    "simple_revenue_delta": "every predicate in PushedFilters; no join, one exchange",
    "part_revenue_concentration": "scalar total broadcast; exchange reuse (one fact scan at runtime)",
    "docs_chunk_split": "map-only explode; no Exchange/Join/Python",
    "docs_pack_sequences": "one shard-key exchange feeding one Window pass",
    "docs_benchmark_overlap": "benchmark gram set is the broadcast build side",
    "tdigest_value_quantiles": "MapInPandas partials -> FlatMapGroupsInPandas merge; shuffle carries digests",
    "rolling_7d_active_users": "broadcast calendar dim; fact scanned once, never self-joined",
    "fuzzy_match_part_names": "blocked join; levenshtein only on candidate pairs",
    "docs_repetition_signals": (
        "one tagged-gram explode; partial HashAggregate on (doc, gram) "
        "before the exchange, then one doc_id agg — no joins, no Python"
    ),
    "domain_quota_sample": (
        "two Window passes: salted (source, s) first, survivors-only "
        "re-rank on source — the hot-domain sort never sees full data"
    ),
    "dedup_exact_substring": (
        "explode + codegen md5 spans; distinct-then-count shuffles on "
        "(doc, h) and h; final join back is left outer on doc_id"
    ),
    "customer_rfm_segments": (
        "one groupBy(custkey) exchange; quartile bounds are a scalar "
        "aggregate on the broadcast side — no global ntile sort"
    ),
    "hll_registers_users": (
        "two partial HashAggregates (register max, then integer "
        "harmonic sum) — sketch state <= m rows per group, no Python"
    ),
    "ann_ivf_sqrtn_topk": (
        "corpus assignment is ONE MapInPandas (blocked-numpy kernel, "
        "C>=64 auto route) — no n×C crossJoin row explosion; probe "
        "join shuffles on the cell id only"
    ),
    "dedup_minhash_verified": (
        "LeftSemi filters the shingle stream to candidate docs BEFORE "
        "the pair-shingle join; exact-verify joins keyed by doc then "
        "(doc, shingle) — all proportional to candidate volume"
    ),
    "embedding_quantize_int8": (
        "64-key partial agg → 1-row broadcast (BNLJ with a scalar dim "
        "is the intended shape); codes/SSE are codegen array lambdas, "
        "corpus scanned once, never shuffled"
    ),
    "dedup_keep_best_quality": (
        "shared CC label-propagation rounds; quality micros computed "
        "map-side; canonical pick is one max_by partial agg, no window "
        "sort"
    ),
    "trade_graph_pagerank": (
        "per round: one edge-to-rank join + partial-agg groupBy(dst); "
        "edge list (with fused out-degree) and node frame materialized "
        "once — no per-round distinct recompute"
    ),
    "dedup_incremental_ingest": (
        "asymmetric band join: new-batch bands vs old-corpus bands "
        "only; over-cap OLD buckets filtered before the join"
    ),
    "docs_bigram_surprisal": (
        "bigram stream built map-side from the token array (posexplode "
        "+ element_at, NO lag-window shuffle); freq joins + one agg"
    ),
    "docs_quality_logreg_train": (
        "corpus collapses ONCE to an n×5-int feature frame "
        "(localCheckpoint); each gradient round = one partial-agg "
        "reduce with scalar broadcast weights — no corpus-sized "
        "shuffle, no Python, rounds are tiny barrier jobs"
    ),
    "dedup_suffix_splice": (
        "shared suffix-rank build (banded dense ranks, keyed "
        "shuffles); coverage = ONE per-document running-max window "
        "(never an interval->token explode); kept-token reassembly is "
        "one keyed join + one groupBy collect in position order"
    ),
    "curation_funnel_classifier": (
        "training chain reuses the #259 localCheckpointed feature "
        "frame; sweep/pick are 9-row/1-row broadcast crossJoins; the "
        "deployed gate joins the funnel base by doc_id (keyed), then "
        "the funnel's own survivor-bounded stages run unchanged"
    ),
    "abtest_mann_whitney": (
        "pooled ranking WITHOUT a global sort: per-band window "
        "cumsums over the distinct-value frame + a <=64-row collected "
        "band-offset map; one partial-agg reduce to the 1-row result"
    ),
    "orders_kruskal_wallis": (
        "the #264 banded-cumsum device at k groups: distinct-value "
        "frame checkpointed once, per-band window cumsums + <=64-row "
        "offset map, per-(group,value) counts join the cum frame "
        "keyed on v — no pooled global sort; output 5 rows"
    ),
    "events_cusum_changepoint": (
        "one keyed daily partial agg collapses the stream; CUSUM is a "
        "calendar-sized per-type window; argmax day via broadcast "
        "max-join, output one row per type"
    ),
    "logreg_online_sweep_refresh": (
        "batch chain reuses the localCheckpointed feature frame; each "
        "online step is ONE partial-agg reduce over its doc_id%3 "
        "split with scalar weight literals; the refresh sweep is the "
        "#260 tail — a 9-row broadcast crossJoin + one keyed groupBy"
    ),
    "text_bm25_search_persisted": (
        "postings scan pruned to the query terms' pbucket partitions "
        "(PartitionFilters) then broadcast-joined by the query dim — "
        "no Exchange on the postings side; top-k is WindowGroupLimit"
    ),
    "semantic_dedup_keep": (
        "k-means Arrow kernel feeds bucketed cosine pairs; "
        "pair join keyed by cluster, never corpus x corpus"
    ),
    "dedup_quote_containment": (
        "df-capped shingle buckets; in-row pair combinations; "
        "NO size-ratio prefilter (containment needs extreme ratios)"
    ),
    "dedup_graph_triangles": (
        "(degree,id)-oriented edges; three hash joins; "
        "corners explode -> partial-agg count"
    ),
    "market_basket_pairs": (
        "baskets collect_set per order; in-row combinations; "
        "dim joins + 1-row broadcast total"
    ),
    "join_key_skew_profile": (
        "TakeOrderedAndProject top-20; 1-row global agg broadcast; "
        "no corpus sort, no global window"
    ),
    "ann_ivf_quantized_topk": (
        "decode is a codegen array lambda over a 1-row broadcast "
        "scales dim; cell assignment ONE MapInPandas; probe join on "
        "the cell id — the composed index never shuffles the corpus "
        "by anything else"
    ),
    "curation_funnel_report": (
        "stage frame checkpointed once (ExistingRDD); stage-4 quota is "
        "the two-phase salted top-K (WindowGroupLimit partial+final per "
        "phase) with the keep-set broadcast back — no single-reducer "
        "per-source sort anywhere"
    ),
    "dedup_cluster_density": (
        "one CC labeling + shared oriented-triangle kernel over the "
        "checkpointed edge list; every aggregate keys on the cluster id "
        "(partial agg), degree frame computed once"
    ),
    "cms_token_counts": (
        "one vocab-sized partial-agg shuffle; d-way explode of DISTINCT "
        "vocab only; 4096-row counter table broadcasts to the probe join"
    ),
    "docs_shard_manifest": (
        "1-row shard-count broadcast; md5 assignment map-side; one "
        "partial-agg shuffle keyed by shard"
    ),
    "ann_pq_topk": (
        "ONE MapInPandas = the fused all-subspace encode; decode is a "
        "codegen element_at over literal codebooks; queries + "
        "shortlist broadcast — the corpus never enters a shuffle join"
    ),
    "ann_ivfpq_residual_topk": (
        "residual subtract is a map-side broadcast join against 16 "
        "centroids; candidates shuffle only on the cell id; codes, "
        "not floats, feed the ADC join"
    ),
    "docs_cdc_chunks": (
        "chunk-id running sum is a PER-DOC window (bounded by doc "
        "length); then the exact-substring pair-free counting shape"
    ),
    "dedup_cdc_clusters": (
        "star pairs: chunk-frequency partial agg (min-doc keeper) "
        "joined back once — O(B) edges per chunk, no combination "
        "explode; CC loop over the checkpointed edge list"
    ),
    "embedding_pca_project": (
        "per round ONE posexplode partial-agg exchange keyed by dim "
        "(64 groups); dot products are codegen folds; the corpus is "
        "never shuffled and never joined"
    ),
    "geo_shapefile_pip": (
        "binaryFile scan splits by file; decoded polygon dim is the "
        "broadcast build side; point side scans once, no shuffle"
    ),
    "embedding_matryoshka_recall": (
        "one broadcast pair join computes all four truncated cosines "
        "in a single pass; one window per dim; corpus never shuffles"
    ),
    "tokenizer_vocab_coverage": (
        "one (source, token) partial-agg shuffle; top-K vocab "
        "broadcasts back onto vocab-sized counts"
    ),
    "revenue_bootstrap_ci": (
        "explode(64) combines map-side (partial_sum per replicate "
        "BEFORE the exchange); the only corpus-wide shuffle carries "
        "64 x partitions rows; CI scalars broadcast onto the point "
        "estimate"
    ),
    "orders_pareto_front": (
        "two-phase skyline: bucket-partitioned window first, exact "
        "global window over survivors only (front-bounded frame)"
    ),
    "event_audience_overlap": (
        "two grouped partial aggs collapse users to bitmasks; 10-row "
        "pair dim is a BroadcastNestedLoopJoin — never a fact self-join"
    ),
    "orders_daily_ewma": (
        "one partial-agged corpus shuffle to (priority, day); 16 lag "
        "taps fuse into ONE Window stacked on the ffill window over "
        "the same partition+sort (one Sort, zero extra shuffles)"
    ),
    "geo_knn_areas": (
        "driver-inlined 25-rect dim; top-3 = map-side sort_array + "
        "slice + posexplode — ZERO Exchange in the whole plan"
    ),
    "kmeans_cluster_quality": (
        "one Arrow-batched assignment pass; k-row partial agg; k x k "
        "separation attached as a broadcast — corpus never shuffles"
    ),
    "data_quality_audit": (
        "stats frames are lineage-cut 1-row checkpoints (5/2 "
        "consumers); orphan check is the only remaining orders scan"
    ),
    "source_length_drift": (
        "one partial-agged shuffle keyed on sources x occupied bins; "
        "integer chi-square components, no join/window"
    ),
    "part_abc_classification": (
        "distributed prefix sum: per-decade running-sum window + the "
        "<=19-row unpartitioned offset window — the full parts frame "
        "never sorts on one reducer"
    ),
    "token_collocations": (
        "top-K vocab broadcast semi-filter; in-row combination "
        "lambda over per-doc baskets; pair counts partial-agg on "
        "<=C(100,2) keys — no SortMergeJoin"
    ),
    "simhash_hamming_histogram": (
        "signature frame lineage-cut (UDF runs once); linear partner "
        "equi-join; 65-key partial agg"
    ),
    "revenue_benford_audit": (
        "one 9-key partial agg; digits frame lineage-cut; 1-row "
        "total broadcast onto the 9-row literal dim"
    ),
    "user_daily_journey_match": (
        "one (user, day) shuffle; ordered sequence built in-row via "
        "sort_array; pattern is a codegen rlike"
    ),
    "nation_supplier_hhi": (
        "fact shuffles once to (nation, supplier); lineage-cut; "
        "broadcast totals; integer-micros shares squared"
    ),
    "ann_ivf_probe_recall": (
        "assignment + probe join run ONCE at probe_max; probe "
        "dimension is a 3-row broadcast fan-out of the lineage-cut "
        "candidate frame"
    ),
    "hll_audience_overlap": (
        "one corpus grouped max -> lineage-cut register frame; all "
        "set algebra on <= types x 1024 register rows"
    ),
    "dedup_threshold_sweep": (
        "the #27 pair chain runs once (lineage-cut); sweep is a "
        "4-row broadcast fan-out of the PAIR frame"
    ),
    "orders_winsorized_stats": (
        "grouped percentile cutoffs broadcast back; clip and sum are "
        "integer cents; one partial-agged corpus pass"
    ),
    "events_burst_detection": (
        "partial-agged hourly rollup; calendar densify (zero-fill) "
        "BEFORE the trailing window — frames are types x hours, "
        "never events"
    ),
    # r12 additions
    "text_bm25_topk": (
        "broadcast query-term dim prunes postings FIRST; df/stats "
        "broadcast; per-query top-10 is WindowGroupLimit (no full "
        "sort of the score table)"
    ),
    "dedup_suffix_lrs": (
        "NO global-window ranking: dense ranks are per-band windows "
        "+ a <=256-row offset map per round; every shuffle keyed "
        "(doc, pos) or band; descent joins are equi-joins on "
        "computed (doc, pos+off) keys"
    ),
    "embedding_knn_graph": (
        "every shuffle keyed by vertex id; candidate volume bounded "
        "by the reverse-edge cap (O(k^2) per vertex, hub-proof); "
        "per-round state is the lineage-cut k-regular edge list"
    ),
    "multimodal_aspect_buckets": (
        "5-row bucket dim broadcast; assignment map-side (5x "
        "expansion before a keyed min); only shuffle is the 5-key agg"
    ),
    "docs_novelty_profile": (
        "#129's span skeleton: map-side explode, two linear keyed "
        "shuffles; a repeated span is one counter row, never a pair "
        "explosion"
    ),
    "source_token_entropy": (
        "vocab-sized (source, token) partial agg then a source-sized "
        "agg — the #52 two-shuffle skeleton; log2 on exact integers"
    ),
    "text_rake_keyphrases": (
        "gaps-and-islands phrase runs via KEYED windows per doc; "
        "word stats broadcast; final top-20 is TakeOrdered, never a "
        "global window"
    ),
    "geo_simplify_vw": (
        "vertex rows through keyed lag/lead windows, two fixed "
        "rounds; no geometry blob, no UDF, no Python node"
    ),
    "search_rrf_fusion": (
        "shortlist quality rank via count-greater broadcast "
        "nested-loop against the scored scan — global rank with NO "
        "global sort; fusion is integer div arithmetic"
    ),
    "trade_graph_lpa": (
        "per round: edge<->label equi-join + partial-agg count + "
        "KEYED argmax window; edge list lineage_cut once, label "
        "state node-sized"
    ),
    "ann_mmr_rerank": (
        "4 unrolled greedy rounds over query-bounded frames; "
        "anti-join out the picked, keyed argmax window per round"
    ),
    "corpus_zipf_fit": (
        "vocab partial-agg -> TakeOrdered top-100 -> 100-row bounded "
        "fit; log2 on exact integers"
    ),
    "orders_ols_trend": (
        "partial-agged daily rollup -> 5-key agg; OLS sums are "
        "order-free BIGINTs"
    ),
    "geo_quadkey_pyramid": (
        "one corpus scan to finest-zoom counts; coarser levels "
        "re-aggregate the tile table, never the corpus"
    ),
    "cdc_latest_version_merge": (
        "keyed window over the CHANGELOG only + one join against the "
        "base; base never shuffled by version logic"
    ),
    "abtest_two_proportion": (
        "per-customer partial agg -> 2-row arm agg -> 1-row readout; "
        "no data-sized driver state"
    ),
    "minhash_bbit_tradeoff": (
        "the verified-pairs shape; the 5-way b-bit estimate is "
        "map-side on the paired signatures (no new shuffle)"
    ),
    "text_hashing_trick_features": (
        "one explode + one partial-agged (doc, bucket) shuffle; NO "
        "vocabulary pass, no broadcast, no Python"
    ),
    # r13
    "text_bm25_search_persisted": (
        "postings/doclens read from parquet artifacts; broadcast "
        "query-term prune (BHJ, no postings shuffle); WindowGroupLimit "
        "top-k — the from-index plan matches inline #219's scoring tail"
    ),
    "text_naive_bayes_source": (
        "model = two broadcast frames (class-token counts, class "
        "stats); scoring is a map-side x|classes| expansion of the tf "
        "frame + one keyed (doc, class) partial agg; argmax via "
        "WindowGroupLimit"
    ),
    "docs_dsir_importance": (
        "both bucket-count tables <= 256 rows broadcast; corpus-sized "
        "work = one (doc, bucket) partial-agg shuffle + one per-doc agg"
    ),
    "docs_gopher_quality_flags": (
        "four of five rule features map-side from the token array; "
        "only top-token share pays the (doc, t) partial-agg shuffle"
    ),
    "dedup_cc_twostar": (
        "per round: two groupBy-min partial aggs + two node-keyed "
        "joins; edge frame localCheckpointed (lineage cut) — no "
        "cartesian, no full-edge re-shuffle after round 0"
    ),
    "trade_graph_hits": (
        "per half-round: edge BHJ against node-sized score frame + "
        "partial-agg groupBy + 1-row max broadcast; all-integer state"
    ),
    "events_exact_quartiles_nosort": (
        "phase 1 = map-side bucketing + 4096-row cumulative histogram; "
        "phase 2 ranks ONLY the 3 target buckets — no global sort of "
        "the events frame anywhere in the plan"
    ),
    "docs_curriculum_rank": (
        "token-count histogram (bounded domain) broadcast back as rank "
        "offsets; row_number KEYED by n_tok — the global-ordinal plan "
        "with no single-partition window"
    ),
    "quality_pair_mining": (
        "score map-side; chosen/rejected are two keyed top-1 windows "
        "(WindowGroupLimit); source-sized join closes the pair"
    ),
    "source_kl_drift": (
        "one (source, t) partial-agg shuffle; token-dim and source-dim "
        "broadcast joins; source-sized final agg"
    ),
    "abtest_cuped_adjusted": (
        "per-user partial agg; pooled moments = 1-row broadcast; arm "
        "agg is 2 rows — no data-sized frame past the first shuffle"
    ),
    "versioned_merge_snapshot": (
        "reads only manifest-referenced parquet; merge rewrote only "
        "touched buckets; final agg is one nation-keyed exchange"
    ),
}


def main() -> None:
    import __spark_entry__ as e
    from utility_service_areas_spark.plans.registry import physical_plan
    from utility_service_areas_spark.session import build_session

    spark = build_session("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = e.queries()
    out = [
        "# EXPLAIN — headline physical plans",
        "",
        "GENERATED by `python tools/dump_plans.py` (sf0.001). Regenerate",
        "after plan-shape changes; tests/test_plans.py asserts the",
        "load-bearing properties mechanically.",
        "",
    ]
    for name, note in HEADLINE.items():
        plan = physical_plan(queries[name](spark, e.SMOKE_SF_DIR)).rstrip()
        # formatted output = tree + node details; keep the tree (short)
        tree = plan.split("\n\n")[0]
        out += [f"## {name}", "", f"**Check:** {note}", "", "```", tree, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAIN.md ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()
