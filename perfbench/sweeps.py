"""Pinned query lists of the two sweep workloads.

Queries are pinned by registered name, not by plan module, so
regrouping the modules cannot change a sweep. ``run.py`` exits at
start if a pinned name is no longer registered, so a sweep never
shrinks silently.

Selection rule (applied once to a full first-run profile of the
registry on tables from ``tables.py``, seed 1, sf=0.1, local[4]):

- ``sweep_relational``: queries tagged ``join``, ``agg``, ``window`` or
  ``events``, carrying no curation/text/vector tag and defined outside
  the modules that start Python workers or use session-staged stages
  (``_cache``, ``multimodal*``, ``timeseries``). Ordered by the SHA-1 of
  the name; the list keeps the first queries whose profiled seconds
  reach 30. Tables at sf=0.1.
- ``sweep_curation``: first the five worst plan builders the roadmap
  names (``core``: always run), then queries tagged ``dedup``, ``lsh``,
  ``vector``, ``embedding``, ``iterative``, ``neardup`` or
  ``similarity``, ordered by the SHA-1 of the name. Tables at sf=0.01:
  these queries are dominated by plan construction and driver-side
  jobs, which the scale barely changes, and the core alone takes about
  26 s.

The seconds and job counts below are each query's first run in the
pinned order, in one fresh session after the benchmark's set-up
(``profile_queries.py --only ...``, seed 1, local[4], 4-core host).
``schema`` is the result schema a run checks against.
"""

from __future__ import annotations

#: scale factor of the tables each sweep reads
SCALE = {"sweep_relational": 0.1, "sweep_curation": 0.01}

PINNED: dict[str, dict[str, dict]] = {
    "sweep_relational": {
        "forecast_revenue_change": {"build_s": 1.369, "build_jobs": 1, "exec_s": 1.711, "exec_jobs": 2,
            "schema": "struct<revenue_delta:double,n_lines:bigint>"},
        "asof_last_click": {"build_s": 0.481, "build_jobs": 1, "exec_s": 1.604, "exec_jobs": 3,
            "schema": "struct<event_id:bigint,user_id:bigint,purchase_ts:timestamp,asof_click_id:bigint,asof_click_ts:timestamp>"},
        "sole_late_suppliers": {"build_s": 0.51, "build_jobs": 3, "exec_s": 2.798, "exec_jobs": 6,
            "schema": "struct<s_name:string,numwait:bigint>"},
        "regional_revenue": {"build_s": 0.828, "build_jobs": 6, "exec_s": 0.828, "exec_jobs": 7,
            "schema": "struct<n_name:string,revenue:double>"},
        "returned_item_customers": {"build_s": 0.463, "build_jobs": 4, "exec_s": 0.735, "exec_jobs": 5,
            "schema": "struct<c_custkey:bigint,c_name:string,n_name:string,revenue:double>"},
        "small_quantity_revenue": {"build_s": 0.226, "build_jobs": 2, "exec_s": 1.123, "exec_jobs": 5,
            "schema": "struct<avg_yearly:double>"},
        "lineitem_statistics": {"build_s": 0.124, "build_jobs": 1, "exec_s": 0.536, "exec_jobs": 2,
            "schema": "struct<l_returnflag:string,qty_price_corr:double,qty_price_covar:double,price_stddev:double,discount_var:double,all_positive_qty:boolean,any_deep_discount:boolean>"},
        "priority_with_late_lines": {"build_s": 0.19, "build_jobs": 2, "exec_s": 0.861, "exec_jobs": 3,
            "schema": "struct<o_orderpriority:string,n_orders:bigint>"},
        "grouped_median_prices": {"build_s": 0.231, "build_jobs": 2, "exec_s": 3.784, "exec_jobs": 4,
            "schema": "struct<p_brand:string,n:bigint,median:double>"},
        "rich_inactive_customers": {"build_s": 0.241, "build_jobs": 2, "exec_s": 0.478, "exec_jobs": 5,
            "schema": "struct<c_mktsegment:string,numcust:bigint,totacctbal:double>"},
        "order_interarrival_stats": {"build_s": 0.709, "build_jobs": 4, "exec_s": 0.617, "exec_jobs": 3,
            "schema": "struct<gap_weeks:bigint,n_gaps:bigint,share:double,avg_gap_days:double>"},
        "order_tree_rollup": {"build_s": 2.563, "build_jobs": 26, "exec_s": 0.282, "exec_jobs": 2,
            "schema": "struct<root_id:bigint,n_nodes:bigint,max_depth:int>"},
        "order_rank_distribution": {"build_s": 0.11, "build_jobs": 1, "exec_s": 1.615, "exec_jobs": 2,
            "schema": "struct<o_orderkey:bigint,o_orderpriority:string,pct_rank:double,cume:double,quartile:int,group_min_price:double>"},
        "fifo_quantity_matching": {"build_s": 1.77, "build_jobs": 3, "exec_s": 1.196, "exec_jobs": 7,
            "schema": "struct<l_partkey:bigint,n_buys:bigint,n_sells:bigint,n_match_segments:bigint,matched_qty:double>"},
        "value_retention_cohorts": {"build_s": 0.13, "build_jobs": 1, "exec_s": 0.952, "exec_jobs": 5,
            "schema": "struct<cohort_week:string,weeks_since:int,n_users:bigint,total_value:double>"},
        "customers_with_recent_orders": {"build_s": 0.175, "build_jobs": 2, "exec_s": 0.151, "exec_jobs": 2,
            "schema": "struct<c_custkey:bigint,c_name:string>"},
        "cohort_ltv_curves": {"build_s": 0.415, "build_jobs": 3, "exec_s": 0.621, "exec_jobs": 6,
            "schema": "struct<cohort_month:string,month_age:bigint,cohort_size:bigint,cum_ltv_per_customer:double>"},
        "grouped_mode_priority": {"build_s": 0.101, "build_jobs": 1, "exec_s": 0.272, "exec_jobs": 3,
            "schema": "struct<o_orderstatus:string,mode_priority:string,n_rows:bigint>"},
        "lateral_top_orders_sql": {"build_s": 0.28, "build_jobs": 2, "exec_s": 0.589, "exec_jobs": 3,
            "schema": "struct<c_custkey:bigint,o_orderkey:bigint,o_totalprice:double>"},
        "monthly_order_stats": {"build_s": 0.08, "build_jobs": 1, "exec_s": 0.174, "exec_jobs": 2,
            "schema": "struct<order_month:string,n_orders:bigint,first_key:bigint,month_start:timestamp>"},
        "rolling_90d_revenue": {"build_s": 0.086, "build_jobs": 1, "exec_s": 0.205, "exec_jobs": 2,
            "schema": "struct<o_custkey:bigint,o_orderkey:bigint,o_orderdate:timestamp_ntz,rolling_rev:double>"},
        "doc_concat_token_offsets": {"build_s": 0.955, "build_jobs": 8, "exec_s": 0.061, "exec_jobs": 1,
            "schema": "struct<doc_id:bigint,n_tokens:bigint,start_offset:bigint,end_offset:bigint>"},
        "transition_entropy_rate": {"build_s": 1.278, "build_jobs": 10, "exec_s": 0.097, "exec_jobs": 2,
            "schema": "struct<prev_type:string,n_out:bigint,entropy_bits:double,weight:double>"},
        "cdc_user_versions": {"build_s": 0.165, "build_jobs": 1, "exec_s": 0.267, "exec_jobs": 4,
            "schema": "struct<user_id:bigint,latest_event_id:bigint,n_events:bigint,change_type:string>"},
        "customers_without_recent_orders": {"build_s": 0.146, "build_jobs": 2, "exec_s": 0.138, "exec_jobs": 2,
            "schema": "struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"},
        "order_price_percentiles": {"build_s": 0.086, "build_jobs": 1, "exec_s": 1.026, "exec_jobs": 2,
            "schema": "struct<o_orderpriority:string,n_orders:bigint,median_price:double,p90_price:double,min_price:double,max_price:double>"},
        "first_last_touch_attribution": {"build_s": 0.22, "build_jobs": 1, "exec_s": 0.978, "exec_jobs": 3,
            "schema": "struct<model:string,channel:string,n_purchases:bigint,revenue:double>"},
        "nation_pair_trade": {"build_s": 0.588, "build_jobs": 5, "exec_s": 0.824, "exec_jobs": 6,
            "schema": "struct<cust_nation:string,supp_nation:string,ship_year:int,volume:double>"},
    },
    "sweep_curation": {
        "dbscan_embedding_clusters": {"build_s": 10.227, "build_jobs": 72, "exec_s": 0.705, "exec_jobs": 8, "core": True,
            "schema": "struct<vec_id:bigint,role:string,cluster:bigint>"},
        "dedup_clusters": {"build_s": 4.905, "build_jobs": 36, "exec_s": 0.032, "exec_jobs": 1, "core": True,
            "schema": "struct<doc_id:bigint,cluster_rep:bigint>"},
        "full_curation_pipeline": {"build_s": 4.757, "build_jobs": 36, "exec_s": 0.25, "exec_jobs": 5, "core": True,
            "schema": "struct<lang:string,n_docs:bigint,total_tokens:bigint>"},
        "bpe_token_census": {"build_s": 2.275, "build_jobs": 20, "exec_s": 0.22, "exec_jobs": 2, "core": True,
            "schema": "struct<symbol:string,n_occurrences:bigint,rnk:int>"},
        "markov_stationary_events": {"build_s": 1.192, "build_jobs": 10, "exec_s": 1.218, "exec_jobs": 13, "core": True,
            "schema": "struct<event_type:string,stationary_prob:double,residual:double>"},
        "corpus_curation": {"build_s": 0.162, "build_jobs": 1, "exec_s": 0.481, "exec_jobs": 4,
            "schema": "struct<lang:string,n_docs:bigint,total_tokens:bigint,avg_tokens:double>"},
        "minhash_lsh_pairs": {"build_s": 0.181, "build_jobs": 1, "exec_s": 0.058, "exec_jobs": 1,
            "schema": "struct<id_a:bigint,id_b:bigint,jaccard:double>"},
        "cross_shard_dup_leakage": {"build_s": 0.214, "build_jobs": 1, "exec_s": 0.138, "exec_jobs": 2,
            "schema": "struct<n_dup_pairs:bigint,n_cross_shard:bigint,leakage_rate:double>"},
        "union_dedup_windows": {"build_s": 0.155, "build_jobs": 1, "exec_s": 0.348, "exec_jobs": 3,
            "schema": "struct<o_orderpriority:string,n_orders:bigint>"},
        "exact_substring_overlaps": {"build_s": 1.257, "build_jobs": 6, "exec_s": 0.027, "exec_jobs": 1,
            "schema": "struct<doc_a:bigint,doc_b:bigint,start_a:bigint,start_b:bigint,len_tokens:bigint>"},
        "dawid_skene_confusion": {"build_s": 2.514, "build_jobs": 12, "exec_s": 0.197, "exec_jobs": 1,
            "schema": "struct<annotator:int,true_class:string,observed_class:string,p_conf:double>"},
        "bradley_terry_strengths": {"build_s": 1.292, "build_jobs": 9, "exec_s": 0.163, "exec_jobs": 2,
            "schema": "struct<source:string,n_wins:bigint,n_duels:bigint,strength:double>"},
        "pca_top_component": {"build_s": 1.577, "build_jobs": 8, "exec_s": 0.322, "exec_jobs": 1,
            "schema": "struct<dim:int,loading:double,eigenvalue:double,explained_share:double>"},
        "near_dup_pairs_lsh": {"build_s": 0.17, "build_jobs": 1, "exec_s": 0.052, "exec_jobs": 1,
            "schema": "struct<doc_a:bigint,doc_b:bigint,jaccard:double>"},
        "ivf_recall_audit": {"build_s": 1.284, "build_jobs": 5, "exec_s": 1.296, "exec_jobs": 12,
            "schema": "struct<query_id:bigint,n_hits:bigint,recall_at_k:double>"},
        "simhash_pairs": {"build_s": 2.693, "build_jobs": 4, "exec_s": 0.237, "exec_jobs": 3,
            "schema": "struct<id_a:bigint,id_b:bigint,hamming:int>"},
        "curation_savings_report": {"build_s": 0.742, "build_jobs": 11, "exec_s": 0.044, "exec_jobs": 1,
            "schema": "struct<n_docs:bigint,total_chars:bigint,exact_removable_docs:bigint,exact_removable_chars:bigint,exact_char_share:double,neardup_pairs:bigint,neardup_affected_docs:bigint,neardup_doc_share:double>"},
        "holt_trend_daily_revenue": {"build_s": 0.246, "build_jobs": 1, "exec_s": 0.613, "exec_jobs": 3,
            "schema": "struct<day:string,level:double,trend:double>"},
        "semantic_dedup": {"build_s": 1.002, "build_jobs": 8, "exec_s": 0.485, "exec_jobs": 5,
            "schema": "struct<vec_id:bigint,centroid_id:int,keep:boolean>"},
        "pagerank_neardup_graph": {"build_s": 0.641, "build_jobs": 5, "exec_s": 0.837, "exec_jobs": 12,
            "schema": "struct<node:bigint,rank:double>"},
        "prefix_filter_jaccard_join": {"build_s": 0.572, "build_jobs": 6, "exec_s": 0.217, "exec_jobs": 4,
            "schema": "struct<name_a:string,name_b:string,n_common:bigint,n_union:bigint,jaccard:double>"},
        "perceptual_modality_agreement": {"build_s": 1.483, "build_jobs": 6, "exec_s": 0.431, "exec_jobs": 8,
            "schema": "struct<n_image_pairs:bigint,n_audio_pairs:bigint,n_both:bigint,n_image_only:bigint,n_audio_only:bigint>"},
        "int8_topk_recall": {"build_s": 0.619, "build_jobs": 3, "exec_s": 0.679, "exec_jobs": 8,
            "schema": "struct<query_id:bigint,n_common:bigint,recall_at_5:double>"},
        "exact_substring_dedup_docs": {"build_s": 0.203, "build_jobs": 1, "exec_s": 0.602, "exec_jobs": 9,
            "schema": "struct<doc_id:bigint,n_tokens:bigint,n_removed:bigint,n_kept:bigint,clean_text:string>"},
        "dedup_method_agreement": {"build_s": 0.393, "build_jobs": 4, "exec_s": 0.225, "exec_jobs": 9,
            "schema": "struct<n_minhash:bigint,n_simhash:bigint,n_common:bigint,pair_set_jaccard:double>"},
    },
}


def select(workload: str, seconds: float) -> dict[str, dict]:
    """The queries a run of ``seconds`` executes, in pinned order: every
    ``core`` query, then further queries while the profiled first-run
    seconds of the selection fit in ``seconds`` (at least one query)."""
    pinned = PINNED[workload]
    chosen = {n: q for n, q in pinned.items() if q.get("core")}
    spent = sum(q["build_s"] + q["exec_s"] for q in chosen.values())
    for name, q in pinned.items():
        if name in chosen:
            continue
        cost = q["build_s"] + q["exec_s"]
        if chosen and spent + cost > seconds:
            break
        chosen[name] = q
        spent += cost
    return {n: chosen[n] for n in pinned if n in chosen}
