"""The catalog entries each catalog workload runs, in the order they
run (sorted by name). Every entry here is checked against its
registered oracle SQL; see README.md for why each list holds what it
holds and which entries were left out."""

ENTRIES: dict[str, list[str]] = {
    "catalog_llm": sorted(
        [
            # plan-build bound: eager checkpoints and caches while building
            "docs_dup_clusters",
            "docs_pagerank",
            # shingle bound
            "docs_novelty",
            # builds a process-level cache
            "emb_hard_negatives",
            # exact top-k retrieval
            "emb_ndcg",
        ]
    ),
    "catalog_star": sorted(
        [f"q{i}_{n}" for i, n in enumerate(
            "pricing_summary min_cost_supplier top_orders priority_returns region_revenue "
            "forecast_revenue nation_trade market_share profit_by_nation_year "
            "returned_revenue_topk important_parts priority_by_status "
            "order_count_distribution promo_revenue top_supplier supplier_variety "
            "small_qty_revenue large_volume_customers disjunctive_revenue excess_supply "
            "waiting_suppliers dormant_customers".split(), start=1)]
        + [
            # the reference's star-schema event entries
            "events_daily_engagement",
            "events_dau_mau",
            "events_high_water_mark",
            "events_incremental_upsert",
            "events_rolling_7d",
            "events_sessionization",
            "events_user_deciles",
            "nation_yoy_revenue",
            "orders_market_basket",
        ]
    ),
}
