package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.battery.Battery

/** The query registry's key sets, checked without a Spark job: each
  * battery query is defined once, with its oracle and its gates. */
class RegistrySpec extends AnyFunSuite with Matchers {

  test("registry names are unique and there are 244 of them") {
    val names = Battery.all.map(_.name)
    names.distinct.size shouldBe names.size
    names.size shouldBe 244
  }

  test("every query has an oracle and every oracle a query") {
    SparkEntry.queries.keySet shouldBe SparkEntry.oracleSql.keySet
  }

  test("the audited check names are unchanged") {
    // the checks the audit ran before the registry, sorted as
    // `graft.Plans` prints them
    Plans.checkNames shouldBe Seq(
      "layout:zorder_file_stats", "no_nlj:fuzzy_name_pairs", "no_nlj:fuzzy_typo_lookup",
      "no_nlj:geo_buffer_contains", "no_nlj:geo_contains_join", "no_nlj:geo_geodesic_nearest",
      "no_nlj:geo_nearest_poi", "no_nlj:geo_radius_join", "no_nlj:geo_tiling_adjacency_join",
      "no_nlj:range_join_price_bands", "no_nlj:session_overlap_join",
      "no_shuffle:distance_dispatch", "no_shuffle:geo_covers_boundary",
      "no_shuffle:geo_geodesic_antimeridian", "no_shuffle:geo_geodesic_azimuth",
      "no_shuffle:geo_geodesic_buffer", "no_shuffle:geo_geodesic_dwithin",
      "no_shuffle:geo_geodesic_measures", "no_shuffle:geo_geodesic_spheroid",
      "no_shuffle:geo_line_distance", "no_shuffle:geo_polygon_contains",
      "no_shuffle:geo_polygon_stats", "no_shuffle:repetition_signals_perrow",
      "no_shuffle:sample_split_assign", "no_shuffle:sample_weighted_len",
      "no_shuffle:text_script_profile", "no_shuffle:url_canonicalize",
      "no_shuffle:winnow_profile", "no_window:fuzzy_name_components", "reuse:bigram_logppl",
      "reuse:event_top_paths", "reuse:q21_waiting_suppliers", "shape:ann_batch_topk",
      "shape:ann_binary_topk", "shape:ann_ivf_topk", "shape:bigram_logppl", "shape:cdc_chunks",
      "shape:compound_setalgebra", "shape:contamination_rate_report",
      "shape:corpus_contamination", "shape:corpus_mix_report", "shape:distinct_kmv",
      "shape:distinct_overlap", "shape:doc_top_terms", "shape:event_funnel",
      "shape:event_funnel_cycles", "shape:event_props_stats", "shape:events_cube",
      "shape:events_rolling_avg", "shape:geo_clip_area", "shape:geo_extent_by_nation",
      "shape:geo_fence_hourly", "shape:geo_polygon_intersects", "shape:geo_tile_pruned_scan",
      "shape:hash_features", "shape:heavy_hitters", "shape:hybrid_search_rrf",
      "shape:index_bsq_knn", "shape:knn_doc_lookup", "shape:knn_manhattan",
      "shape:knn_rerank_half", "shape:knn_sparse", "shape:kv_point_lookup",
      "shape:maxsim_ivf_topk", "shape:neardup_keep_best", "shape:pack_chunk_rows",
      "shape:partition_pruned_scan", "shape:predicate_in_lt", "shape:projection_filter",
      "shape:q13_order_distribution", "shape:q14_promo_revenue", "shape:q15_top_supplier",
      "shape:q17_small_quantity_revenue", "shape:q18_large_orders", "shape:q1_agg",
      "shape:q20_excess_suppliers", "shape:q22_idle_balance", "shape:q3_shipping",
      "shape:q4_order_priority", "shape:q5_region_revenue", "shape:q6_forecast_revenue",
      "shape:q8_market_share", "shape:q9_product_profit", "shape:quality_adaptive_length",
      "shape:repeated_chunks", "shape:repetition_signals_perrow",
      "shape:sample_temperature_mix", "shape:sample_token_budget", "shape:semantic_dedup",
      "shape:set_intersect", "shape:strip_repeated_chunks", "shape:text_bm25",
      "shape:text_index_bm25", "shape:text_nfc_normalize", "shape:unigram_logppl",
      "shape:url_blocklist_filter", "shape:url_domain_cap", "shape:winnow_neardup",
      "shape:zorder_pruned_scan", "window:event_asof_attribution")
  }

  test("every gate belongs to a registered query") {
    val gated = Plans.checkNames.filterNot(_.startsWith("layout:")).map(_.split(':')(1))
    (gated.toSet -- SparkEntry.queries.keySet) shouldBe empty
    Plans.auditPlanNames.toSet shouldBe gated.toSet
  }
}
