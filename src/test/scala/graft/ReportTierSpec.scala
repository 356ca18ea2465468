package graft

/** Guards the ReportTier membership invariant (round-15 verdict
  * item 4): the scaladoc claim "every registry query whose closure
  * reads only base tables is listed" is load-bearing for both perf
  * and audit, so it must be CHECKED, not asserted in prose.
  *
  *  - every ReportTier.Tables key is a real registry query;
  *  - every query is either listed in Tables or pinned in the
  *    documented exclusion set below — a NEW query added to a family
  *    file without a tier decision fails this spec instead of
  *    silently missing the wrap;
  *  - every declared bound table exists in the testdata dirs and is
  *    drawn from the known base-table vocabulary;
  *  - the derivation is identity when the input bound derives the
  *    full width (lineitem), and the narrow child it hands out
  *    carries exactly the derived confs.
  */
class ReportTierSpec extends SparkSpec {

  /** Queries deliberately NOT wrapped, by reason class (ReportTier
    * scaladoc + BASELINE.md round-15 sweep ledger). Adding a query to
    * the registry requires either a Tables entry or a line here.
    */
  val PinnedExclusions: Set[String] = Set(
    // lineitem-bound star-schema tier: their 600k-row bound honestly
    // derives the full width — wrapping them would be a literal tuned
    // to one scale factor (BASELINE.md round-15 sweep batch 5).
    "q1_pricing_summary", "q3_top_revenue_orders", "q4_priority_counts",
    "q5_region_revenue", "q6_forecast_revenue", "q7_nation_volume",
    "q8_market_share", "q9_nation_profit", "q10_returned_revenue",
    "q12_priority_class", "q14_promo_revenue", "q15_top_supplier",
    "q17_small_quantity", "q18_large_orders", "q19_disjunctive_revenue",
    "q20_concentrated_suppliers", "q21_waiting_suppliers",
    // served / (session, dir)-keyed fixture caches: a second session
    // would rebuild the fixture and double its cost.
    "l2_fts_search", "l6_fts_ranked", "l7_fts_bm25", "l13_query_expansion",
    "l14_spell_search", "l15_bm25f",
    "n9_dup_clusters", "n11_cluster_sizes", "n24_keep_best",
    "n17_source_overlap", "n22_index_append",
    "c18_leakage_audit", "t20_bpe_encode", "t24_bpe_apply",
    "t25_bpe_tokens", "t15_pair_counts" /* also a measured exception */,
    "n34s_knn_sampled_recall", "n37_graph_append", "d3_card_merge",
    "b1_bucketed_revenue", "b2_partition_pruned",
    "k11_time_travel" /* measured neutral, sweep batch 4 */,
    // own-session tiers: streaming children (stChild) and the graph
    // walks size their own sessions from observed state volume.
    "st6_stream_mor", "st7_stream_asof", "st8_stream_hll",
    "st9_stream_dedup", "st10_stream_join", "st11_stream_cms",
    "n35_graph_ann", "n36_graph_ann_batch",
    // measured exceptions: the derived narrow+noAQE arm regressed
    // (WidthSweepProbe round-15: +3…+7%); h6c/h7/h8 measured
    // neutral-or-worse and h6c's perf ledger is closed.
    "m1_binary_meta", "m2_media_histogram", "n7_embedding_neardup",
    "n19_hashed_embed",
    "h6c_pagerank_converged", "h7_seeded_rank", "h8_hits")

  val BaseTables: Set[String] = Set("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  test("every Tables key is a registry query") {
    val unknown = ReportTier.Tables.keySet -- SparkEntry.rawQueries.keySet
    assert(unknown.isEmpty,
      s"ReportTier.Tables names unknown queries: ${unknown.toSeq.sorted}")
  }

  test("every registry query is tiered: listed or pinned-excluded") {
    val all = SparkEntry.rawQueries.keySet
    val unlisted = all -- ReportTier.Tables.keySet
    val undecided = unlisted -- PinnedExclusions
    assert(undecided.isEmpty,
      "new registry queries need a ReportTier decision (Tables entry " +
        s"or pinned exclusion): ${undecided.toSeq.sorted}")
    val stale = PinnedExclusions -- unlisted
    assert(stale.isEmpty,
      s"pinned exclusions that are listed or gone: ${stale.toSeq.sorted}")
  }

  test("declared bound tables exist and are base tables") {
    val declared = ReportTier.Tables.values.flatten.toSet
    assert((declared -- BaseTables).isEmpty,
      s"non-base bound tables: ${(declared -- BaseTables).toSeq.sorted}")
    declared.foreach { t =>
      assert(new java.io.File(s"$sfSmoke/$t.parquet").exists(),
        s"bound table missing from $sfSmoke: $t")
    }
  }

  test("derivation is identity when the bound derives full width") {
    // lineitem's row count derives a width ≥ this session's default
    // parallelism at every sf — the wrap must hand back the SAME
    // session object (no child, AQE untouched). NOTE: on the 2-core
    // test session stateWidth's floor of 4 makes this identity hold
    // for every table — session MECHANICS only; the derivation
    // itself is guarded by the pure-function test below (round-16
    // review: the original assert was vacuous at parallelism 2).
    val child = RegistryFixtures.reportChild(spark, sfSmoke, "lineitem")
    assert(child eq spark)
  }

  test("width derivation at the production bounds (pure function)") {
    // The values ReportTier's scaladoc promises at sf0.1 on the
    // 32-core bench session — a regression here would wrap the
    // lineitem-joining star tier in a narrow AQE-off child at
    // production width (the round-15 bug class the wrap was designed
    // to never hit) without any session in the loop.
    import graft.streaming.StreamingOps.stateWidth
    assert(stateWidth(600000L) == 32) // lineitem sf0.1 → full width
    assert(stateWidth(100000L) == 8) // events → w8
    assert(stateWidth(5000L) == 4) // documents → w4
    assert(stateWidth(1L) == 4) // floor
    assert(stateWidth(10000000L) >= stateWidth(600000L)) // monotone
    // and the real bound feeding the derivation: lineitem's footer
    // count at the smoke sf is the table's actual row count
    assert(RegistryFixtures.footerRows(spark,
      Tables.path(sfSmoke, "lineitem")) > 0)
  }

  test("narrow child carries exactly the derived confs") {
    val c = RegistryFixtures.stChild(spark, 4, aqe = false)
    assert(c ne spark)
    assert(c.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(c.conf.get("spark.sql.adaptive.enabled") == "false")
    // parent session is untouched by the child's confs
    assert(spark.conf.get("spark.sql.adaptive.enabled") != "false")
    // cached: same (parent, width, aqe) key returns the same child
    assert(RegistryFixtures.stChild(spark, 4, aqe = false) eq c)
  }
}
