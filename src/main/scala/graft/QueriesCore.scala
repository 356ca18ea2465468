package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Sorting.ResultSortOps
import graft.RegistryFixtures._

/** Query registry — the reference surface (SURVEY §2 P/F/J/A/O tiers), star-schema
  * revenue queries (b/q), window analytics (w), XML (x1) and URL
  * canonicalization (u1).
  *
  * Split out of SparkEntry (round-10 verdict item 7); entries and
  * oracle twins are verbatim, SparkEntry concatenates the families.
  */
object QueriesCore {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference surface (SURVEY §2) over documents/events ----
    "p3_search_ilike" -> ((s, dir) => {
      ReferenceOps.search(
        Tables.documents(s, dir),
        query = Some("window"),
        textCols = Seq("text", "source"),
        equalityFilters = Map.empty,
        orderCol = "doc_id", tiebreakers = Seq.empty, limit = 100)
        .select("doc_id", "source", "lang", "n_chars")
    }),

    "p4_search_filters" -> ((s, dir) => {
      ReferenceOps.search(
        Tables.events(s, dir),
        query = None,
        textCols = Seq.empty,
        equalityFilters = Map("event_type" -> "click"),
        orderCol = "ts", tiebreakers = Seq("event_id"), limit = 50)
        .filter(col("value") > 100.0)
        .select("event_id", "ts", "user_id", "value")
        .orderBy(col("ts").desc, col("event_id").asc)
    }),

    "p6_where_passthrough" -> ((s, dir) => {
      ReferenceOps.whereClause(
        Tables.events(s, dir),
        "event_type = 'purchase' AND value >= 50.0")
        .select("event_id", "user_id", "value")
        .orderBy(col("event_id").asc)
    }),

    "p9_distinct_sources" -> ((s, dir) =>
      ReferenceOps.distinctValues(Tables.documents(s, dir), "source")),

    "a1_source_stats" -> ((s, dir) =>
      ReferenceOps.sourceStats(Tables.documents(s, dir),
        key = "source", distinctCol = "lang", avgCol = "n_chars",
        spanCol = "doc_id")),

    "a2_type_counts" -> ((s, dir) =>
      ReferenceOps.typeCounts(Tables.events(s, dir), "event_type")),

    "a3_two_key_stats" -> ((s, dir) =>
      ReferenceOps.twoKeyStats(Tables.documents(s, dir),
        k1 = "source", k2 = "lang", maxCol = "doc_id")),

    "j1_latest_per_key" -> ((s, dir) =>
      ReferenceOps.latestPerKey(Tables.events(s, dir),
        key = "user_id", orderCol = "ts", tiebreaker = "event_id")
        .select("user_id", "event_id", "event_type", "ts")
        .orderBy(col("user_id").asc)),

    // u1: URL canonicalization — four messy rendered variants per doc
    // (mixed case, default port, utm_* params, fragment, shuffled
    // param order) must collapse to THREE canonical forms per doc:
    // port stripping is scheme-aware (round-8 ADVICE), so https:443
    // and http:80 strip while http:443 (a distinct origin) survives;
    // the oracle computes the expected canonical strings directly, so
    // canonicalize(render(x)) is proven the identity (x1's pattern).
    "u1_url_canonical" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val variants = docs.select(col("source"), explode(array(
        concat(lit("HTTPS://ExAmple.COM:443/d/"), col("doc_id"),
          lit("?utm_source=feed&b=2&a=1#frag")),
        concat(lit("https://example.com/d/"), col("doc_id"),
          lit("?a=1&b=2&utm_campaign=x")),
        concat(lit("http://ExAmple.COM:80/d/"), col("doc_id"),
          lit("#frag")),
        concat(lit("http://example.com:443/d/"), col("doc_id"),
          lit("?b=2&a=1")))).as("url"))
      TextOps.urlDedupReport(variants, "source", "url")
    }),


    // ---- JSON / predicate / status / multimodal surface ----
    "f4_json_extract" -> ((s, dir) =>
      ReferenceOps.jsonExtractStats(Tables.events(s, dir),
        "event_type", "props", "$.k")),

    "p7_array_contains" -> ((s, dir) =>
      ReferenceOps.arrayContainsCount(Tables.documents(s, dir),
        "source", "text", "spark")),

    "p8_ts_filter" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("ts") >= lit("2024-01-02").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .resultSorted(col("event_type").asc)),


    // ---- remaining §2 aggregate/sort shapes ----
    "a5_filtered_agg" -> ((s, dir) =>
      Tables.documents(s, dir)
        .filter(col("n_chars") >= 200)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .resultSorted(col("n_docs").desc, col("source").asc)),

    "a7_totals" -> ((s, dir) =>
      Tables.documents(s, dir)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("source")).as("n_sources"))),

    "o4_truncate" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.Render.truncated(col("text"), 200).as("preview"))
        .orderBy(col("doc_id").asc)
        .limit(50)),


    // ---- star-schema join/agg extension suite ----
    "q1_pricing_summary" -> ((s, dir) =>
      StarSchemaOps.pricingSummary(s, dir)),

    "q3_top_revenue_orders" -> ((s, dir) =>
      StarSchemaOps.topRevenueOrders(s, dir)),

    "q5_region_revenue" -> ((s, dir) =>
      StarSchemaOps.regionRevenue(s, dir)),

    "o1_top_orders" -> ((s, dir) =>
      StarSchemaOps.topOrdersByPrice(s, dir, 20)),

    "w1_top_orders_per_customer" -> ((s, dir) =>
      StarSchemaOps.topOrdersPerCustomer(s, dir)),

    "q4_priority_counts" -> ((s, dir) =>
      StarSchemaOps.priorityCounts(s, dir)),

    "q6_forecast_revenue" -> ((s, dir) =>
      StarSchemaOps.forecastRevenue(s, dir)),

    // q10/w3/a11 (+ e4/e5 in QueriesPipeline) run in the AQE-off
    // narrow-shuffle child (stChild): sub-second report plans
    // whose cost was the per-exchange job floor, not compute.
    "q10_returned_revenue" -> ((s, dir) =>
      StarSchemaOps.returnedRevenue(stChild(s, 8, aqe = false), dir)),

    "a8_rollup" -> ((s, dir) =>
      ReferenceOps.rollupCounts(Tables.documents(s, dir),
        "source", "lang")),

    "q14_promo_revenue" -> ((s, dir) =>
      StarSchemaOps.promoRevenue(s, dir)),

    "a9_cube" -> ((s, dir) =>
      Tables.documents(s, dir)
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"),
          grouping(col("source")).cast("int").as("g1"),
          grouping(col("lang")).cast("int").as("g2"))
        .select(
          coalesce(col("source"), lit("<all>")).as("source"),
          coalesce(col("lang"), lit("<all>")).as("lang"),
          col("g1"), col("g2"), col("cnt"))
        .orderBy(col("g1").asc, col("g2").asc,
          col("source").asc, col("lang").asc)),

    "j2_asof_join" -> ((s, dir) =>
      ReferenceOps.asOfJoin(Tables.events(s, dir),
        keyCol = "user_id", tsCol = "ts", tiebreaker = "event_id",
        typeCol = "event_type", leftType = "click",
        rightType = "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_ts"))
        .orderBy(col("event_id").asc)),

    // w5: batch gap-sessionization — lag-marked breaks + running
    // session numbering in one (user) exchange; the batch twin of
    // the st3/st4 streaming session windows.
    "w5_sessionize" -> ((s, dir) =>
      AnalyticsOps.sessionize(Tables.events(s, dir),
        keyCol = "user_id", tsCol = "ts", tiebreaker = "event_id",
        gapMinutes = 30)),

    "w2_running_totals" -> ((s, dir) =>
      AnalyticsOps.runningTotals(
        Tables.events(s, dir).filter(col("event_type") === "purchase"),
        key = "user_id", tsCol = "ts", tiebreaker = "event_id",
        valueCol = "value")),

    "a10_grouping_sets" -> ((s, dir) =>
      AnalyticsOps.groupingSetCounts(Tables.documents(s, dir),
        "source", "lang")),

    "o5_pagination" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(100).limit(50)),

    // o6: KEYSET pagination — the scale-correct page fetch. OFFSET n
    // sorts and discards n rows per page (page cost grows with page
    // number); the keyset form seeks past the previous page's last
    // (sort-key, tiebreak) cursor with a pushable predicate, so every
    // page costs one pruned scan + top-k regardless of depth.
    "o6_keyset_page" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_totalprice") < lit(355000.0) ||
          (col("o_totalprice") === lit(355000.0) &&
            col("o_orderkey") > lit(0L)))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(50)),

    "f5_ship_latency" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      // orders broadcasts at runtime, so join + datediff + partial agg
      // all run in the lineitem scan stage — FanOut un-serializes the
      // under-split scan (3 tasks carried 872 ms of the wall).
      val li = graft.FanOut.byKey(
        Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate"),
        col("l_orderkey"))
      val days = datediff(col("l_shipdate"), col("o_orderdate"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          round(avg(days), 6).as("avg_days"),
          max(days).as("max_days"))
        .resultSorted(col("o_orderpriority").asc)
    }),


    // ---- further star-schema join/agg shapes ----
    "q12_priority_class" -> ((s, dir) =>
      StarSchemaOps.lineStatusPriorityCounts(s, dir)),

    "q18_large_orders" -> ((s, dir) =>
      StarSchemaOps.largeQuantityOrders(s, dir, minQty = 250.0, k = 20)),

    "q19_disjunctive_revenue" -> ((s, dir) =>
      StarSchemaOps.disjunctiveRevenue(s, dir)),

    "q15_top_supplier" -> ((s, dir) =>
      StarSchemaOps.topSuppliersByRevenue(s, dir)),

    "q7_nation_volume" -> ((s, dir) =>
      StarSchemaOps.nationVolume(s, dir, "NATION_3", "NATION_7")),

    "q8_market_share" -> ((s, dir) =>
      StarSchemaOps.marketShare(s, dir,
        supplierNation = "NATION_3", regionName = "ASIA",
        partType = "STANDARD")),

    "q22_lost_customers" -> ((s, dir) =>
      StarSchemaOps.lostCustomers(s, dir)),

    "q17_small_quantity" -> ((s, dir) =>
      StarSchemaOps.smallQuantityRevenue(s, dir,
        brand = "Brand#5", maxSize = 10)),

    "q13_order_distribution" -> ((s, dir) =>
      StarSchemaOps.orderCountDistribution(s, dir)),

    "q21_waiting_suppliers" -> ((s, dir) =>
      StarSchemaOps.waitingSuppliers(s, dir)),

    "b1_bucketed_revenue" -> ((s, dir) =>
      BucketedOps.bucketedRevenue(s, dir)),

    "b2_partition_pruned" -> ((s, dir) =>
      BucketedOps.partitionPrunedStats(s, dir, lang = "en")),

    // w3: ranking-function variety over one window (dense_rank for
    // ties, ntile quartiles, percent_rank) — one shuffle on the
    // partition key, every function shares the same sort
    "w3_order_rank_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(stChild(s, 8, aqe = false), dir)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"),
          dense_rank().over(w).as("drank"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("prank"))
        .filter(col("drank") <= 5)
        .resultSorted(col("o_orderpriority").asc, col("drank").asc,
          col("o_orderkey").asc)
    }),

    "q9_nation_profit" -> ((s, dir) =>
      StarSchemaOps.nationProfit(s, dir)),

    "q11_nation_balance" -> ((s, dir) =>
      StarSchemaOps.topNationsByBalance(s, dir)),

    "q16_supplier_diversity" -> ((s, dir) =>
      StarSchemaOps.supplierDiversity(s, dir)),

    "q20_concentrated_suppliers" -> ((s, dir) =>
      StarSchemaOps.concentratedSuppliers(s, dir)),

    // w7: GAP-FILLED daily series — the date spine makes missing
    // days explicit zero rows for a sparse event subset.
    "w7_gapfill" -> ((s, dir) =>
      AnalyticsOps.gapFillDaily(Tables.events(s, dir),
        keyCol = "event_type", tsCol = "ts",
        rowFilter = col("value") > lit(24.0))),

    // w6: COHORT RETENTION — users cohorted by first-event week,
    // distinct-active per week offset; the count-distinct is a
    // pre-grouped aggregate, never distinct state.
    "w6_cohort_retention" -> ((s, dir) =>
      AnalyticsOps.cohortRetention(Tables.events(s, dir),
        userCol = "user_id", tsCol = "ts")),

    // a11: FUNNEL — strictly-ordered signup → click → purchase
    // conversion; per-step anchors are earliest qualifying
    // occurrences, join inputs shrink monotonically.
    "a11_funnel" -> ((s, dir) =>
      AnalyticsOps.funnel(Tables.events(stChild(s, 8, aqe = false), dir),
        userCol = "user_id", tsCol = "ts", typeCol = "event_type",
        steps = Seq("signup", "click", "purchase"))),

    // m4: content-hash dedup of binary assets — the multimodal twin
    // of n2; payload bytes never shuffle.
    // x1: structured-filing extraction — XBRL-ish payloads rendered
    // from the documents table, parsed back through Spark's NATIVE
    // from_xml (attributes + repeated fact elements), exploded and
    // rolled up per (entity, fact). Parse runs in the scan stage on
    // executors; the oracle computes the rollup straight off the base
    // table, proving the parser round-trip (the m2 pattern).
    "x1_xml_extract" -> ((s, dir) =>
      graft.operators.XmlOps.extractFilings(
        graft.operators.XmlOps.filingPayload(Tables.documents(s, dir)))),

    "q2_min_cost_supplier" -> ((s, dir) =>
      StarSchemaOps.minCostSuppliers(s, dir)),

    // w4: time-based RANGE frame (trailing 1 hour per user) — the one
    // frame type w1–w3 don't cover; ordered on integral epoch seconds
    // so the frame bound is engine-exact.
    "w4_time_range_avg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          count(lit(1)).over(w).as("n_1h"),
          round(avg(col("value")).over(w), 6).as("avg_1h"))
        .orderBy(col("event_id").asc)
    }))

  def oracleSql: Map[String, String] = Map(
    // u1: the oracle renders the EXPECTED canonical forms directly —
    // the two https variants collapse onto one form, http:80 strips,
    // http:443 (distinct origin, scheme-aware strip) survives as-is.
    "u1_url_canonical" ->
      """WITH c AS (
        |  SELECT source, unnest([
        |    'https://example.com/d/' || doc_id || '?a=1&b=2',
        |    'https://example.com/d/' || doc_id || '?a=1&b=2',
        |    'http://example.com/d/' || doc_id,
        |    'http://example.com:443/d/' || doc_id || '?a=1&b=2']) AS cu
        |  FROM documents)
        |SELECT source, count(*)::BIGINT AS n_variants,
        |  count(DISTINCT cu) AS n_canonical,
        |  min(cu) AS min_canonical
        |FROM c GROUP BY source ORDER BY source ASC""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.05
        |  AND l_quantity < 24""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT
        |  round(sum(CASE WHEN p_type = 'PROMO'
        |            THEN l_extendedprice * (1 - l_discount)
        |            ELSE 0.0 END), 4) AS promo_revenue,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4)
        |    AS total_revenue,
        |  round(sum(CASE WHEN p_type = 'PROMO'
        |            THEN l_extendedprice * (1 - l_discount)
        |            ELSE 0.0 END) * 100.0
        |        / sum(l_extendedprice * (1 - l_discount)), 6)
        |    AS promo_pct
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1997-06-01'
        |  AND l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin,

    "a9_cube" ->
      """SELECT coalesce(source, '<all>') AS source,
        |  coalesce(lang, '<all>') AS lang,
        |  (CASE WHEN grouping(source) THEN 1 ELSE 0 END) AS g1,
        |  (CASE WHEN grouping(lang) THEN 1 ELSE 0 END) AS g2,
        |  count(*) AS cnt
        |FROM documents GROUP BY CUBE (source, lang)
        |ORDER BY g1 ASC, g2 ASC, source ASC, lang ASC""".stripMargin,

    "j2_asof_join" ->
      """WITH t AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS asof_ts
        |  FROM events WHERE event_type IN ('click', 'purchase'))
        |SELECT event_id, user_id, ts, asof_ts FROM t
        |WHERE event_type = 'purchase'
        |ORDER BY event_id ASC""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem, orders, customer, nation
        |WHERE l_returnflag = 'R'
        |  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "a8_rollup" ->
      """SELECT coalesce(source, '<all>') AS source,
        |  coalesce(lang, '<all>') AS lang,
        |  (CASE WHEN grouping(source) THEN 1 ELSE 0 END) AS g1,
        |  (CASE WHEN grouping(lang) THEN 1 ELSE 0 END) AS g2,
        |  count(*) AS cnt
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY g1 ASC, g2 ASC, source ASC, lang ASC""".stripMargin,

    "f4_json_extract" ->
      """SELECT event_type, count(*) AS cnt,
        |  round(avg(json_extract_string(props, '$.k')::INT), 6) AS avg_v,
        |  min(json_extract_string(props, '$.k')::INT) AS min_v,
        |  max(json_extract_string(props, '$.k')::INT) AS max_v
        |FROM events GROUP BY event_type
        |ORDER BY event_type ASC""".stripMargin,

    "p7_array_contains" ->
      """SELECT source, count(*) AS cnt FROM documents
        |WHERE list_contains(string_split(text, ' '), 'spark')
        |GROUP BY source ORDER BY source ASC""".stripMargin,

    "p8_ts_filter" ->
      """SELECT event_type, count(*) AS cnt,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events WHERE ts >= TIMESTAMP '2024-01-02'
        |GROUP BY event_type ORDER BY event_type ASC""".stripMargin,

    "a5_filtered_agg" ->
      """SELECT source, count(*) AS n_docs,
        |  round(avg(n_chars), 6) AS avg_chars
        |FROM documents WHERE n_chars >= 200
        |GROUP BY source
        |ORDER BY n_docs DESC, source ASC""".stripMargin,

    "a7_totals" ->
      """SELECT count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
        |  count(DISTINCT source) AS n_sources FROM documents""".stripMargin,

    "o4_truncate" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) > 200
        |       THEN substr(text, 1, 200) || '...'
        |       ELSE text END AS preview
        |FROM documents ORDER BY doc_id ASC LIMIT 50""".stripMargin,

    "p3_search_ilike" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE (text ILIKE '%window%' OR source ILIKE '%window%')
        |ORDER BY doc_id DESC LIMIT 100""".stripMargin,

    "p4_search_filters" ->
      """SELECT event_id, ts, user_id, value FROM (
        |  SELECT event_id, ts, user_id, value FROM events
        |  WHERE event_type = 'click'
        |  ORDER BY ts DESC, event_id ASC LIMIT 50
        |) WHERE value > 100.0 ORDER BY ts DESC, event_id ASC""".stripMargin,

    "p6_where_passthrough" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' AND value >= 50.0
        |ORDER BY event_id ASC""".stripMargin,

    "p9_distinct_sources" ->
      "SELECT DISTINCT source FROM documents ORDER BY source ASC",

    "a1_source_stats" ->
      """SELECT source, count(*) AS record_count,
        |  count(DISTINCT lang) AS distinct_types,
        |  avg(n_chars) AS avg_size,
        |  min(doc_id) AS first_ingested, max(doc_id) AS last_ingested
        |FROM documents GROUP BY source
        |ORDER BY record_count DESC, source ASC""".stripMargin,

    "a2_type_counts" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, event_type ASC""".stripMargin,

    "a3_two_key_stats" ->
      """SELECT source, lang, count(*) AS cnt, max(doc_id) AS last_seen
        |FROM documents GROUP BY source, lang
        |ORDER BY source ASC, cnt DESC, lang ASC""".stripMargin,

    "j1_latest_per_key" ->
      """SELECT user_id, event_id, event_type, ts FROM (
        |  SELECT user_id, event_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY user_id ASC""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2)
        |    AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_extendedprice) AS avg_price,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag ASC, l_linestatus ASC""".stripMargin,

    "q3_top_revenue_orders" ->
      """SELECT l_orderkey, o_orderdate,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > TIMESTAMP '1999-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "o1_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "w1_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC)
        |      AS rank
        |  FROM orders
        |) WHERE rank <= 3 ORDER BY o_custkey ASC, rank ASC""".stripMargin,

    "q4_priority_counts" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin,

    // w7: generate_series spine × key domain, left join, zero fill.
    "w7_gapfill" ->
      """WITH sparse AS (
        |  SELECT event_type, ts::DATE AS day, count(*) AS cnt
        |  FROM events WHERE value > 24.0
        |  GROUP BY event_type, day),
        |bounds AS (
        |  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1
        |  FROM events),
        |spine AS (
        |  SELECT event_type, day::DATE AS day FROM (
        |    SELECT k.event_type, unnest(generate_series(d0, d1,
        |      INTERVAL 1 DAY)) AS day
        |    FROM (SELECT DISTINCT event_type FROM events) k
        |    CROSS JOIN bounds))
        |SELECT s.event_type, s.day::TIMESTAMP AS day,
        |  coalesce(sp.cnt, 0)::BIGINT AS cnt
        |FROM spine s LEFT JOIN sparse sp
        |  ON sp.event_type = s.event_type AND sp.day = s.day
        |ORDER BY s.event_type ASC, s.day ASC""".stripMargin,

    // w6: date_trunc week + exact integer day-diff / 7 in both
    // engines.
    "w6_cohort_retention" ->
      """WITH fw AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY user_id),
        |act AS (
        |  SELECT DISTINCT e.user_id, fw.cohort_week,
        |    (date_diff('day', fw.cohort_week::DATE,
        |       date_trunc('week', e.ts)::DATE) // 7)::INT
        |      AS week_offset
        |  FROM events e JOIN fw ON e.user_id = fw.user_id)
        |SELECT cohort_week, week_offset, count(*) AS n_active
        |FROM act GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week ASC, week_offset ASC""".stripMargin,

    // a11: per-step CTEs anchored at the earliest qualifying ts.
    "a11_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT 1::INT AS step, 'signup' AS step_name,
        |  count(*) AS n_users FROM s1
        |UNION ALL SELECT 2::INT, 'click', count(*) FROM s2
        |UNION ALL SELECT 3::INT, 'purchase', count(*) FROM s3
        |ORDER BY step ASC""".stripMargin,

    "w2_running_totals" ->
      """SELECT user_id, event_id, ts,
        |  round(sum(value) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS running_value,
        |  coalesce(epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC), 0)
        |    AS gap_us
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id ASC, ts ASC, event_id ASC""".stripMargin,

    "o5_pagination" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 50 OFFSET 100""".stripMargin,

    "o6_keyset_page" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice < 355000.0
        |   OR (o_totalprice = 355000.0 AND o_orderkey > 0)
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 50""".stripMargin,

    "f5_ship_latency" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  round(avg(date_diff('day', o_orderdate, l_shipdate)), 6)
        |    AS avg_days,
        |  max(date_diff('day', o_orderdate, l_shipdate)) AS max_days
        |FROM lineitem, orders WHERE l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority ASC""".stripMargin,

    "a10_grouping_sets" ->
      """SELECT coalesce(source, '<all>') AS source,
        |  coalesce(lang, '<all>') AS lang,
        |  (CASE WHEN grouping(source) THEN 1 ELSE 0 END) AS g1,
        |  (CASE WHEN grouping(lang) THEN 1 ELSE 0 END) AS g2,
        |  count(*) AS cnt
        |FROM documents GROUP BY GROUPING SETS ((source), (lang))
        |ORDER BY g1 ASC, g2 ASC, source ASC, lang ASC""".stripMargin,

    "q12_priority_class" ->
      """SELECT l_linestatus,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END)::BIGINT AS high_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END)::BIGINT AS low_count
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus ASC""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |SELECT o_orderkey, c_custkey, c_name, o_orderdate, o_totalprice,
        |  total_qty
        |FROM big, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q19_disjunctive_revenue" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4)
        |    AS revenue
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND (
        |  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 20) OR
        |  (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
        |    AND l_quantity BETWEEN 10 AND 30) OR
        |  (p_brand = 'Brand#7' AND p_size BETWEEN 20 AND 50
        |    AND l_quantity BETWEEN 20 AND 40))""".stripMargin,

    // c5: shard = floor(tokens-before-this-doc / budget) over the
    // per-source doc_id-ordered stream; token convention is the c1/t1
    // whitespace split, so both sides count identically.
    // w5: same window composition stated in SQL; exact-integer gap
    // arithmetic in microseconds on both sides.
    "w5_sessionize" ->
      """WITH f AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |            > 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |g AS (
        |  SELECT user_id, sid, count(*) AS n_events,
        |    epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        |  FROM s GROUP BY user_id, sid)
        |SELECT n_events, count(*) AS n_sessions,
        |  sum(dur_us)::BIGINT AS total_dur_us,
        |  round(sum(dur_us)::DOUBLE / count(*), 6) AS avg_dur_us
        |FROM g GROUP BY n_events ORDER BY n_events ASC""".stripMargin,

    "q17_small_quantity" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand = 'Brand#5' AND p_size <= 10
        |  AND l_quantity < (
        |    SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "b2_partition_pruned" ->
      """SELECT source, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  max(doc_id) AS last_doc
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source ASC""".stripMargin,

    "w3_order_rank_stats" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  drank, quartile, prank
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    dense_rank() OVER w AS drank,
        |    ntile(4) OVER w AS quartile,
        |    round(percent_rank() OVER w, 6) AS prank
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey ASC))
        |WHERE drank <= 5
        |ORDER BY o_orderpriority ASC, drank ASC, o_orderkey ASC""".stripMargin,

    // b1 runs over the bucketed-at-rest tables; results are layout-
    // independent, so the oracle reads the plain parquet. The sum is
    // exact integer money units on both sides (inputs are cents-
    // grain): association-independent, one deterministic division.
    "b1_bucketed_revenue" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS DOUBLE) / 10000 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC""".stripMargin,

    "q9_nation_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  round(sum(l_extendedprice * (1 - l_discount)
        |            - l_tax * l_extendedprice), 4) AS profit
        |FROM lineitem, orders, supplier, nation
        |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin,

    "q11_nation_balance" ->
      """SELECT n_name, round(sum(s_acctbal), 4) AS total_bal
        |FROM supplier, nation WHERE s_nationkey = n_nationkey
        |GROUP BY n_name
        |HAVING sum(s_acctbal) >
        |  (SELECT sum(s_acctbal) FROM supplier) * 0.04
        |ORDER BY total_bal DESC, n_name ASC""".stripMargin,

    "q16_supplier_diversity" ->
      """SELECT p_brand, p_type,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM part, lineitem
        |WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#5'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type
        |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC""".stripMargin,

    "q20_concentrated_suppliers" ->
      """WITH sp AS (
        |  SELECT l_suppkey,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |          AND l_shipdate < TIMESTAMP '1998-01-01'
        |        THEN l_quantity ELSE 0 END) AS q97,
        |    sum(l_quantity) AS qall
        |  FROM lineitem JOIN part
        |    ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |  GROUP BY 1)
        |SELECT s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM sp
        |                    WHERE q97 > 0.18 * qall)
        |ORDER BY s_name ASC""".stripMargin,

    "q13_order_distribution" ->
      """WITH c_orders AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q21_waiting_suppliers" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        |  FROM lineitem, orders
        |  WHERE l_orderkey = o_orderkey AND o_orderstatus = 'F'),
        |l1 AS (SELECT * FROM l
        |       WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM l1, supplier
        |WHERE l1.l_suppkey = s_suppkey
        |  AND EXISTS (SELECT 1 FROM l l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l1 l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name ASC
        |LIMIT 10""".stripMargin,

    "q22_lost_customers" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
        |  round(sum(c_acctbal), 4) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment ASC""".stripMargin,

    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  round(sum(CASE WHEN ns.n_name = 'NATION_3'
        |            THEN l_extendedprice * (1 - l_discount)
        |            ELSE 0.0 END)
        |        / sum(l_extendedprice * (1 - l_discount)), 6)
        |    AS mkt_share
        |FROM lineitem, part, orders, customer, supplier,
        |  nation nc, nation ns, region
        |WHERE l_partkey = p_partkey AND p_type = 'STANDARD'
        |  AND l_orderkey = o_orderkey
        |  AND o_custkey = c_custkey AND c_nationkey = nc.n_nationkey
        |  AND nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  AND l_suppkey = s_suppkey AND s_nationkey = ns.n_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY o_year ASC""".stripMargin,

    "q7_nation_volume" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem, orders, customer, supplier,
        |  nation nc, nation ns
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND c_nationkey = nc.n_nationkey
        |  AND s_nationkey = ns.n_nationkey
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND ((ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_7') OR
        |       (ns.n_name = 'NATION_7' AND nc.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation ASC, cust_nation ASC, l_year ASC""".stripMargin,

    "q15_top_supplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 4)
        |      AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM r)
        |ORDER BY s_suppkey ASC""".stripMargin,

    // x1: parse(render(x)) must be the identity for the embedded
    // facts — the oracle reads the base table directly.
    "x1_xml_extract" ->
      graft.operators.XmlOps.extractFilingsSql("documents"),

    // The correlated Q2 form — the Spark side decorrelates it into a
    // window min; the hash-match proves the rewrite.
    "q2_min_cost_supplier" ->
      """WITH rs AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier, nation, region
        |  WHERE s_nationkey = n_nationkey
        |    AND n_regionkey = r_regionkey AND r_name = 'ASIA'),
        |ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_type = 'STANDARD')
        |    AND l_suppkey IN (SELECT s_suppkey FROM rs)
        |  GROUP BY 1, 2)
        |SELECT p.p_partkey, p.p_name, rs.s_name, rs.n_name,
        |  round(rs.s_acctbal, 6) AS s_acctbal, round(ps.cost, 6) AS cost
        |FROM part p, ps, rs
        |WHERE p.p_partkey = ps.l_partkey AND ps.l_suppkey = rs.s_suppkey
        |  AND p.p_type = 'STANDARD'
        |  AND ps.cost = (SELECT min(ps2.cost) FROM ps ps2, rs rs2
        |                 WHERE ps2.l_partkey = p.p_partkey
        |                   AND ps2.l_suppkey = rs2.s_suppkey)
        |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC,
        |  p_partkey ASC""".stripMargin,

    // floor() guards against epoch() returning fractional seconds —
    // either way both engines frame on the same integral second.
    "w4_time_range_avg" ->
      """SELECT event_id, user_id, ts, count(*) OVER w AS n_1h,
        |  round(avg(value) OVER w, 6) AS avg_1h
        |FROM events
        |WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id ASC""".stripMargin)
}
