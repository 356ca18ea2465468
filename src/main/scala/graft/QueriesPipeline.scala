package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Sorting.ResultSortOps
import graft.RegistryFixtures._

/** Query registry — the training-data pipeline tier: mixtures / sampling /
  * packing (c), sketches (e), rate/skew (r), sequence packing (s),
  * data cards and audits (d).
  *
  * Split out of SparkEntry (round-10 verdict item 7); entries and
  * oracle twins are verbatim, SparkEntry concatenates the families.
  */
object QueriesPipeline {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r1_salted_counts" -> ((s, dir) =>
      SkewOps.saltedCounts(Tables.events(s, dir), "event_type", 16)),

    // r2: the bucketized temporal RANGE join promoted to the oracle
    // gate — per-user 10-minute forward window as an EQUI-join on
    // (key, time bucket), never a per-key cross product; rolled up
    // per initiating event type (self-pairs included — the window is
    // closed on the left).
    // r4: the HOT-KEY TWO-LEVEL WINDOW — w2's running sum computed
    // via order-monotone day slices (local prefix + exclusive slice
    // offsets) instead of one window partition per key; held to the
    // DIRECT-window oracle, so the decomposition is proven identical.
    "r4_salted_window" -> ((s, dir) =>
      SkewOps.twoLevelRunningSum(Tables.events(s, dir),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        valueCol = "value", sliceMillis = 24L * 3600 * 1000)),

    "r2_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      SkewOps.rangeJoinBucketed(ev,
          ev.select(col("user_id"), col("ts")),
          "user_id", "ts", windowMillis = 600000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"))
        .resultSorted(col("event_type").asc)
    }),

    // r3: AS-OF join — each purchase attributed to the most recent
    // click at-or-before it by the same user (the point-in-time
    // lookup Spark has no operator for). Union-marker + one window
    // pass per key: O(|L|+|R| log) per partition, never a per-key
    // cross product. The oracle states the semantics directly as a
    // per-row LATERAL top-1 — a completely different algorithm.
    "r3_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts"))
      SkewOps.asofJoin(purchases, clicks, "user_id", "ts", "ts",
          rightPayload = Seq("click_id", "click_ts"),
          tiebreakCol = "click_id")
        .withColumn("gap_us",
          unix_micros(col("ts")) -
            unix_micros(col("click_ts")))
        .select("purchase_id", "user_id", "click_id", "gap_us")
        .resultSorted(col("purchase_id").asc)
    }),

    // Both decontamination tiers split ONE cached shingle relation
    // instead of exploding+hashing the text once per side.
    "c2_decontamination" -> ((s, dir) => {
      val hx = DedupOps.hashedShingles(Tables.documents(s, dir),
        "doc_id", "text").cache()
      DedupOps.crossCorpusOverlapHashed(
        hx.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("bench_id"), col("x")),
        hx.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id").as("corpus_id"), col("x")),
        minShared = 3, maxDf = ShingleMaxDf)
    }),

    // c16: the BLOOM-prefiltered exact tier — c2's shape at modulus
    // 11, but the corpus side is pruned in its own scan stage by a
    // BloomFilter of the bench shingle keys referenced as a scalar
    // subquery (Spark's InjectRuntimeFilter machinery, surfaced as
    // graft_bloom_agg/graft_might_contain). No false negatives +
    // inner-join-drops-false-positives ⇒ row-identical to the exact
    // tier, so the full hash gate holds against the plain-join oracle.
    "c16_bloom_decontaminate" -> ((s, dir) => {
      val hx = DedupOps.hashedShingles(Tables.documents(s, dir),
        "doc_id", "text").cache()
      DedupOps.crossCorpusOverlapBloomHashed(s,
        hx.filter(col("doc_id") % 11 === 0)
          .select(col("doc_id").as("bench_id"), col("x")),
        hx.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id").as("corpus_id"), col("x")),
        minShared = 3, maxDf = ShingleMaxDf)
    }),

    // c3 splits on %7 (not c2's %97) so planted near-dup pairs
    // straddle the bench/corpus boundary at every SF — the banded tier
    // exists to catch exactly those.
    "c3_decontamination_lsh" -> ((s, dir) => {
      val hx = DedupOps.hashedShingles(Tables.documents(s, dir),
        "doc_id", "text").cache()
      DedupOps.crossCorpusOverlapBandedHashed(
        hx.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("bench_id"), col("x")),
        hx.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id").as("corpus_id"), col("x")),
        minShared = 3, maxDf = ShingleMaxDf)
    }),


    // c18: SPLIT-LEAKAGE AUDIT — near-dup pairs vs two split
    // policies; the cluster-keyed policy must audit to ZERO leaks
    // (the c7 safety claim, proven), the doc-hash policy's count is
    // the contamination a naive split invites.
    "c18_leakage_audit" -> ((s, dir) => {
      val (pairs, clusters) = dupPairsClusters(s, dir)
      DedupOps.splitLeakageAuditPrepared(Tables.documents(s, dir),
        pairs, clusters, "doc_id", trainPerMille = 800)
    }),

    // c19: DOMAIN-CAP sampling — best-k-per-source quota, planned
    // through the custom partial top-k operator (TopKRewrite fires
    // on the rank-filter shape; spec-asserted).
    "c19_domain_cap" -> ((s, dir) =>
      TextOps.domainCap(Tables.documents(s, dir), "doc_id", "source",
        "text", "n_chars", k = 20)),

    // c11: overlapping token-window chunking — the pre-embedding
    // splitter (64-token chunks, stride 48); manifest rows carry an
    // md5 prefix for the chunk payload, hash-checkable without text.
    "c11_chunk_split" -> ((s, dir) =>
      TextOps.chunkSplit(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 64, strideTokens = 48)),


    // ---- dataset analytics: profiling / sampling / scrubbing ----
    // d2: the dataset card — per-source totals + order-independent
    // content/membership seals; the reproducibility manifest a
    // released training set ships (re-run after any copy/migration:
    // the seals must match bit-for-bit).
    // d4: K-ANONYMITY release audit — the quasi-identifier
    // re-identification gate t27's direct-identifier scrub leaves
    // open; one grouping-sets pass sizes the equivalence classes at
    // every step of the generalization ladder.
    "d4_k_anonymity" -> ((s, dir) =>
      AnalyticsOps.kAnonymityAudit(Tables.customer(s, dir),
        col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"), k = 10)),

    "d2_dataset_card" -> ((s, dir) =>
      AnalyticsOps.datasetCard(Tables.documents(s, dir),
        "doc_id", "text", "source")),

    // d3: incremental maintenance of the card — merge(storedCard,
    // card(increment)) must hash-equal the full recompute (the
    // oracle), proving the stored card updates without a base rescan.
    // The base card is a PERSISTED FIXTURE (st6's template trick,
    // round-8 verdict item 6): a production pipeline keeps the card
    // on disk, so the timed query scans only the increment slice and
    // the bounded stored card — the operator's actual claim.
    "d3_card_merge" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val fix = cachedStreamInput(s, dir, "card_base") { root =>
        AnalyticsOps.datasetCard(docs.filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text", "source")
          .write.parquet(root + "/base_card")
        ()
      }
      AnalyticsOps.mergeCards(
        s.read.parquet(fix + "/base_card"),
        AnalyticsOps.datasetCard(docs.filter(col("doc_id") % 4 === 0),
          "doc_id", "text", "source", sorted = false),
        "source")
    }),

    "d1_profile" -> ((s, dir) =>
      AnalyticsOps.profile(Tables.orders(s, dir),
        distinctCols = Seq("o_orderstatus", "o_orderpriority"),
        numericCol = "o_totalprice", tsCol = "o_orderdate")),

    "e2_percentiles" -> ((s, dir) =>
      AnalyticsOps.groupPercentiles(Tables.lineitem(s, dir),
        key = "l_returnflag", valueCol = "l_quantity",
        ps = Seq(0.25, 0.5, 0.75, 0.9))),

    "s1_hash_sample" -> ((s, dir) =>
      AnalyticsOps.stratifiedSampleCounts(Tables.documents(s, dir),
        idCol = "doc_id", stratumCol = "lang",
        ratePerMille = Map("en" -> 300), defaultRatePerMille = 100)),

    // e10: the Count-Min estimator as relational algebra (exact
    // integer registers, min over d rows); exact counts ride along.
    "e10_cms_exact" -> ((s, dir) =>
      SkewOps.cmsCounts(Tables.events(s, dir), "user_id", k = 20)),

    // c12: the END-TO-END pipeline as one plan — gate → exact dedup
    // → pack; the oracle replays the same three stages as one CTE
    // chain.
    "c12_pipeline_e2e" -> ((s, dir) =>
      AnalyticsOps.pipelineE2e(Tables.documents(s, dir),
        idCol = "doc_id", groupCol = "source", textCol = "text",
        minTokens = 5, budgetTokens = 8192)),

    "s2_subset_algebra" -> ((s, dir) =>
      AnalyticsOps.subsetAlgebra(Tables.documents(s, dir), "doc_id",
        col("text").contains("spark"), col("text").contains("window"))),


    // ---- composed corpus-preparation pipeline ----
    "c1_corpus_prep" -> ((s, dir) =>
      AnalyticsOps.corpusPrep(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text", charsCol = "n_chars",
        langCol = "lang", minQuality = 0.55, samplePerMille = 500)),

    // c4: TEMPERATURE mixture sampling — per-source rates scale with
    // 1/sqrt(|source|) (T=0.5 reweighting: rare sources upsampled,
    // dominant ones damped), rows gated by the s1 deterministic md5
    // hash so a re-run selects the same rows.
    "c4_mixture_sample" -> ((s, dir) =>
      AnalyticsOps.mixtureSampleCounts(Tables.documents(s, dir),
        idCol = "doc_id", stratumCol = "source",
        gainPerMille = 3000.0)),

    // c5: SEQUENCE PACKING — concatenate-and-split shard layout per
    // source stream; a doc belongs to the shard where it starts.
    "c5_sequence_pack" -> ((s, dir) =>
      AnalyticsOps.sequencePack(Tables.documents(s, dir),
        idCol = "doc_id", groupCol = "source", textCol = "text",
        budgetTokens = 8192)),

    // c9: CURRICULUM packing — c5's shard stream reordered by the t16
    // classifier score (best docs fill the early shards).
    "c9_curriculum_pack" -> ((s, dir) =>
      AnalyticsOps.curriculumPack(Tables.documents(s, dir),
        idCol = "doc_id", groupCol = "source", textCol = "text",
        charsCol = "n_chars", budgetTokens = 8192)),

    // c6: GLOBAL packing over the one id-ordered stream — the two-pass
    // distributed prefix sum (range buckets → offset window → join),
    // never a corpus-wide single-partition window.
    "c6_global_pack" -> ((s, dir) =>
      AnalyticsOps.sequencePackGlobal(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text", budgetTokens = 8192,
        bucketWidth = 1024L)),

    // c7: LEAKAGE-SAFE split — train/val/test hashed at the GROUP
    // level so near-dups inside a group never straddle splits.
    "c7_split_assign" -> ((s, dir) =>
      AnalyticsOps.splitAssign(Tables.documents(s, dir),
        groupCol = "source", textCol = "text",
        trainPerMille = 800, valPerMille = 100)),

    // c8: quality-proportional mixture weights — sampling mass per
    // source ∝ its CLEAN-token share under the t14 gate.
    "c8_mixture_weights" -> ((s, dir) =>
      TextOps.mixtureWeights(Tables.documents(s, dir), "source",
        "text", "n_chars")),


    // ---- sketch tier (exact sub-components oracle-gated; sketch
    // fields ride as band witnesses — see sketchProfile scaladoc) ----
    "e3_sketch_profile" -> ((s, dir) =>
      AnalyticsOps.sketchProfile(Tables.events(s, dir),
        key = "event_type", idCol = "user_id", valueCol = "value")),

    // e4: the DETERMINISTIC sketch — KMV distinct estimate next to
    // its exact twin, oracle-checkable unlike e3's HLL tier.
    // e5: sketch MERGEABILITY — per-type KMV sketches merged equal
    // the direct global sketch; the merged path's global step is
    // bounded by k·|groups|, the distributed-sketch shape.
    "e5_kmv_union" -> ((s, dir) =>
      AnalyticsOps.kmvUnion(Tables.events(stChild(s, 8, aqe = false), dir),
        key = "event_type", idCol = "user_id")),

    "e4_kmv_distinct" -> ((s, dir) =>
      AnalyticsOps.kmvDistinct(Tables.events(stChild(s, 8, aqe = false), dir),
        key = "event_type", idCol = "user_id")),

    // c15: TARGET-SHARE mixture — explicit token-budget spec driven
    // to per-source deterministic keep-rates (the third mixing
    // policy next to c4 temperature and c8 quality weights).
    "c15_target_mixture" -> ((s, dir) =>
      AnalyticsOps.targetMixture(Tables.documents(s, dir),
        idCol = "doc_id", srcCol = "source", textCol = "text",
        share = 0.5)),

    // c14: SPLIT-AWARE packing — the true concat-and-split layout
    // (straddling docs split across shards; every non-final shard
    // carries exactly the budget).
    "c14_split_pack" -> ((s, dir) =>
      AnalyticsOps.splitPack(Tables.documents(s, dir),
        idCol = "doc_id", groupCol = "source", textCol = "text",
        budgetTokens = 8192)),

    // c13: EPOCH SHUFFLE — deterministic, different order per epoch
    // (hash of (epoch, id)); order-sensitive integer witness.
    "c13_epoch_shuffle" -> ((s, dir) =>
      AnalyticsOps.epochShuffle(Tables.documents(s, dir),
        idCol = "doc_id", epochs = 3)),

    // e8: KMV INTERSECTION — the audience-overlap matrix from the
    // sketches alone (ρ-estimator over the pairwise union sketch);
    // exact intersection rides along as the accuracy witness.
    "e8_kmv_intersect" -> ((s, dir) =>
      AnalyticsOps.kmvIntersect(Tables.events(s, dir),
        key = "event_type", idCol = "user_id")),

    // e9: RELATIONAL HLL — the HyperLogLog estimator as pure algebra
    // (exact-integer harmonic sum, bin()-based ρ), hash-matched
    // through the gate; upgrades e3's rows-only status with a
    // deterministic twin.
    "e9_hll_exact" -> ((s, dir) =>
      AnalyticsOps.hllDistinct(Tables.events(s, dir),
        key = "event_type", idCol = "user_id")),

    // e7: mergeable HEAVY HITTERS — global frequency top-k read off
    // hash-disjoint per-bucket top-k candidates (lossless merge by
    // construction); the oracle states the direct top-k the merged
    // path must equal.
    "e7_heavy_hitters" -> ((s, dir) =>
      AnalyticsOps.heavyHittersTopK(Tables.events(s, dir),
        itemCol = "user_id", k = 20, buckets = 32)),

    // c10: deterministic WEIGHTED sampling (Efraimidis–Spirakis race
    // with hash-derived u, weight = token count): the token-budget-
    // matched subset draw, reproducible in both engines.
    "c10_weighted_sample" -> ((s, dir) =>
      AnalyticsOps.weightedSample(Tables.documents(s, dir),
        "doc_id", "source", "text", k = 30)),

    // e6: e5's mergeability carried to QUANTILES — the hash-rank
    // sample is identical in both engines, so the approximate
    // quantile tier itself is oracle-checkable; merged == direct by
    // construction, and the global step of the merged path is
    // bounded by k·|groups|.
    "e6_quantile_sketch" -> ((s, dir) =>
      AnalyticsOps.quantileSketchUnion(Tables.events(s, dir),
        key = "event_type", idCol = "event_id", valueCol = "value")))

  def oracleSql: Map[String, String] = Map(
    // e3: the exact sub-components are value-gated; the sketch fields
    // ride as integer band WITNESSES the twin asserts as 1 — computed
    // Spark-side from the actual HLL/t-digest vs the actual exact
    // value, so a sketch regression past the band flips the witness
    // and fails the hash gate (round-12 verdict item 6).
    "e3_sketch_profile" ->
      """SELECT event_type,
        |  count(DISTINCT user_id)::BIGINT AS exact_distinct,
        |  round(quantile_cont(value::DOUBLE, 0.5), 6) AS exact_p50,
        |  1 AS hll_within_15pct, 1 AS p50_within_1pct
        |FROM events GROUP BY event_type
        |ORDER BY event_type ASC""".stripMargin,

    "r1_salted_counts" ->
      """SELECT event_type, count(*)::BIGINT AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, event_type ASC""".stripMargin,

    // r2: the oracle states the range semantics as the plain theta
    // join the bucketized equi-join must equal exactly.
    // r4: the oracle is the DIRECT window — one partition per key,
    // sequential accumulation — so the two-level slice decomposition
    // is proven row-identical (round 6, w2's float convention).
    "r4_salted_window" ->
      """SELECT user_id, event_id, ts,
        |  round(sum(value) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS running_value
        |FROM events
        |ORDER BY user_id ASC, ts ASC, event_id ASC""".stripMargin,

    "r2_range_join" ->
      """SELECT l.event_type, count(*) AS n_pairs
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id AND r.ts >= l.ts
        |  AND epoch_ms(r.ts) < epoch_ms(l.ts) + 600000
        |GROUP BY l.event_type ORDER BY l.event_type ASC""".stripMargin,

    // r3: the oracle states AS-OF semantics directly — per purchase,
    // the LATERAL top-1 click at-or-before it (ts desc, id desc) —
    // a per-row nested loop the Spark side must equal via one
    // union-marker window pass.
    "r3_asof_join" -> AsofOracleSql,

    "c2_decontamination" ->
      operators.DedupOps.crossCorpusOverlapSql("documents", "doc_id",
        "text", modulus = 97, minShared = 3, maxDf = ShingleMaxDf),

    "c3_decontamination_lsh" ->
      operators.DedupOps.crossCorpusOverlapBandedSql("documents",
        "doc_id", "text", modulus = 7, minShared = 3,
        maxDf = ShingleMaxDf),

    // c16: the oracle is the PLAIN exact join — the bloom is
    // pruning-only, so the Spark side must hash-match it verbatim.
    "c16_bloom_decontaminate" ->
      operators.DedupOps.crossCorpusOverlapSql("documents", "doc_id",
        "text", modulus = 11, minShared = 3, maxDf = ShingleMaxDf),

    // c18: the n9 recursive-CTE cluster relation + the c7 md5 gate
    // on both policies; the oracle itself must report
    // cluster_hash → 0 leaks.
    "c18_leakage_audit" ->
      operators.DedupOps.splitLeakageAuditSql("documents", "doc_id",
        "text", minJaccard = 0.8, maxDf = ShingleMaxDf,
        trainPerMille = 800),

    // c19: t2's quality formula CTEs + a per-source rank window;
    // scores compare on the integer-micro grid.
    "c19_domain_cap" ->
      """WITH t AS (SELECT doc_id, source,
        |    string_split(text, ' ') AS w, n_chars FROM documents),
        |c AS (SELECT doc_id, source,
        |    len(list_distinct(w)) * 1.0 / len(w) AS ttr,
        |    len(list_filter(w,
        |      x -> x IN ('the','a','of','and','is','in'))) * 1.0
        |      / len(w) AS stop_ratio,
        |    (n_chars * 1.0 - (len(w) - 1)) / len(w) AS awl
        |  FROM t),
        |q AS (SELECT doc_id, source,
        |    ttr * 0.5 + (1.0 - stop_ratio) * 0.3 +
        |    least(awl / 8.0, 1.0) * 0.2 AS quality
        |  FROM c),
        |r AS (SELECT source, doc_id, quality,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id ASC) AS rnk
        |  FROM q)
        |SELECT source, rnk, doc_id,
        |  CAST(round(quality * 1000000) AS BIGINT) AS q_micro
        |FROM r WHERE rnk <= 20
        |ORDER BY source ASC, rnk ASC""".stripMargin,

    // e10: the CMS estimator verbatim — md5-derived (j, bucket)
    // registers, min over d rows, exact counts as the witness.
    "e10_cms_exact" -> CmsOracleSql,

    "d4_k_anonymity" -> AnalyticsOps.kAnonymityAuditSql("customer",
      "c_nationkey", "c_mktsegment",
      "CAST(floor(c_acctbal / 1000) AS BIGINT)", k = 10),

    // c11: chunk manifest replayed with range + 1-based list slicing —
    // DuckDB's toks[a:b] clamps exactly like Spark's slice.
    "c11_chunk_split" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, CASE WHEN len(toks) <= 64 THEN 1
        |      ELSE CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) + 1
        |      END)) AS chunk_id
        |  FROM t)
        |SELECT doc_id, chunk_id,
        |  len(toks[chunk_id*48 + 1 : chunk_id*48 + 64])::BIGINT
        |    AS chunk_tok,
        |  substr(md5(array_to_string(
        |    toks[chunk_id*48 + 1 : chunk_id*48 + 64], ' ')), 1, 16)
        |    AS chunk_md5
        |FROM c
        |ORDER BY doc_id ASC, chunk_id ASC""".stripMargin,

    // e7: the oracle is the DIRECT top-k the bucketized merged path
    // must equal exactly (the r2 adjudication pattern).
    "e7_heavy_hitters" ->
      """SELECT user_id, count(*) AS cnt FROM events
        |GROUP BY user_id
        |ORDER BY cnt DESC, user_id ASC LIMIT 20""".stripMargin,

    // d2: seal terms reduced mod p BEFORE summing so both engines
    // stay in exact integer range (duck sums in HUGEINT regardless).
    "d2_dataset_card" -> DatasetCardOracleSql,

    // d3: held to the FULL-recompute oracle VERBATIM — the merged
    // slice cards must reproduce it bit-for-bit (seal additivity).
    "d3_card_merge" -> DatasetCardOracleSql,

    "d1_profile" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT o_orderstatus) AS n_o_orderstatus,
        |  count(DISTINCT o_orderpriority) AS n_o_orderpriority,
        |  sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS null_o_orderdate,
        |  min(o_totalprice) AS min_o_totalprice,
        |  max(o_totalprice) AS max_o_totalprice,
        |  min(o_orderdate) AS first_o_orderdate,
        |  max(o_orderdate) AS last_o_orderdate
        |FROM orders""".stripMargin,

    "e2_percentiles" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  round(quantile_cont(l_quantity, 0.50), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |  round(quantile_cont(l_quantity, 0.90), 6) AS p90
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin,

    // e5: per-type k-minima unioned and re-truncated vs the direct
    // global k-minima — identical estimates by construction.
    "e5_kmv_union" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |kmin AS (
        |  SELECT h FROM (
        |    SELECT event_type, h,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY h ASC) AS rn
        |    FROM h) WHERE rn <= 256),
        |mk AS (
        |  SELECT h FROM (
        |    SELECT h, row_number() OVER (ORDER BY h ASC) AS rn
        |    FROM (SELECT DISTINCT h FROM kmin)) WHERE rn <= 256),
        |ms AS (SELECT count(*) AS n_used, max(h) AS hk FROM mk),
        |dk AS (
        |  SELECT h FROM (
        |    SELECT h, row_number() OVER (ORDER BY h ASC) AS rn
        |    FROM (SELECT DISTINCT h FROM h)) WHERE rn <= 256),
        |ds AS (SELECT count(*) AS n_used, max(h) AS hk FROM dk),
        |ex AS (SELECT count(DISTINCT user_id) AS exact_distinct
        |  FROM events)
        |SELECT ex.exact_distinct,
        |  CAST(round(CASE WHEN ds.n_used < 256 THEN ds.n_used::DOUBLE
        |    ELSE 255.0 * 1152921504606846976.0 / ds.hk END) AS BIGINT)
        |    AS kmv_direct,
        |  CAST(round(CASE WHEN ms.n_used < 256 THEN ms.n_used::DOUBLE
        |    ELSE 255.0 * 1152921504606846976.0 / ms.hk END) AS BIGINT)
        |    AS kmv_merged
        |FROM ex, ds, ms""".stripMargin,

    // c10: same race in SQL — identical u (IEEE double conversion of
    // the same 60-bit hash), identical 9-dp rank, id tiebreak.
    "c10_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' '))::BIGINT AS n_tok,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, source, n_tok,
        |  round(-ln((h::DOUBLE + 1.0) / 1152921504606846976.0)
        |        / n_tok::DOUBLE, 9) AS w_rank
        |FROM t
        |ORDER BY w_rank ASC, doc_id ASC
        |LIMIT 30""".stripMargin,

    // e6: hash-rank uniform sample (identical in both engines) →
    // exact interpolated percentile over the sample; merged path's
    // sample re-truncated from the per-type sketches.
    "e6_quantile_sketch" ->
      """WITH hv AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT AS h,
        |    value::DOUBLE AS v
        |  FROM events),
        |pg AS (
        |  SELECT h, v FROM (
        |    SELECT h, v, row_number() OVER (PARTITION BY event_type
        |      ORDER BY h ASC, v ASC) AS rn FROM hv) WHERE rn <= 256),
        |dq AS (
        |  SELECT round(quantile_cont(v, 0.5), 6) AS kq_direct FROM (
        |    SELECT v FROM (
        |      SELECT h, v, row_number() OVER (ORDER BY h ASC, v ASC) AS rn
        |      FROM hv) WHERE rn <= 256)),
        |mq AS (
        |  SELECT round(quantile_cont(v, 0.5), 6) AS kq_merged FROM (
        |    SELECT v FROM (
        |      SELECT h, v, row_number() OVER (ORDER BY h ASC, v ASC) AS rn
        |      FROM pg) WHERE rn <= 256)),
        |ex AS (SELECT round(quantile_cont(value::DOUBLE, 0.5), 6)
        |    AS exact_p50
        |  FROM events)
        |SELECT ex.exact_p50, dq.kq_direct, mq.kq_merged,
        |  round(abs(dq.kq_direct - ex.exact_p50) / ex.exact_p50, 6)
        |    AS rel_err
        |FROM ex, dq, mq""".stripMargin,

    // e9: the identical estimator in SQL — integer registers, one
    // division, one deterministic ln in the linear-counting branch.
    "e9_hll_exact" -> HllOracleSql,

    // c15: the same solver arithmetic stated in SQL (left-assoc
    // doubles, md5 gate).
    "c15_target_mixture" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_tok
        |  FROM documents),
        |ps AS (SELECT source, sum(n_tok)::BIGINT AS src_tokens
        |  FROM t GROUP BY source),
        |tot AS (SELECT sum(src_tokens)::BIGINT AS tt,
        |    count(*) AS ns FROM ps),
        |rates AS (
        |  SELECT source, src_tokens,
        |    floor(tt::DOUBLE * 0.5 / ns)::BIGINT AS target_tokens,
        |    least(1000,
        |      floor(1000.0 * floor(tt::DOUBLE * 0.5 / ns)
        |        / src_tokens)::BIGINT) AS rate_pm
        |  FROM ps CROSS JOIN tot)
        |SELECT t.source, r.src_tokens, r.target_tokens, r.rate_pm,
        |  sum(CASE WHEN ('0x' || substr(md5(t.doc_id::VARCHAR), 1, 15))
        |    ::BIGINT % 1000 < r.rate_pm THEN t.n_tok ELSE 0 END)
        |    ::BIGINT AS sampled_tokens
        |FROM t JOIN rates r ON r.source = t.source
        |GROUP BY t.source, r.src_tokens, r.target_tokens, r.rate_pm
        |ORDER BY t.source ASC""".stripMargin,

    // c14: per-doc shard-range unnest; spans are exact integers.
    "c14_split_pack" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      ::BIGINT AS e
        |  FROM t),
        |s AS (
        |  SELECT source, doc_id, n_tok, e, e - n_tok AS st,
        |    unnest(range(((e - n_tok) // 8192)::BIGINT,
        |                 (((e - 1) // 8192) + 1)::BIGINT)) AS shard_id
        |  FROM c WHERE n_tok > 0)
        |SELECT source, shard_id, count(*) AS n_docs,
        |  sum(least(e, (shard_id + 1) * 8192)
        |      - greatest(st, shard_id * 8192))::BIGINT AS shard_tokens
        |FROM s GROUP BY source, shard_id
        |ORDER BY source ASC, shard_id ASC""".stripMargin,

    // c13: md5(epoch:id) ordering, Σ position·id exact-integer
    // witness per epoch.
    "c13_epoch_shuffle" ->
      """WITH e AS (
        |  SELECT d.doc_id, ep.epoch,
        |    md5(ep.epoch || ':' || d.doc_id) AS h
        |  FROM documents d
        |  CROSS JOIN (VALUES (0), (1), (2)) AS ep(epoch)),
        |p AS (
        |  SELECT epoch, doc_id,
        |    row_number() OVER (PARTITION BY epoch
        |      ORDER BY h ASC, doc_id ASC) AS pos
        |  FROM e)
        |SELECT epoch, count(*) AS n_docs,
        |  sum(pos * doc_id)::BIGINT AS order_sum,
        |  min(CASE WHEN pos = 1 THEN doc_id END) AS first_id
        |FROM p GROUP BY epoch ORDER BY epoch ASC""".stripMargin,

    // e8: the same hash/minima convention as e4/e5; ρ-estimator over
    // the pairwise union sketch, exact when unsaturated.
    "e8_kmv_intersect" ->
      """WITH hashes AS (
        |  SELECT DISTINCT event_type AS t,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |minima AS (
        |  SELECT t, h FROM (
        |    SELECT t, h,
        |      row_number() OVER (PARTITION BY t ORDER BY h ASC) AS rn
        |    FROM hashes) WHERE rn <= 256),
        |dom AS (SELECT a.t AS ta, b.t AS tb
        |  FROM (SELECT DISTINCT t FROM minima) a
        |  JOIN (SELECT DISTINCT t FROM minima) b ON a.t < b.t),
        |un AS (
        |  SELECT ta, tb, h,
        |    max(CASE WHEN m.t = ta THEN 1 ELSE 0 END) AS ina,
        |    max(CASE WHEN m.t = tb THEN 1 ELSE 0 END) AS inb
        |  FROM dom JOIN minima m ON m.t = ta OR m.t = tb
        |  GROUP BY ta, tb, h),
        |sk AS (
        |  SELECT ta, tb, count(*) AS n_used, max(h) AS hk,
        |    sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS rho
        |  FROM (SELECT *, row_number() OVER (PARTITION BY ta, tb
        |          ORDER BY h ASC) AS rn FROM un)
        |  WHERE rn <= 256 GROUP BY ta, tb),
        |est AS (
        |  SELECT ta, tb,
        |    CASE WHEN n_used < 256 THEN rho::DOUBLE
        |         ELSE rho::DOUBLE / 256.0 *
        |           (255.0 * 1152921504606846976.0 / hk) END AS est
        |  FROM sk),
        |ids AS (SELECT DISTINCT event_type AS t, user_id AS id
        |  FROM events),
        |exact AS (
        |  SELECT a.t AS ta, b.t AS tb, count(*) AS exact_intersect
        |  FROM ids a JOIN ids b ON a.id = b.id AND a.t < b.t
        |  GROUP BY 1, 2)
        |SELECT e.ta AS type_a, e.tb AS type_b,
        |  coalesce(x.exact_intersect, 0) AS exact_intersect,
        |  round(e.est)::BIGINT AS kmv_intersect
        |FROM est e LEFT JOIN exact x ON x.ta = e.ta AND x.tb = e.tb
        |ORDER BY type_a ASC, type_b ASC""".stripMargin,

    "e4_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |kmin AS (
        |  SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY h ASC) AS rn
        |    FROM h) WHERE rn <= 256),
        |s AS (
        |  SELECT event_type, count(*) AS n_used, max(h) AS hk
        |  FROM kmin GROUP BY event_type),
        |x AS (
        |  SELECT event_type,
        |    CASE WHEN n_used < 256 THEN n_used::DOUBLE
        |         ELSE 255.0 * 1152921504606846976.0 / hk END AS est
        |  FROM s),
        |e AS (
        |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, e.exact_distinct,
        |  round(x.est)::BIGINT AS kmv_distinct,
        |  round(abs(round(x.est) - e.exact_distinct) * 1.0
        |        / e.exact_distinct, 6) AS rel_err
        |FROM e JOIN x USING (event_type)
        |ORDER BY event_type ASC""".stripMargin,

    "s1_hash_sample" ->
      """SELECT lang, count(*) AS n_rows,
        |  sum(CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
        |             % 1000 < (CASE WHEN lang = 'en' THEN 300 ELSE 100 END)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_sampled
        |FROM documents GROUP BY lang ORDER BY lang ASC""".stripMargin,

    "s2_subset_algebra" ->
      """WITH a AS (SELECT doc_id FROM documents
        |    WHERE contains(text, 'spark')),
        |  b AS (SELECT doc_id FROM documents
        |    WHERE contains(text, 'window'))
        |SELECT doc_id, 'both' AS tag
        |FROM (SELECT doc_id FROM a INTERSECT SELECT doc_id FROM b)
        |UNION ALL
        |SELECT doc_id, 'a_only' AS tag
        |FROM (SELECT doc_id FROM a EXCEPT SELECT doc_id FROM b)
        |ORDER BY tag ASC, doc_id ASC""".stripMargin,

    // c4: rates are per-stratum only (floor(gain/sqrt(n)), capped) —
    // no cross-stratum normalization, so the IEEE arithmetic over the
    // exact integer count reproduces bit-identically here.
    "c4_mixture_sample" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_rows FROM documents
        |  GROUP BY source),
        |r AS (
        |  SELECT source, n_rows,
        |    least(1000, floor(3000.0 / sqrt(n_rows)))::BIGINT AS rate_pm
        |  FROM c)
        |SELECT d.source, r.n_rows, r.rate_pm,
        |  sum(CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))
        |               ::BIGINT % 1000 < r.rate_pm
        |      THEN 1 ELSE 0 END)::BIGINT AS n_sampled
        |FROM documents d JOIN r USING (source)
        |GROUP BY d.source, r.n_rows, r.rate_pm
        |ORDER BY source ASC""".stripMargin,

    // c12: gate → dedup → pack replayed as one CTE chain (the gate's
    // ratio is the cross-multiplied integer form; dedup is the n2
    // md5-window convention; pack is the c5 formula).
    "c12_pipeline_e2e" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    len(string_split(text, ' '))::BIGINT AS n_tok,
        |    len(list_distinct(string_split(text, ' ')))::BIGINT
        |      AS n_uniq
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, text, n_tok FROM t
        |  WHERE n_tok >= 5 AND n_uniq * 10 >= n_tok * 3),
        |r AS (
        |  SELECT doc_id, source, n_tok,
        |    row_number() OVER (
        |      PARTITION BY md5(regexp_replace(trim(lower(text)),
        |        '\s+', ' ', 'g'))
        |      ORDER BY doc_id ASC) AS rn
        |  FROM g),
        |d AS (SELECT source, doc_id, n_tok FROM r WHERE rn = 1),
        |c AS (
        |  SELECT source, doc_id, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT source, floor((cum - n_tok) / 8192.0)::BIGINT AS shard_id,
        |  count(*) AS n_docs, sum(n_tok)::BIGINT AS shard_tokens
        |FROM c GROUP BY source, shard_id
        |ORDER BY source ASC, shard_id ASC""".stripMargin,

    "c5_sequence_pack" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source, floor((cum - n_tok) / 8192.0)::BIGINT AS shard_id,
        |  count(*) AS n_docs, sum(n_tok)::BIGINT AS shard_tokens
        |FROM c GROUP BY source, shard_id
        |ORDER BY source ASC, shard_id ASC""".stripMargin,

    // c9: t16's score CTE + c5's cumulative window, ordered by
    // (score DESC, doc_id) — the same exact-long cumsum, different
    // stream order; per-shard mean in micro-longs.
    "c9_curriculum_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source, n_chars,
        |    string_split(text, ' ') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, n_chars, len(toks) AS n_tok,
        |    len(list_filter(toks,
        |      w -> w IN ('the','a','of','and','is','in'))) AS n_stop,
        |    (SELECT max(cnt) FROM (
        |       SELECT count(*) AS cnt FROM unnest(toks) AS u(tok)
        |       GROUP BY tok)) AS max_cnt
        |  FROM t),
        |s AS (
        |  SELECT doc_id, source, n_tok,
        |    round(-3.0 + 0.02 * CAST(n_tok AS DOUBLE)
        |      + 0.35 * ((n_chars - n_tok + 1) / CAST(n_tok AS DOUBLE))
        |      + 4.0 * (n_stop / CAST(n_tok AS DOUBLE))
        |      - 3.0 * (max_cnt / CAST(n_tok AS DOUBLE)), 6) AS score
        |  FROM m),
        |c AS (
        |  SELECT source, doc_id, n_tok, score,
        |    sum(n_tok) OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s)
        |SELECT source, floor((cum - n_tok) / 8192.0)::BIGINT
        |    AS shard_id,
        |  count(*) AS n_docs, sum(n_tok)::BIGINT AS shard_tokens,
        |  round(sum(CAST(round(score * 1e6) AS BIGINT)) / 1e6
        |    / count(*), 6) AS mean_score
        |FROM c GROUP BY source, shard_id
        |ORDER BY source ASC, shard_id ASC""".stripMargin,

    // c8: the t14 rule arithmetic verbatim; the weight is exact-long
    // clean tokens over the exact-long total, rounded once.
    "c8_mixture_weights" ->
      """WITH t AS (
        |  SELECT source, n_chars, string_split(text, ' ') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT source, n_chars, len(toks) AS n_tok,
        |    len(list_filter(toks,
        |      w -> w IN ('the','a','of','and','is','in'))) AS n_stop,
        |    (SELECT max(cnt) FROM (
        |       SELECT count(*) AS cnt FROM unnest(toks) AS u(tok)
        |       GROUP BY tok)) AS max_cnt
        |  FROM t),
        |r AS (
        |  SELECT source, n_tok,
        |    ((n_tok BETWEEN 20 AND 80)
        |      AND (n_chars - n_tok + 1) * 4 >= n_tok * 17
        |      AND n_chars - n_tok + 1 <= n_tok * 10
        |      AND n_stop >= 2
        |      AND max_cnt * 5 <= n_tok) AS pass
        |  FROM m),
        |p AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(CASE WHEN pass THEN n_tok ELSE 0 END)::BIGINT
        |      AS clean_tokens
        |  FROM r GROUP BY source)
        |SELECT source, n_docs, clean_tokens,
        |  round(clean_tokens * 1.0 /
        |    (SELECT sum(clean_tokens) FROM p), 6) AS weight
        |FROM p ORDER BY source ASC""".stripMargin,

    // c7: same md5-gate arithmetic as s1/c4; the CASE bounds mirror
    // the when-chain bit-identically over exact integers.
    "c7_split_assign" ->
      """WITH b AS (
        |  SELECT source,
        |    ('0x' || substr(md5(source), 1, 15))::BIGINT % 1000 AS bk,
        |    len(string_split(text, ' '))::BIGINT AS n_tok
        |  FROM documents)
        |SELECT CASE WHEN bk < 800 THEN 'train'
        |            WHEN bk < 900 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(DISTINCT source) AS n_groups,
        |  count(*) AS n_docs,
        |  sum(n_tok)::BIGINT AS total_tokens
        |FROM b GROUP BY split ORDER BY split ASC""".stripMargin,

    // c6: the oracle states the SEMANTICS (one global ordered cumsum);
    // the Spark side implements it as the two-pass prefix sum — same
    // result, differential-tested.
    "c6_global_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    sum(n_tok) OVER (ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT floor((cum - n_tok) / 8192.0)::BIGINT AS shard_id,
        |  count(*) AS n_docs, sum(n_tok)::BIGINT AS shard_tokens
        |FROM c GROUP BY shard_id
        |ORDER BY shard_id ASC""".stripMargin,

    "c1_corpus_prep" ->
      """WITH c AS (
        |  SELECT doc_id, lang, text, n_chars,
        |    string_split(text, ' ') AS w
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, text, len(w) AS n_tok,
        |    round(
        |      (len(list_distinct(w)) * 1.0 / len(w)) * 0.5 +
        |      (1.0 - len(list_filter(w,
        |         x -> x IN ('the','a','of','and','is','in')))
        |         * 1.0 / len(w)) * 0.3 +
        |      least(((n_chars * 1.0 - (len(w) - 1)) / len(w)) / 8.0,
        |        1.0) * 0.2, 6) AS quality
        |  FROM c),
        |d AS (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY
        |        md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |      ORDER BY doc_id ASC) AS rn
        |  FROM q),
        |s AS (
        |  SELECT * FROM d WHERE rn = 1
        |    AND quality >= 0.55
        |    AND ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
        |        % 1000 < 500)
        |SELECT lang, count(*) AS n_docs,
        |  sum(n_tok)::BIGINT AS total_tokens,
        |  floor((2 * sum(CAST(round(quality * 1000000) AS BIGINT))
        |         + count(*)) / (2.0 * count(*))) / 1000000.0
        |    AS avg_quality
        |FROM s GROUP BY lang ORDER BY lang ASC""".stripMargin)
}
