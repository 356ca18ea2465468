package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics — the crawl-PRIORITIZATION step between h5's
  * frontier discovery and the fetch scheduler. The reference crawls
  * catalog pages in discovery order (ethical_crawler.py's per-source
  * loops); at web scale the frontier outgrows the fetch budget and the
  * scheduler needs a global importance order — PageRank over the page
  * graph is the canonical one.
  *
  * Determinism is the hard part of making an ITERATIVE float algorithm
  * hash-gateable across engines: double-sum PageRank accumulates in
  * whatever order the shuffle delivers, so the 6th decimal flaps
  * between runs, let alone engines. This implementation runs the b1
  * convention end-to-end: ranks live on an exact integer MICRO grid
  * (1 rank point = 1e-6), every per-edge contribution is an integer
  * floor-division (`div` here, `//` in the DuckDB twin), and the
  * damping multiply-then-divide is integer too — so the iteration is
  * bit-identical under any partitioning, any aggregation order, and
  * both engines. Headroom: total mass is |V|·1e6 and the damping step
  * peaks at 85× a node's inflow, so 64-bit holds past 10^10 pages.
  *
  * Scale shape per iteration: one equi-join of the rank relation onto
  * the out-degree-annotated edge relation (both hash-partitioned on
  * src — at rest the edge table is bucketed by src so the join is
  * co-located), one hash aggregate on dst (map-side combined), one
  * left join back to the node set. No broadcast is assumed anywhere —
  * ranks and edges are both corpus-scale. Hub pages (every page links
  * "/") concentrate the dst aggregate exactly like r1's hot keys; the
  * map-side combine absorbs it (each task emits ONE partial per hub,
  * so the hot reducer receives |tasks| rows, not |edges|).
  *
  * The iteration count is a FIXED spec constant (not a convergence
  * loop): the plan below chains `iters` rounds into ONE lazily-built
  * job — for bounded small `iters` this beats per-round
  * materialization (no intermediate parquet/memory round-trips), and
  * it is what makes the unrolled-CTE oracle twin possible. A
  * convergence-driven variant would localCheckpoint per round like
  * [[DedupOps.dupClusters]]; production web ranks run 10–30 rounds
  * either way.
  */
object GraphOps {

  /** Initial rank: 1.0 in micro-units. */
  val InitMicro = 1000000L
  /** Teleport term: 0.15 in micro-units; damping 85/100 applied as
    * integer multiply-then-floor-divide.
    */
  val TeleportMicro = 150000L
  val DampingPct = 85L

  /** The once-materialized relations every rank iteration reads: the
    * edge relation, its out-degree-annotated twin, the node set, and
    * the in-degree relation. At rest these are TABLES the h4
    * pipeline lands (edges bucketed by src); in-session they are
    * checkpointed ONCE and shared by h6/h6c/h7/h8 — a lazy chain
    * would re-execute the upstream edge EXTRACTION (a regex scan
    * over the corpus) once per round for zero benefit. (Pre-
    * partitioning the checkpoints on their join keys was TRIED and
    * measured SLOWER at bench scale — the checkpointed agg outputs
    * already carry hash partitioning, so each round plans ONE
    * exchange either way; see the round plan in docs/PLANS.md.)
    */
  final case class PreparedGraph(e: DataFrame, ewd: DataFrame,
      nodes: DataFrame, indeg: DataFrame)

  def prepare(edges: DataFrame): PreparedGraph = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val ewd = e.join(outdeg, "src").localCheckpoint()
    val nodes = e.select(col("src").as("url"))
      .unionByName(e.select(col("dst").as("url"))).distinct()
      .localCheckpoint()
    val indeg = e.groupBy(col("dst")).agg(count(lit(1)).as("n_in"))
      .localCheckpoint()
    PreparedGraph(e, ewd, nodes, indeg)
  }

  /** PageRank over an edge relation `(src, dst)` (multi-edges and
    * self-loops participate as-is; dangling-node mass drains — the
    * standard simplification, deterministic in both engines). Returns
    * the top `k` pages: `(url, n_in, pr_micro)` ordered rank-desc,
    * url-asc — a TakeOrderedAndProject, never a global sort.
    */
  def pageRank(edges: DataFrame, iters: Int, k: Int): DataFrame =
    pageRank(prepare(edges), iters, k)

  def pageRank(g: PreparedGraph, iters: Int, k: Int): DataFrame = {
    var ranks = g.nodes.select(col("url"), lit(InitMicro).as("pr"))
    for (_ <- 1 to iters) {
      val inc = g.ewd.join(ranks, g.ewd("src") === ranks("url"))
        .select(g.ewd("dst").as("url"), expr("pr div od").as("c"))
        .groupBy(col("url")).agg(sum(col("c")).as("inc"))
      ranks = g.nodes.join(inc, Seq("url"), "left")
        .select(col("url"),
          (lit(TeleportMicro) +
            expr(s"($DampingPct * coalesce(inc, CAST(0 AS BIGINT)))" +
              " div 100")).as("pr"))
    }
    ranks.join(g.indeg, ranks("url") === g.indeg("dst"), "left")
      .select(ranks("url"),
        coalesce(col("n_in"), lit(0L)).as("n_in"), col("pr"))
      .orderBy(col("pr").desc, col("url").asc)
      .limit(k)
  }

  /** CONVERGENCE-DRIVEN PageRank (h6c) — [[pageRank]] with a
    * DATA-DERIVED round count: iterate until the rank vector reaches
    * a BIT-EXACT fixed point on the integer grid (max per-node delta
    * == 0), capped at `maxIters`. The exactness of the grid is what
    * makes the stopping rule hash-gateable: once f(ranks) == ranks,
    * every further round is the identity, so the result EQUALS the
    * `maxIters`-round unrolled computation no matter where the exit
    * fires — which is how a fixed-round SQL oracle can adjudicate a
    * query whose round count the data decides. (An ε > 0 stop would
    * leave the ranks ε-dependent and un-oracle-able; on this grid ε
    * = 0 converges because per-edge floor divisions shed sub-unit
    * mass every round.)
    *
    * Harness shape: rounds run in lazily-chained BLOCKS of
    * `blockIters` (the [[pageRank]] plan, which is single-exchange
    * per round over the once-checkpointed edge relation); each block
    * boundary `localCheckpoint`s and pays ONE tiny probe job — the
    * max-|delta| convergence certificate, read on the driver. Per
    * round that amortizes to 1/blockIters probe actions; lineage
    * stays O(blockIters) deep. Block size trades Catalyst's
    * incremental construction-time analysis of the chained tree
    * (superlinear in depth — every Dataset op re-analyzes the
    * accumulated block) against one extra probe job per boundary;
    * a per-round lazy checkpoint was measured ~1.7× slower (see
    * the block-boundary note below).
    *
    * Returns (top-k result, rounds actually executed, converged) —
    * the (rounds, converged) pair is the convergence certificate
    * GraphSpec asserts on; the registry query uses the result alone.
    * `converged` disambiguates "hit the fixed point exactly at the
    * cap" from "never converged" (both report rounds == maxIters);
    * only a true flag certifies the result equals every longer
    * unroll. An empty node set short-circuits: it is vacuously
    * converged at 0 rounds (the delta probe would read NULL forever
    * and burn all maxIters rounds for an empty relation).
    */
  def pageRankConverged(edges: DataFrame, maxIters: Int, k: Int,
      blockIters: Int = 8): (DataFrame, Int, Boolean) =
    pageRankConverged(prepare(edges), maxIters, k, blockIters)

  def pageRankConverged(g: PreparedGraph, maxIters: Int, k: Int,
      blockIters: Int): (DataFrame, Int, Boolean) = {
    require(maxIters % blockIters == 0,
      "cap must align to block boundaries so the capped run equals " +
        "the unrolled oracle exactly")
    // TWO Dataset ops per round, not four (round 13, second cut):
    // the iterated relation is the IN-EDGE AGGREGATE `inc` (url,
    // inc) — the affine rank map pr = T + (85·inc) div 100 is folded
    // INTO the next round's contribution expression, and a src with
    // no in-edges (absent from `inc`) coalesces to exactly pr = T
    // inside the same expression, so the per-round nodes left-join
    // and teleport projection disappear from the loop entirely (they
    // run ONCE, in the final top-k read). Integer arithmetic is
    // bit-identical to the unrolled [[pageRank]]: the same
    // floor-division ladder evaluates per (src, edge), just composed
    // in one expression instead of two plan nodes. With ~83% of this
    // query's wall time being construction-time Catalyst analysis
    // (H6cAnalysisProbe), halving the ops per round halves the
    // analyzer-invocation count.
    val contrib = expr(
      s"(($TeleportMicro + ($DampingPct * " +
        "coalesce(inc, CAST(0 AS BIGINT))) div 100)) div od")
    def round(inc: DataFrame): DataFrame =
      g.ewd.join(inc, g.ewd("src") === inc("url"), "left")
        .groupBy(g.ewd("dst").as("url"))
        .agg(sum(contrib).as("inc"))
    if (g.nodes.isEmpty) {
      // vacuously converged at 0 rounds (the probe would read NULL
      // forever and burn all maxIters rounds for an empty relation)
      val top = g.nodes.select(col("url"), lit(0L).as("n_in"),
        lit(InitMicro).as("pr")).limit(k)
      return (top, 0, true)
    }
    // round 1 stands alone: pr_0 = InitMicro for every node is a
    // CONSTANT, so the first in-edge aggregate needs no join at all
    var inc = g.ewd.groupBy(g.ewd("dst").as("url"))
      .agg(sum(expr(s"$InitMicro div od")).as("inc"))
      .localCheckpoint(false)
    var rounds = 1
    var converged = false
    var prev: Option[DataFrame] = None
    while (!converged && rounds < maxIters) {
      var next = inc
      // the standalone round 1 above means the FIRST block runs
      // blockIters − 1 rounds, so every boundary (and therefore the
      // reported `rounds`) stays a multiple of blockIters
      val toBoundary =
        if (rounds % blockIters == 0) blockIters
        else blockIters - (rounds % blockIters)
      val step = math.min(toBoundary, maxIters - rounds)
      (1 to step).foreach(_ => next = round(next))
      // LAZY localCheckpoint at the BLOCK boundary: the delta probe
      // below is the first action, so the one job that reads the
      // convergence certificate also materializes the block and
      // truncates its lineage. (A per-round lazy checkpoint was
      // TRIED in round 13 and measured ~1.7× SLOWER same-host: 8
      // per-block RDD persists + per-round physical planning cost
      // more than the chained tree's incremental analysis saves.)
      next = next.localCheckpoint(false)
      rounds += step
      // boundary-to-boundary certificate on the inc relation — the
      // same key set every round (the dst side of ewd), and pr is a
      // per-node function of inc, so inc fixed ⇒ pr fixed; the first
      // boundary has no prior boundary to compare against (the old
      // shape compared against the Init vector there, which never
      // matches a post-teleport boundary)
      converged = prev.exists { p =>
        val delta = next
          .join(p.withColumnRenamed("inc", "inc0"), Seq("url"))
          .agg(max(abs(col("inc") - col("inc0")))).head
        !delta.isNullAt(0) && delta.getLong(0) == 0L
      }
      prev = Some(next)
      inc = next
    }
    // the affine map + node set + in-degree run ONCE, on the way out
    val top = g.nodes.join(inc, Seq("url"), "left")
      .select(col("url"),
        (lit(TeleportMicro) +
          expr(s"($DampingPct * coalesce(inc, CAST(0 AS BIGINT)))" +
            " div 100")).as("pr"))
      .join(g.indeg, col("url") === g.indeg("dst"), "left")
      .select(col("url"),
        coalesce(col("n_in"), lit(0L)).as("n_in"), col("pr"))
      .orderBy(col("pr").desc, col("url").asc)
      .limit(k)
    (top, rounds, converged)
  }

  /** [[pageRankConverged]] with the ITERATION BODY on the RDD API
    * (round-13 verdict item 4 — the last untried lever against the
    * per-round driver cost H6cAnalysisProbe measured at ~83% of
    * h6c's wall time, all of it construction-time Catalyst analysis
    * of the chained-round Dataset tree): DataFrames at entry (the
    * prepared graph) and exit (the top-k read), plain
    * reduceByKey-class rounds in between — an RDD round costs
    * microseconds of DAG construction instead of a full analyzer
    * pass over the accumulated block.
    *
    * Semantics are BIT-IDENTICAL to the Dataset loop: the same
    * integer floor-division ladder per (src, edge) (all quantities
    * are non-negative longs, so Scala `/` == SQL `div`), the same
    * standalone constant round 1, the same block-boundary bit-exact
    * fixed-point certificate — so GraphSpec's equivalence gates and
    * the 48-round unrolled SQL oracle adjudicate both
    * implementations interchangeably.
    *
    * Scale shape per round is the Dataset plan's: the edge relation
    * is hash-partitioned by src ONCE and cached; each round is a
    * co-partitioned (narrow) leftOuterJoin edges⋈inc followed by one
    * shuffle — reduceByKey on dst with map-side combine, into the
    * SAME partitioner, so the next round's join is narrow again.
    * Block boundaries persist the inc relation and the probe job
    * materializes it (lineage stays O(blockIters) deep); the
    * previous boundary unpersists once the certificate read it.
    */
  def pageRankConvergedRdd(g: PreparedGraph, maxIters: Int, k: Int,
      blockIters: Int): (DataFrame, Int, Boolean) = {
    require(maxIters % blockIters == 0,
      "cap must align to block boundaries so the capped run equals " +
        "the unrolled oracle exactly")
    if (g.nodes.isEmpty) {
      val top = g.nodes.select(col("url"), lit(0L).as("n_in"),
        lit(InitMicro).as("pr")).limit(k)
      return (top, 0, true)
    }
    val spark = g.ewd.sparkSession
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val part = new HashPartitioner(
      spark.sessionState.conf.numShufflePartitions)
    val ewd: RDD[(String, (String, Long))] = g.ewd
      .select(col("src"), col("dst"), col("od")).rdd
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2))))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round 1 stands alone (pr_0 is the InitMicro constant), exactly
    // like the Dataset loop
    var inc: RDD[(String, Long)] = ewd
      .map { case (_, (dst, od)) => (dst, InitMicro / od) }
      .reduceByKey(part, _ + _)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val round1 = inc
    def round(cur: RDD[(String, Long)]): RDD[(String, Long)] =
      ewd.leftOuterJoin(cur, part)
        .map { case (_, ((dst, od), incOpt)) =>
          (dst, (TeleportMicro +
            (DampingPct * incOpt.getOrElse(0L)) / 100L) / od)
        }
        .reduceByKey(part, _ + _)
    var rounds = 1
    var converged = false
    var prev: Option[RDD[(String, Long)]] = None
    while (!converged && rounds < maxIters) {
      var next = inc
      val toBoundary =
        if (rounds % blockIters == 0) blockIters
        else blockIters - (rounds % blockIters)
      val step = math.min(toBoundary, maxIters - rounds)
      (1 to step).foreach(_ => next = round(next))
      next.persist(StorageLevel.MEMORY_AND_DISK)
      rounds += step
      val old = prev
      converged = prev.exists { p =>
        // same key set every round (the dst side of ewd), both sides
        // non-empty (nodes non-empty ⇒ edges non-empty here), so the
        // fold's 0 seed can never fake a fixed point
        next.join(p, part)
          .map { case (_, (a, b)) => math.abs(a - b) }
          .fold(0L)(math.max) == 0L
      }
      old.foreach(_.unpersist(blocking = false))
      prev = Some(next)
      inc = next
    }
    import spark.implicits._
    val incDf = inc.toDF("url", "inc")
    val top = g.nodes.join(incDf, Seq("url"), "left")
      .select(col("url"),
        (lit(TeleportMicro) +
          expr(s"($DampingPct * coalesce(inc, CAST(0 AS BIGINT)))" +
            " div 100")).as("pr"))
      .join(g.indeg, col("url") === g.indeg("dst"), "left")
      .select(col("url"),
        coalesce(col("n_in"), lit(0L)).as("n_in"), col("pr"))
      .orderBy(col("pr").desc, col("url").asc)
      .limit(k)
      // materialize the k-row result NOW (localCheckpoint is eager),
      // then drop every persisted intermediate — repeated calls in
      // one session must not accumulate MEMORY_AND_DISK blocks
      // (round-14 advice: ewd, the round-1 block, and the final
      // boundary all outlived the call; only interior boundaries
      // were unpersisted). Mirrors the Dataset loop's hygiene.
      .localCheckpoint()
    ewd.unpersist(blocking = false)
    round1.unpersist(blocking = false)
    if (inc ne round1) inc.unpersist(blocking = false)
    (top, rounds, converged)
  }

  /** PERSONALIZED PageRank (h7) — focused-crawl prioritization: the
    * teleport mass lands ONLY on `seeds` (the pages a seeded topical
    * crawl cares about), so rank measures importance RELATIVE to the
    * seed set — pages unreachable from any seed decay to zero and
    * fall out of the fetch budget. This is the standard PPR
    * formulation restricted to the b1 integer grid: same per-edge
    * floor-division walk as [[pageRank]], teleport = `TeleportMicro`
    * on seeds, 0 elsewhere (so total teleport mass is |seeds|·0.15,
    * not |V|·0.15 — the conventional unnormalized variant; ranks are
    * comparable WITHIN a run, which is all a frontier scheduler
    * needs).
    *
    * The seed set is a plan-time constant (a crawl config, not
    * data): the teleport term compiles to an `IN`-list CASE inside
    * the per-round projection — zero extra joins, zero broadcast.
    * Scale shape per round is identical to [[pageRank]]: one
    * co-located equi-join rank→edges, one map-side-combined dst agg,
    * one left join to nodes. Nodes with rank 0 stay in the relation
    * (they are the frontier candidates being scored down).
    */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[String],
      iters: Int, k: Int): DataFrame =
    personalizedPageRank(prepare(edges), seeds, iters, k)

  def personalizedPageRank(g: PreparedGraph, seeds: Seq[String],
      iters: Int, k: Int): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs seeds")
    def teleport(u: org.apache.spark.sql.Column) =
      when(u.isInCollection(seeds), lit(TeleportMicro))
        .otherwise(lit(0L))
    // Seeds start with the full unit mass, everything else at zero —
    // the walk radiates outward from the seed set.
    var ranks = g.nodes.select(col("url"),
      when(col("url").isInCollection(seeds), lit(InitMicro))
        .otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to iters) {
      val inc = g.ewd.join(ranks, g.ewd("src") === ranks("url"))
        .select(g.ewd("dst").as("url"), expr("pr div od").as("c"))
        .groupBy(col("url")).agg(sum(col("c")).as("inc"))
      ranks = g.nodes.join(inc, Seq("url"), "left")
        .select(col("url"),
          (teleport(col("url")) +
            expr(s"($DampingPct * coalesce(inc, CAST(0 AS BIGINT)))" +
              " div 100")).as("pr"))
    }
    ranks.filter(col("pr") > 0)
      .orderBy(col("pr").desc, col("url").asc)
      .limit(k)
  }

  /** [[personalizedPageRank]] unrolled as DuckDB CTE text — the
    * [[pageRankSql]] convention (shared constants, `//` floors,
    * same IN-list teleport).
    */
  def personalizedPageRankSql(edgesCtes: String, seeds: Seq[String],
      iters: Int, k: Int): String = {
    val seedList = seeds.map(s => s"'$s'").mkString(", ")
    // AS MATERIALIZED per round — the pageRankSql/hitsSql convention
    // (un-materialized rounds inline into one deep join tree that
    // degenerates DuckDB's optimizer at high unrolls).
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.url,
         |    CAST((CASE WHEN n.url IN ($seedList)
         |            THEN $TeleportMicro ELSE 0 END) +
         |      ($DampingPct * coalesce(i$i.inc, 0)) // 100 AS BIGINT)
         |      AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT w.dst AS url, sum(w.pr // w.od) AS inc
         |    FROM (SELECT e.src, e.dst, o.od, r.pr
         |          FROM edges e
         |          JOIN outdeg o ON e.src = o.src
         |          JOIN r${i - 1} r ON e.src = r.url) w
         |    GROUP BY 1) i$i ON n.url = i$i.url)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCtes,
       |outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
       |nodes AS (
       |  SELECT DISTINCT url FROM (
       |    SELECT src AS url FROM edges
       |    UNION ALL SELECT dst AS url FROM edges)),
       |r0 AS (SELECT url,
       |  CAST(CASE WHEN url IN ($seedList) THEN $InitMicro ELSE 0 END
       |    AS BIGINT) AS pr FROM nodes),
       |$rounds
       |SELECT url, pr FROM r$iters WHERE pr > 0
       |ORDER BY pr DESC, url ASC LIMIT $k""".stripMargin
  }

  /** HITS hubs & authorities (h8) — the complementary importance
    * axis to PageRank for crawl scheduling: a good HUB (a listing
    * page linking many good datasets) is where a crawler harvests
    * the most new value per fetch; a good AUTHORITY (linked by many
    * good hubs) is what it should fetch first. Kleinberg's mutual
    * recursion on the b1 integer grid:
    *
    *   a(v) = Σ_{u→v} h(u),  then rescale so max(a) = 1e6
    *   h(u) = Σ_{u→v} a(v),  then rescale so max(h) = 1e6
    *
    * Max-rescaling (instead of sum/L2) keeps every value on
    * [0, 1e6] with ONE 1-row aggregate per half-round, read on the
    * driver and compiled into the rescale projection as a literal —
    * never a window. All arithmetic is integer
    * multiply-then-floor-divide, so the iteration is bit-identical
    * across partitionings and engines. Overflow headroom: after any
    * rescale values are ≤1e6, so the next sum is ≤ indeg·1e6 and the
    * rescale multiply is ≤ indeg·1e12 — Long holds to in/out-degree
    * ~9×10⁶; past that, lift the grid to DECIMAL(38,0) (one cast;
    * the relational shape is unchanged).
    *
    * Scale shape per half-round: one equi-join of scores onto edges
    * (co-located when edges are bucketed by the join side's key),
    * one map-side-combined hash agg, one scalar fold whose job
    * doubles as the cache materialization — ONE barrier per
    * half-round (round-10 verdict item 8). UNLIKE [[pageRank]], the
    * rounds cannot chain into one lazy plan: without a per-round
    * cut, every downstream reference re-embeds the upstream chain
    * and analysis doubles per half-round (measured: a 4-iteration
    * unchained run wedged Catalyst's transformDown for minutes).
    * Each half-round therefore persists — the cached scan plays the
    * role localCheckpoint played, minus the extra materialization
    * job. On a cluster with reliable storage, `checkpoint()`.
    */
  def hits(edges: DataFrame, iters: Int, k: Int): DataFrame =
    hits(prepare(edges), iters, k)

  def hits(g: PreparedGraph, iters: Int, k: Int): DataFrame = {
    val e = g.e
    val nodes = g.nodes
    var hubs = nodes.select(col("url"), lit(InitMicro).as("h"))
    // iters = 0 scores no authority: every node keeps a = 0
    var auths = nodes.select(col("url"), lit(0L).as("a"))
    // ONE barrier per half-round (round-10 verdict item 8): persist
    // the half-round's scores and read the max on the driver — the
    // same job that computes the 1-row max materializes the cache,
    // so the old localCheckpoint-then-broadcast-fold pair (2 jobs)
    // becomes one, and the rescale compiles to a pure projection
    // with the max as a LITERAL (identical integer arithmetic, same
    // hash). The cached scan also keeps every downstream reference
    // O(1), which is what the checkpoint was for.
    def rescale(df: DataFrame, c: String): DataFrame = {
      // LAZY localCheckpoint: the 1-row max probe is the first
      // action, so ONE job materializes the half-round, truncates
      // its lineage, and returns the rescale constant.
      val folded = df.localCheckpoint(false)
      val mxRow = folded.agg(max(col(c))).head
      val mxVal = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
      folded.select(col("url"),
        (if (mxVal > 0) expr(s"($c * $InitMicro) div $mxVal")
         else lit(0L)).as(c))
    }
    // ONE join per half-round (round-18, VERDICT #3): the score
    // relations carry only nodes with an incoming sum between
    // half-rounds — a zero-score node contributes 0 to the next
    // half-round's sums (sum over fewer zero terms is the same sum)
    // and can never change the rescale max (sums are ≥ 0 and the
    // fill value was 0), so the per-half-round `nodes LEFT JOIN`
    // zero-fill was pure carried volume. Zeros are restored ONCE at
    // the final output join below, so the result (and the oracle
    // hash) is bit-identical — the degenerate all-zero half-round
    // (empty raw aggregate → max 0 → empty relation) also reduces to
    // the same all-zero final output through the coalesce.
    for (_ <- 1 to iters) {
      val aRaw = e.join(hubs, e("src") === hubs("url"))
        .groupBy(e("dst").as("url")).agg(sum(col("h")).as("a"))
      auths = rescale(aRaw, "a")
      val hRaw = e.join(auths, e("dst") === auths("url"))
        .groupBy(e("src").as("url")).agg(sum(col("a")).as("h"))
      hubs = rescale(hRaw, "h")
    }
    nodes.join(auths, Seq("url"), "left").join(hubs, Seq("url"), "left")
      .select(col("url"),
        coalesce(col("a"), lit(0L)).as("auth"),
        coalesce(col("h"), lit(0L)).as("hub"))
      .orderBy(col("auth").desc, col("hub").desc, col("url").asc)
      .limit(k)
  }

  /** [[hits]] unrolled as DuckDB CTE text (shared constants; `//`
    * floors; the max-rescale is a 1-row cross join — DuckDB's
    * equivalent of the broadcast fold). Every per-round CTE is
    * `AS MATERIALIZED`: DuckDB re-inlines plain CTEs at every
    * reference, and each round references the previous one from
    * both the rescale's max and its value side — unmaterialized,
    * the chain re-expands down to the parquet scan per reference
    * (exponential; surfaced as "Too many open files"). The c18
    * lesson, applied at authoring time.
    */
  def hitsSql(edgesCtes: String, iters: Int, k: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT n.url, coalesce(x.a, 0) AS a
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS url, sum(h.h) AS a
         |    FROM edges e JOIN h${i - 1} h ON e.src = h.url
         |    GROUP BY 1) x ON n.url = x.url),
         |a$i AS MATERIALIZED (
         |  SELECT r.url,
         |    CASE WHEN m.mx > 0 THEN (r.a * $InitMicro) // m.mx
         |      ELSE 0 END AS a
         |  FROM ar$i r, (SELECT max(a) AS mx FROM ar$i) m),
         |hr$i AS MATERIALIZED (
         |  SELECT n.url, coalesce(x.h, 0) AS h
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.src AS url, sum(a.a) AS h
         |    FROM edges e JOIN a$i a ON e.dst = a.url
         |    GROUP BY 1) x ON n.url = x.url),
         |h$i AS MATERIALIZED (
         |  SELECT r.url,
         |    CASE WHEN m.mx > 0 THEN (r.h * $InitMicro) // m.mx
         |      ELSE 0 END AS h
         |  FROM hr$i r, (SELECT max(h) AS mx FROM hr$i) m)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCtes,
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT url FROM (
       |    SELECT src AS url FROM edges
       |    UNION ALL SELECT dst AS url FROM edges)),
       |h0 AS MATERIALIZED (
       |  SELECT url, CAST($InitMicro AS BIGINT) AS h FROM nodes),
       |$rounds
       |SELECT n.url, CAST(a.a AS BIGINT) AS auth,
       |  CAST(h.h AS BIGINT) AS hub
       |FROM nodes n JOIN a$iters a ON n.url = a.url
       |JOIN h$iters h ON n.url = h.url
       |ORDER BY auth DESC, hub DESC, n.url ASC LIMIT $k""".stripMargin
  }

  /** The identical unrolled iteration as DuckDB CTE text.
    * `edgesCtes` must end with a relation `edges(src, dst)`; the
    * caller prepends `WITH `. Every constant is the shared field
    * above, so the two sides cannot drift on the arithmetic.
    */
  def pageRankSql(edgesCtes: String, iters: Int, k: Int): String = {
    // Every per-round CTE is AS MATERIALIZED (the hitsSql/c18
    // lesson): each r_i is referenced only once, but un-materialized
    // rounds inline into one `iters`-deep join tree and DuckDB's
    // optimizer degenerates on it (a 48-round unroll planned for
    // minutes; materialized, each round plans alone in milliseconds).
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.url,
         |    CAST($TeleportMicro +
         |      ($DampingPct * coalesce(i$i.inc, 0)) // 100 AS BIGINT)
         |      AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT w.dst AS url, sum(w.pr // w.od) AS inc
         |    FROM (SELECT e.src, e.dst, o.od, r.pr
         |          FROM edges_m e
         |          JOIN outdeg o ON e.src = o.src
         |          JOIN r${i - 1} r ON e.src = r.url) w
         |    GROUP BY 1) i$i ON n.url = i$i.url)""".stripMargin
    }.mkString(",\n")
    // edges/outdeg/nodes are referenced once PER ROUND: DuckDB
    // re-inlines plain CTEs at every reference, so an unmaterialized
    // edge extraction would re-run `iters` times (the hitsSql/c18
    // lesson — at the h6c unroll depth that is the whole runtime).
    s"""WITH $edgesCtes,
       |edges_m AS MATERIALIZED (SELECT src, dst FROM edges),
       |outdeg AS MATERIALIZED (
       |  SELECT src, count(*) AS od FROM edges_m GROUP BY 1),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT url FROM (
       |    SELECT src AS url FROM edges_m
       |    UNION ALL SELECT dst AS url FROM edges_m)),
       |r0 AS (SELECT url, CAST($InitMicro AS BIGINT) AS pr FROM nodes),
       |$rounds,
       |ind AS (
       |  SELECT dst AS url, count(*) AS n_in FROM edges_m GROUP BY 1)
       |SELECT r.url, coalesce(ind.n_in, 0)::BIGINT AS n_in, r.pr
       |FROM r$iters r LEFT JOIN ind ON r.url = ind.url
       |ORDER BY r.pr DESC, r.url ASC LIMIT $k""".stripMargin
  }
}
