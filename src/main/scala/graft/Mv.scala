package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized views over path-based tables: a named result cached as
  * parquet next to its sources, refreshed only when a source has
  * changed since the last build, with an INCREMENTAL path for
  * append-only rollups. The reference recomputes its analytics on every
  * CLI call (ethical_crawler.py:1274–1349); at 100 TB a standing
  * dashboard query must not re-scan an unchanged corpus — this is the
  * standard freshness contract (compute on change, serve from the
  * materialization otherwise).
  *
  * Freshness is a [[Lineage]] record in the view's directory, not a
  * max mtime nor the directory's own mtime: a view is current while
  * its record is valid for its sources' data files as listed now and
  * leaves none uncovered, so an added, deleted or rewritten source file
  * makes it stale. A transactional table format's snapshot ids subsume
  * this at scale; the contract (compare source version to built-from
  * version) is the same.
  */
object Mv {

  final case class View(path: String, sources: Seq[String])

  /** The data files of the view's sources, each by its full path, and
    * the view's record when it is valid for them.
    */
  private def lineage(spark: SparkSession, view: View)
      : (Seq[FixtureCache.FileStamp], Option[Lineage]) = {
    val in = view.sources.flatMap(s => Lineage.stamps(spark, s).map {
      case (rel, size, mtime) => (s + rel, size, mtime)
    })
    (in, Lineage.read(spark, view.path)
      .filter(_.valid(in, Lineage.stamps(spark, view.path))))
  }

  /** A view is stale when it has never been built, or its source files
    * or its own files are not the ones its last build recorded.
    */
  def isStale(spark: SparkSession, view: View): Boolean = {
    val (in, record) = lineage(spark, view)
    !record.exists(_.uncovered(in).isEmpty)
  }

  /** Full rebuild: list the sources FIRST (a write that races the build
    * is left uncovered and makes the view stale on the next check),
    * materialize via write-temp-then-swap, record the listing.
    */
  def refresh(spark: SparkSession, view: View,
      build: SparkSession => DataFrame): Unit = {
    val covered = lineage(spark, view)._1
    val tmp = view.path + "__mv_tmp"
    Catalog.overwrite(build(spark), tmp)
    Catalog.replace(spark, tmp, view.path)
    Lineage.write(spark, view.path, covered)
  }

  /** Serve the view, rebuilding only if stale — the read path every
    * caller uses. A fresh view is served as the relation resolved at
    * its current version ([[Catalog.resolved]]).
    */
  def readFresh(spark: SparkSession, view: View,
      build: SparkSession => DataFrame): DataFrame = {
    if (isStale(spark, view)) refresh(spark, view, build)
    Catalog.resolved(spark, view.path)
  }

  /** Incremental refresh for an APPEND-ONLY single-source rollup
    * (count + long-sum per key, the [[operators.AnalyticsOps
    * .incrementalRollup]] shape): aggregate ONLY the source files its
    * record leaves uncovered and full-outer-merge the delta into the
    * materialized rollup. Cost per refresh is O(delta) + O(|view|) —
    * independent of total source size, which is the whole point at
    * 100 TB (the full rebuild re-scans everything). A view with no
    * valid record (never built, or a covered file deleted or
    * rewritten) is rolled up from every source file; sources that
    * rewrite rows in place need [[refresh]].
    */
  def refreshIncrementalRollup(spark: SparkSession, view: View,
      key: String, valueCol: String): Unit = {
    require(view.sources.size == 1,
      "incremental rollup views have exactly one source")
    val source = view.sources.head
    val (in, prior) = lineage(spark, view)
    val delta = prior.fold(in)(_.uncovered(in))
    if (delta.isEmpty) return
    val deltaRollup = operators.AnalyticsOps.rollup(
      spark.read.schema(Catalog.load(spark, source).schema)
        .parquet(delta.map(_._1): _*),
      key, valueCol)
    val merged =
      if (prior.isEmpty) deltaRollup.orderBy(org.apache.spark.sql
        .functions.col(key).asc)
      else operators.AnalyticsOps.mergeRollups(
        Catalog.load(spark, view.path), deltaRollup, key)
    val tmp = view.path + "__mv_tmp"
    // The merged plan READS view.path — materialize before the swap
    // deletes what it reads (write-temp-then-swap already guarantees
    // this: the tmp write runs the read to completion first).
    Catalog.overwrite(merged, tmp)
    Catalog.replace(spark, tmp, view.path)
    Lineage.write(spark, view.path, in)
  }

  /** CDC-DRIVEN rollup maintenance — incremental view maintenance
    * under UPDATES and DELETES, not just appends: apply a
    * [[Versioned.changes]] feed (fromV → toV) to a count+long-sum
    * rollup materialized as of fromV, via the classic delta rule
    *   mv' = mv + f(after-image) − f(before-image).
    * Inserts add their after-image; deletes subtract their carried
    * before-image; updates subtract the fromV pre-image and add the
    * after-image — which also moves mass correctly when the GROUP
    * column itself changed. This is the piece [[refreshIncrementalRollup]]
    * cannot do (it sees a CoW rewrite as an invalid record and rolls
    * the whole source up again).
    *
    * Pre-images for updated keys are looked up in the fromV snapshot
    * restricted by left-semi to the feed's update keys — key-bounded
    * and served by the same footer-stat pruning as the merge planner,
    * so the refresh cost is O(|feed|) + O(|view|), independent of
    * table size. At 100 TB the `mv` argument is the STORED view
    * relation (here the caller materializes it; the algebra is what's
    * maintained).
    */
  def applyCdcRollup(spark: SparkSession, mv: DataFrame, table: String,
      fromV: Int, toV: Int, keys: Seq[String], groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val feed = Versioned.changes(spark, table, fromV, toV, keys)
    val sgn = (s: Int, df: DataFrame) => df.select(
      col(groupCol),
      lit(s.toLong).as("__n"),
      (col(valueCol).cast("long") * s).as("__v"))
    val plus = sgn(1,
      feed.filter(col("change_type").isin("insert", "update")))
    val minusDel = sgn(-1, feed.filter(col("change_type") === "delete"))
    // update pre-images: fromV rows for exactly the updated keys
    val updKeys = feed.filter(col("change_type") === "update")
      .select(keys.map(col): _*)
    val minusUpd = sgn(-1,
      Versioned.snapshot(spark, table, fromV)
        .join(updKeys, keys, "left_semi"))
    val delta = plus.unionByName(minusDel).unionByName(minusUpd)
      .groupBy(col(groupCol))
      .agg(sum(col("__n")).as("n_docs"),
        sum(col("__v")).as("total_chars"))
    operators.AnalyticsOps.mergeRollups(mv, delta, groupCol)
      // maintenance can leave emptied groups at (0, 0) — drop them so
      // the maintained view equals the recompute (which never has them)
      .filter(col("n_docs") =!= 0L)
  }
}
