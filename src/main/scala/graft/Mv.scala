package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized views over path-based tables: a named result cached as
  * parquet next to its sources, refreshed only when a source has
  * changed since the last build (mtime watermark), with an INCREMENTAL
  * path for append-only rollups. The reference recomputes its
  * analytics on every CLI call (ethical_crawler.py:1274–1349); at
  * 100 TB a standing dashboard query must not re-scan an unchanged
  * corpus — this is the standard freshness contract (compute on
  * change, serve from the materialization otherwise).
  *
  * Freshness is tracked with a watermark FILE (`_graft_mv_watermark`,
  * the max source-file mtime observed at build time) rather than the
  * view directory's own mtime: rewrites, compactions and
  * filesystem-dependent directory-mtime semantics would all make the
  * latter lie. A transactional table format's snapshot ids subsume
  * this at scale; the contract (compare source version to built-from
  * version) is the same.
  */
object Mv {

  final case class View(path: String, sources: Seq[String])

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val WatermarkFile = "_graft_mv_watermark"

  /** Max data-file modification time under `p` (recursive; 0 if the
    * path is missing). Underscore-prefixed files (markers, _SUCCESS)
    * are metadata, not data — excluded so writing the watermark never
    * advances the watermark.
    */
  def maxMtime(spark: SparkSession, p: String): Long =
    dataFiles(spark, p).map(_.getModificationTime).foldLeft(0L)(math.max)

  /** Data files under `p` newer than `sinceMtime` — the append-only
    * delta since the last refresh.
    */
  def filesNewerThan(spark: SparkSession, p: String, sinceMtime: Long)
      : Seq[String] =
    dataFiles(spark, p).filter(_.getModificationTime > sinceMtime)
      .map(_.getPath.toString)

  private def dataFiles(spark: SparkSession, p: String) =
    Catalog.files(spark, p).filterNot(_.getPath.getName.startsWith("_"))

  private def readWatermark(spark: SparkSession, viewPath: String): Long = {
    val fs = fsOf(spark, viewPath)
    val wm = new Path(viewPath, WatermarkFile)
    if (!fs.exists(wm)) 0L
    else {
      val in = fs.open(wm)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  private def writeWatermark(spark: SparkSession, viewPath: String,
      mtime: Long): Unit = {
    val fs = fsOf(spark, viewPath)
    val out = fs.create(new Path(viewPath, WatermarkFile), true)
    try out.write(mtime.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** A view is stale when any source data file is newer than the
    * watermark recorded at its last build (or it has never been built).
    */
  def isStale(spark: SparkSession, view: View): Boolean =
    !Catalog.tableExists(spark, view.path) || {
      val wm = readWatermark(spark, view.path)
      view.sources.exists(s => maxMtime(spark, s) > wm)
    }

  /** Full rebuild: snapshot the source watermark FIRST (a write that
    * races the build invalidates the view on the next check instead of
    * being missed), materialize via write-temp-then-swap, record the
    * watermark.
    */
  def refresh(spark: SparkSession, view: View,
      build: SparkSession => DataFrame): Unit = {
    val wm = view.sources.map(maxMtime(spark, _)).foldLeft(0L)(math.max)
    val tmp = view.path + "__mv_tmp"
    Catalog.overwrite(build(spark), tmp)
    Catalog.replace(spark, tmp, view.path)
    writeWatermark(spark, view.path, wm)
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
    * .incrementalRollup]] shape): aggregate ONLY the source files
    * appended since the last watermark and full-outer-merge the delta
    * into the materialized rollup. Cost per refresh is O(delta) +
    * O(|view|) — independent of total source size, which is the whole
    * point at 100 TB (the full rebuild re-scans everything). Sources
    * that rewrite rows in place need [[refresh]]; this is the
    * fast path for K4/K5 append-style tables.
    */
  def refreshIncrementalRollup(spark: SparkSession, view: View,
      key: String, valueCol: String): Unit = {
    require(view.sources.size == 1,
      "incremental rollup views have exactly one source")
    val source = view.sources.head
    val wm0 = if (Catalog.tableExists(spark, view.path))
      readWatermark(spark, view.path) else 0L
    val delta = filesNewerThan(spark, source, wm0)
    if (delta.isEmpty) return
    // Watermark = max mtime OF THE FILES PROCESSED (not of the source
    // now): a file appended between the listing and this line is left
    // above the watermark for the next refresh instead of silently
    // skipped or double-counted.
    val fs = fsOf(spark, source)
    val wm = delta.map(f =>
      fs.getFileStatus(new Path(f)).getModificationTime).max
    val deltaRollup = operators.AnalyticsOps.rollup(
      spark.read.schema(Catalog.load(spark, source).schema)
        .parquet(delta: _*),
      key, valueCol)
    val merged =
      if (wm0 == 0L) deltaRollup.orderBy(org.apache.spark.sql
        .functions.col(key).asc)
      else operators.AnalyticsOps.mergeRollups(
        Catalog.load(spark, view.path), deltaRollup, key)
    val tmp = view.path + "__mv_tmp"
    // The merged plan READS view.path — materialize before the swap
    // deletes what it reads (write-temp-then-swap already guarantees
    // this: the tmp write runs the read to completion first).
    Catalog.overwrite(merged, tmp)
    Catalog.replace(spark, tmp, view.path)
    writeWatermark(spark, view.path, wm)
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
    * cannot do (append-only watermarks see a CoW rewrite as a
    * full re-append).
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
