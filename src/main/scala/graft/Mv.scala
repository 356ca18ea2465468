package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized views over path-based tables: a named result cached as
  * parquet next to its source, refreshed only when the source has
  * changed since the last build, with an INCREMENTAL path for
  * append-only rollups. The reference recomputes its analytics on every
  * CLI call (ethical_crawler.py:1274–1349); at 100 TB a standing
  * dashboard query must not re-scan an unchanged corpus — this is the
  * standard freshness contract (compute on change, serve from the
  * materialization otherwise).
  *
  * A view is kept by [[Lineage.maintain]] over its source's data
  * files, its record in the view's directory naming them relative to
  * the source. A view recorded by full paths, as earlier versions
  * wrote them, reads as not valid and is rebuilt once. A
  * transactional table format's snapshot ids subsume this at scale;
  * the contract (compare source version to built-from version) is the
  * same.
  */
object Mv {

  final case class View(path: String, source: String)

  /** Materialize `df` as the view: write to a temp dir, then swap. */
  private def swap(spark: SparkSession, view: View, df: DataFrame): Unit = {
    val tmp = view.path + "__mv_tmp"
    Catalog.overwrite(df, tmp)
    Catalog.replace(spark, tmp, view.path)
  }

  /** Serve the view, rebuilt from `build` after any added, deleted or
    * rewritten source file, as the relation resolved at its current
    * version ([[Catalog.resolved]]).
    */
  def readFresh(spark: SparkSession, view: View, build: => DataFrame)
      : DataFrame = {
    Lineage.maintain(Lineage.stamps(spark, view.source),
      new Lineage.Dir(spark, view.path), None, () => {
        val df = build
        swap(spark, view, df)
        Lineage.inputs(spark, view.source, df)
      })
    Catalog.resolved(spark, view.path)
  }

  /** Incremental refresh for an APPEND-ONLY rollup (count + long-sum
    * per key, the [[operators.AnalyticsOps.incrementalRollup]] shape):
    * aggregate ONLY the source files its record leaves uncovered and
    * full-outer-merge the delta into the materialized rollup. Cost per
    * refresh is O(delta) + O(|view|) — independent of total source
    * size, which is the whole point at 100 TB (the full rebuild
    * re-scans everything). Any other change rolls every source file up
    * again; sources that rewrite rows in place need [[readFresh]].
    */
  def refreshIncrementalRollup(spark: SparkSession, view: View,
      key: String, valueCol: String): Unit = {
    val base = FixtureCache.qualified(spark, view.source)
    def rollup(files: Seq[FixtureCache.FileStamp]) =
      operators.AnalyticsOps.rollup(
        spark.read.schema(Catalog.load(spark, view.source).schema)
          .parquet(files.map(base + _._1): _*),
        key, valueCol)
    val listed = Lineage.stamps(spark, view.source)
    // The merged plan READS view.path — the swap's temp write runs that
    // read to completion before the swap deletes what it reads.
    Lineage.maintain(listed, new Lineage.Dir(spark, view.path),
      Some(files => swap(spark, view, operators.AnalyticsOps.mergeRollups(
        Catalog.load(spark, view.path), rollup(files), key))),
      () => {
        swap(spark, view, rollup(listed)
          .orderBy(org.apache.spark.sql.functions.col(key).asc))
        listed.map(_._1).toSet
      })
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
