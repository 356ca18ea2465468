package graft

import graft.ingest.Pipeline
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Materialized analytics over the records table: the reference
  * recomputes its analytics and `status` on every CLI call
  * (ethical_crawler.py:1274–1349, :1416–1529); at 100 TB a standing
  * dashboard query must not re-scan an unchanged corpus, nor the whole
  * corpus after an append.
  *
  * Every `analytics` view and `status`'s per-source counts are served
  * from one [[AnalyticsState]] kept as parquet in one directory
  * ([[State]]) by [[Lineage.maintain]] over the records files, its
  * record naming them relative to the table: an append by another
  * writer is aggregated alone and appended, a `collect` appends its new
  * rows' state on the driver, and any other change rebuilds it in one
  * pass. The state, merged per key, is also held on the driver for as
  * long as the directory holds the files it merges (a `collect` merges
  * its rows into both), so serving after a `collect` reads no state
  * file and the views project it on the driver, with no Spark job; the
  * state is small, one row per source, type, day, license, tag and
  * (source, type) pair. Serving folds a state grown to many files into
  * one. A transactional table format's snapshot ids subsume the record
  * at scale; the contract (compare source version to built-from
  * version) is the same.
  */
object Mv {

  /** The analytics state of the records table `pipeline` writes, kept
    * in `dir`. Its record counts only under the session time zone the
    * state was built in (its `day` keys depend on it), so a zone change
    * rebuilds.
    */
  final class State(spark: SparkSession, dir: String, pipeline: Pipeline) {
    /** The most state files [[served]] merges before it folds them. */
    private val FoldAt = 16
    private val zoneFile = new Path(dir, "_graft_zone")
    private def zone = spark.sessionState.conf.sessionLocalTimeZone
    private def fs = zoneFile.getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def store: Lineage.Store = new Lineage.Dir(spark, dir,
      scala.util.Try {
        val in = fs.open(zoneFile)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }.toOption.contains(zone))

    /** The state files last read or written here, and their state
      * merged per key: while the directory holds exactly these files,
      * serving reads none of them.
      */
    private var kept: (Set[FixtureCache.FileStamp], Seq[AnalyticsState.Part]) =
      (Set.empty, Nil)

    /** The state, merged per key, after bringing it up to the records
      * files: nothing to do after a `collect` ([[cover]]), the state of
      * the uncovered files appended after another writer's append, one
      * pass over the table after anything else. The merged rows come
      * from [[kept]] when the directory still holds its files (after a
      * `collect`, which keeps it), else from one read of the files. A
      * current state of more than [[FoldAt]] files (each `collect` adds
      * one) is first folded into one file. The first call on a catalog
      * reads or builds the state; after a `collect` a call only lists
      * the two directories.
      */
    def served(): Seq[AnalyticsState.Part] = synchronized {
      def write(records: DataFrame, mode: SaveMode): Unit =
        AnalyticsState.of(records).write.mode(mode).parquet(dir)
      val listed = Lineage.stamps(spark, pipeline.recordsPath)
      Lineage.maintain(listed, store,
        Some(files => write(pipeline.recordsFiles(files), SaveMode.Append)),
        () => {
          val r = pipeline.dataRecords
          write(r, SaveMode.Overwrite)
          val out = fs.create(zoneFile, true)
          try out.write(zone.getBytes(UTF_8)) finally out.close()
          Lineage.inputs(spark, pipeline.recordsPath, r)
        })
      val files = store.outputs
      if (kept._1 != files.toSet) kept = (files.toSet,
        AnalyticsState.merged(Catalog.resolved(spark, dir,
          Some(AnalyticsState.Schema)))
          .as[AnalyticsState.Part](AnalyticsState.PartEncoder).collect().toSeq)
      if (files.size > FoldAt) store.current(listed).foreach { record =>
        // the merged rows go in before the old files go; a crash in
        // between leaves outputs other than the recorded ones: a rebuild
        val folded = Catalog.appendRows(spark, kept._2,
          AnalyticsState.PartEncoder, dir)
        files.foreach(f => fs.delete(new Path(dir + f._1), false))
        store.write(record.covered)
        kept = (folded.toSet, kept._2)
      }
      kept._2
    }

    /** Keep a current state current across a `collect`'s write: the
      * written rows' state is computed and appended on the driver, with
      * no Spark job ([[Lineage.cover]]), and merged into [[kept]] when
      * that holds the files the append adds to.
      */
    def cover(a: Pipeline.Appended): Unit = synchronized {
      Lineage.cover(a.listed, a.written, store) {
        val before = store.outputs.toSet
        val delta = AnalyticsState.parts(spark, a.rows)
        val written = Catalog.appendRows(spark, delta,
          AnalyticsState.PartEncoder, dir)
        if (kept._1 == before)
          kept = (before ++ written,
            AnalyticsState.perKey((kept._2 ++ delta).iterator).toSeq)
      }
    }
  }

  /** CDC-DRIVEN rollup maintenance — incremental view maintenance
    * under UPDATES and DELETES, not just appends: apply a
    * [[Versioned.changes]] feed (fromV → toV) to a count+long-sum
    * rollup materialized as of fromV, via the classic delta rule
    *   mv' = mv + f(after-image) − f(before-image).
    * Inserts add their after-image; deletes subtract their carried
    * before-image; updates subtract the fromV pre-image and add the
    * after-image — which also moves mass correctly when the GROUP
    * column itself changed, which an append-only state cannot do ([[State]]
    * sees a CoW rewrite as an invalid record and rebuilds).
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
