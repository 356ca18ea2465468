package perfbench

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry pass `serve` runs as one of its op kinds: one query
  * from each `Queries*` family map, looked up in `SparkEntry.queries`
  * (the shipped configuration) and executed with a noop sink, as
  * `graft.Bench` executes them. The queries read the seeded tables
  * `tables.py` writes. The results of the first, untimed pass are
  * checked against DuckDB running each query's `SparkEntry.oracleSql`
  * over the same tables (`run.py`).
  */
object Registry {

  /** (family, its map, the query run from it): a star join with top-k,
    * exact deduplication, text statistics, grouped percentiles,
    * PageRank over a page graph, windowed event counts.
    */
  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame], String)] =
    Seq(
      ("core", QueriesCore.queries, "q3_top_revenue_orders"),
      ("dedup_sim", QueriesDedupSim.queries, "n2_exact_dedup"),
      ("text", QueriesText.queries, "t1_token_stats"),
      ("pipeline", QueriesPipeline.queries, "e2_percentiles"),
      ("search", QueriesSearch.queries, "h6_pagerank"),
      ("stream_versioned", QueriesStreamVersioned.queries,
        "st1_tumbling_counts"))

  Families.foreach { case (f, m, q) =>
    require(m.contains(q), s"$q is not in the $f family")
  }

  /** One pass: each family's query as a named child span of the op.
    * With `keepTo`, each result is written there as parquet (for the
    * check) instead of to the noop sink.
    */
  def pass(h: Option[Harness], spark: SparkSession, tables: String,
      keepTo: Option[String] = None): Unit =
    Families.foreach { case (family, _, name) =>
      def run(): Unit = {
        val df = SparkEntry.queries(name)(spark, tables)
        keepTo match {
          case Some(dir) =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          case None => df.write.format("noop").mode("overwrite").save()
        }
      }
      h match {
        case Some(h) => h.verb(s"registry.$family")(run())
        case None => run()
      }
    }
}
