package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Input-versioned fixture caching: rewriting a table inside a live
  * process must rebuild every artifact derived from it, while an
  * unchanged table keeps serving the cached object.
  */
class FixtureCacheSpec extends SparkSpec {

  private def copyOf(src: String, prefix: String): String = {
    val d = tmpDir(prefix)
    new File(src).listFiles.foreach(f =>
      Files.copy(f.toPath, Paths.get(d, f.getName)))
    d
  }

  private def query(name: String, dir: String): Seq[Row] =
    SparkEntry.queries(name)(spark, dir).collect().toSeq

  private def answers(dir: String): Map[String, Any] =
    Seq("h6_pagerank", "l2_fts_search", "n9_dup_clusters")
      .map(q => q -> query(q, dir)).toMap ++ Map(
        "footerRows" -> RegistryFixtures.footerRows(spark,
          Tables.path(dir, "documents")),
        "documents" -> Tables.documents(spark, dir).count())

  private def assertServedFromCache(dir: String): Unit = {
    assert(RegistryFixtures.pageGraph(spark, dir) eq
      RegistryFixtures.pageGraph(spark, dir))
    assert(RegistryFixtures.servedFts(spark, dir) eq
      RegistryFixtures.servedFts(spark, dir))
    assert(RegistryFixtures.dupPairsClusters(spark, dir) eq
      RegistryFixtures.dupPairsClusters(spark, dir))
    assert(Tables.documents(spark, dir) eq Tables.documents(spark, dir))
  }

  test("rewriting documents in place rebuilds every derived fixture") {
    val dir = copyOf(sfSmoke, "fixture_cache")
    val before = answers(dir)
    assertServedFromCache(dir)

    val subset = tmpDir("fixture_cache_subset") + "/out"
    spark.read.parquet(s"$sfSmoke/documents.parquet")
      .filter(col("doc_id") % 4 =!= 1)
      .coalesce(1).write.parquet(subset)
    val part = new File(subset).listFiles
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(dir, "documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val after = answers(dir)
    // recompute: the same registry calls over a directory no cache
    // has seen, holding the rewritten file
    val fresh = answers(copyOf(dir, "fixture_cache_fresh"))
    before.keys.foreach { k =>
      assert(after(k) != before(k), s"$k still serves the old input")
      assert(after(k) == fresh(k), s"$k differs from a recompute")
    }
    assertServedFromCache(dir)
  }

  test("an input named by a file: URI rebuilds after a rewrite") {
    val table = new File(tmpDir("fixture_cache_uri"), "t")
    val uri = table.toURI.toString
    assert(uri.startsWith("file:"))
    val cache = new FixtureCache[String, Long]
    var builds = 0
    def rows(): Long = cache(spark, "t", uri) {
      builds += 1
      spark.read.parquet(uri).count()
    }
    def write(n: Int): Unit =
      spark.range(n).write.mode("overwrite").parquet(uri)
    write(3)
    assert(rows() == 3 && rows() == 3 && builds == 1)
    write(5)
    assert(rows() == 5 && builds == 2, "a file: input was served stale")
  }
}
