package graft

import graft.ingest._
import graft.operators.ReferenceOps
import java.sql.Timestamp
import java.time.{Clock, Instant}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.immutable.ListMap

/** Equality witness for the analytics state: after each kind of write
  * to the records table, every view from `analytics()` and from
  * `analyticsMaterialized` (of the Graft that wrote, and of a new one,
  * which merges the state's files, not the state the writer holds)
  * equals its `ReferenceOps` frame over
  * `records`, rows, order and column types. Each case then collects
  * once more, so the state it left is also extended on the driver and
  * served merged with that delta. The session runs in a zone other
  * than UTC, and the records straddle its day boundaries and a DST
  * change, so a day key taken in another zone shows.
  */
class AnalyticsStateSpec extends SparkSpec {

  /** Each view as the records table computes it directly. */
  private val reference: ListMap[String, DataFrame => DataFrame] = ListMap(
    "source_stats" -> (r => ReferenceOps.sourceStats(r, key = "source_name",
      distinctCol = "data_type", avgCol = "size_bytes",
      spanCol = "ingested_at")),
    "type_counts" -> (r => ReferenceOps.typeCounts(r, "data_type")),
    "popular_tags" -> (r => ReferenceOps.popularTags(r, col("tags"), 20)),
    "temporal_activity" -> (r => ReferenceOps.temporalActivity(r, "ingested_at")),
    "license_distribution" ->
      (r => ReferenceOps.licenseDistribution(r, "license_info")))

  private val zone = "America/New_York"

  /** An adapter that passes its compliance check and discovers `rows`. */
  private def adapter(rows: Seq[DataRecord]): Adapter = new Adapter {
    val source = DataSource("Fixture", "https://example.org", "", false, 1e6,
      "", "", "public")
    val apiKey: Option[String] = None
    val fetcher: HttpFetcher = null
    val clock: Clock = Clock.systemUTC()
    val robots: RobotsChecker = null
    override def checkCompliance(): ComplianceCheck = ComplianceCheck(
      "Fixture", true, true, true, true, new Timestamp(0L), Nil, Nil)
    def discover(): Seq[DataRecord] = rows
  }

  private def rec(src: String, id: String, tpe: String, at: String,
      tags: Seq[String], size: Option[Long], license: Option[String]) =
    DataRecord(src, id, s"title $id", Some(s"about $id"), tpe,
      s"https://example.org/$id", "{}", None, tags, None,
      Timestamp.from(Instant.parse(at)), None, size, license)

  private val nyc = "NYC Open Data"
  private val sec = "SEC EDGAR"

  // 03:00Z and 06:00Z on Jan 1 fall on two New York days; 06:30Z on
  // Mar 8 is 01:30 EST, the night New York springs forward
  private val base = Seq(
    rec(nyc, "a-1", "dataset", "2026-01-01T03:00:00Z",
      Seq("open", "", "open", "transit"), Some(100L), Some("public")),
    rec(nyc, "a-2", "dataset", "2026-01-01T06:00:00Z", Nil, None, None),
    rec(nyc, "a-3", "map", "2026-03-08T06:30:00Z", null, Some(7L), Some("cc-by")),
    rec(nyc, "a-4", null, "2026-03-08T12:00:00.123456Z", Seq("transit", null),
      Some(40L), Some("public")),
    rec(sec, "s-1", "filing", "2026-01-01T04:59:59Z", Seq("finance"),
      Some(1000L), None),
    rec(sec, "s-2", "filing", "2026-01-02T05:00:00Z", Seq("finance", "open"),
      None, Some("public")))

  // a New York day already in `base` (Dec 31), reached from a later UTC
  // day, a new last time for both sources, and a new type and tag
  private def more(tag: String) = Seq(
    rec(nyc, s"$tag-1", "dataset", "2026-01-01T02:00:00Z", Seq("open", tag),
      Some(5L), Some("public")),
    rec(nyc, s"$tag-2", "report", "2026-04-01T03:30:00Z", Seq(tag), None, None),
    rec(sec, s"$tag-3", "filing", "2026-04-02T01:00:00Z", Nil, Some(9L),
      Some("cc-by")))

  private def assertViews(g: Graft, dir: String, what: String): Unit = {
    val records = g.records
    val fresh = g.analytics()
    // a new Graft holds no merged state, so it merges the state's files
    val cold = new Graft(spark, dir)
    reference.foreach { case (v, ref) =>
      val want = ref(records)
      val types = want.schema.map(f => f.name -> f.dataType)
      Seq("analytics" -> fresh(v),
        "analyticsMaterialized" -> g.analyticsMaterialized(v),
        "analyticsMaterialized in a new Graft" -> cold.analyticsMaterialized(v))
        .foreach { case (verb, got) =>
          assert(got.schema.map(f => f.name -> f.dataType) == types,
            s"$what: $verb($v)")
          assert(got.collect().toSeq == want.collect().toSeq, s"$what: $verb($v)")
        }
    }
  }

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tear(record: Path)(cut: Array[Byte] => Array[Byte]): Unit = {
    val in = fs.open(record)
    val bytes = try in.readAllBytes() finally in.close()
    val out = fs.create(record, true)
    try out.write(cut(bytes)) finally out.close()
  }

  /** How serving after a write brings the state up to date. */
  private sealed trait Follows
  private case object Covered extends Follows
  private case object Extended extends Follows
  private case object Rebuilt extends Follows

  /** (name, how the state follows, the write). */
  private val cases: Seq[(String, Follows, (Graft, String) => Unit)] = Seq(
    ("a collect", Covered, (g, _) =>
      assert(g.collect(Seq(adapter(more("c")))) == 3)),
    ("collectStream", Extended, { (g, dir) =>
      import spark.implicits._
      more("c").toDS.toDF.coalesce(1).write.parquet(dir + "/landing/b0")
      g.collectStream(dir + "/landing/*", dir + "/cp")
    }),
    ("an upsert", Rebuilt, (_, dir) => new Pipeline(spark, dir).upsertRecords(Seq(
      rec(nyc, "a-2", "map", "2026-01-03T12:00:00Z", Seq("open"), Some(3L),
        Some("public")),
      rec(sec, "s-9", "filing", "2026-02-01T00:00:00Z", Nil, None, None)))),
    ("backfillEmbeddings", Rebuilt, (g, _) => assert(g.backfillEmbeddings() == 6L)),
    ("Catalog.compact", Rebuilt,
      (_, dir) => Catalog.compact(spark, dir + "/data_records")),
    ("a partition takedown", Rebuilt, (_, dir) =>
      assert(fs.delete(new Path(s"$dir/data_records/source_name=$sec"), true))),
    ("a torn _graft_lineage", Rebuilt, (_, dir) =>
      tear(new Path(dir, "mv/_analytics/_graft_lineage"))(b =>
        b.take(b.lastIndexOf('\n'.toByte, b.length - 2) - 5))),
    ("a session time zone change", Rebuilt, (_, _) =>
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")))

  cases.foreach { case (name, follows, write) =>
    test(s"every analytics view equals its ReferenceOps frame after $name, " +
        "and after a collect then") {
      val dir = tmpDir("analyticsstate")
      val g = new Graft(spark, dir)
      def stateFiles = Lineage.stamps(spark, dir + "/mv/_analytics").toSet
      spark.conf.set("spark.sql.session.timeZone", zone)
      try {
        assert(g.collect(Seq(adapter(base))) == base.size)
        assertViews(g, dir, "the first build")
        val built = stateFiles
        write(g, dir)
        assertViews(g, dir, s"after $name")
        val after = stateFiles
        follows match {
          case Covered | Extended =>
            assert(built.subsetOf(after) && after.size == built.size + 1, name)
          case Rebuilt => assert((after intersect built).isEmpty, name)
        }
        assert(g.collect(Seq(adapter(more("d")))) == 3)
        assertViews(g, dir, s"after $name, then a collect")
        assert(after.subsetOf(stateFiles) && stateFiles.size == after.size + 1)
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }

  test("serving folds a state of many collects' files into one, and the " +
      "views still equal their ReferenceOps frames") {
    val dir = tmpDir("analyticsfold")
    val g = new Graft(spark, dir)
    def stateFiles = Lineage.stamps(spark, dir + "/mv/_analytics")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try {
      assert(g.collect(Seq(adapter(base))) == base.size)
      assertViews(g, dir, "the first build")
      (1 to 17).foreach(i => assert(g.collect(Seq(adapter(more(s"f$i")))) == 3))
      assert(stateFiles.size == 18, "each collect covers with one file")
      assertViews(g, dir, "after the fold")
      assert(stateFiles.size == 1)
      val folded = stateFiles
      g.analyticsMaterialized("type_counts").collect()
      assert(stateFiles == folded, "a folded state is current")
      assert(g.collect(Seq(adapter(more("g")))) == 3)
      assert(stateFiles.size == 2 && folded.toSet.subsetOf(stateFiles.toSet),
        "a collect covers a folded state")
      assertViews(g, dir, "after the fold, then a collect")
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }
}
