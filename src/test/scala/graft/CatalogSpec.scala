package graft

import graft.ingest.{ComplianceCheck, DataRecord, Pipeline}
import graft.operators.FtsOps
import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.datasources.BucketingUtils
import scala.jdk.CollectionConverters._

/** [[Catalog.appendRows]], the driver-side append, against Spark's own
  * writer ([[Catalog.appendPartitioned]], and [[FtsOps.writeIndex]]'s
  * bucketed write for [[FtsOps.appendPostings]]) over the same rows.
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  val records: Seq[DataRecord] = Seq(
    DataRecord("NYC Open Data", "aa-1", "Traffic Volume", Some("about traffic"),
      "dataset", "https://example.org/aa-1", """{"views": 10}""", None,
      Seq("traffic", "counts"), Some(Timestamp.valueOf("2024-06-10 06:13:20")),
      Timestamp.valueOf("2026-01-01 00:00:00.123456"), Some("csv"), Some(42L),
      Some("public"), Some(Seq(0.5f, -1.25f))),
    DataRecord("NYC Open Data", "bb-2", "Bike Counts", None, "dataset",
      "https://example.org/bb-2", "{}", Some("summary"), Nil, None,
      Timestamp.valueOf("2026-01-01 00:00:01"), None, None, None),
    DataRecord("Other/Source=1", "x-1", "Escaped", None, "api",
      "https://example.org/x-1", "{}", None, Seq("a"), None,
      Timestamp.valueOf("2026-01-02 00:00:00"), None, Some(7L), None))

  val checks: Seq[ComplianceCheck] = Seq(
    ComplianceCheck("NYC Open Data", robots_txt_compliant = true,
      rate_limit_compliant = true, terms_compliant = false,
      api_key_valid = true, Timestamp.valueOf("2026-01-01 00:00:00"),
      Seq("no terms"), Nil))

  /** A parquet file's footer: (schema, key-value metadata, column
    * codecs).
    */
  def footer(p: Path): (String, Map[String, String], Seq[String]) = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val footer = reader.getFooter
      val meta = footer.getFileMetaData
      (meta.getSchema.toString, meta.getKeyValueMetaData.asScala.toMap,
        footer.getBlocks.asScala.toSeq.flatMap(
          _.getColumns.asScala.map(_.getCodec.toString)))
    } finally reader.close()
  }

  /** The parquet data files under `dir`. */
  def parquetFiles(dir: String): Seq[Path] =
    Catalog.files(spark, dir).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))

  /** Each parquet file's [[footer]] under `dir`, keyed on its directory
    * relative to `dir`.
    */
  def footers(dir: String): Map[String, (String, Map[String, String], Seq[String])] = {
    val root = new Path(dir).toUri.getPath
    parquetFiles(dir).map(p =>
      p.getParent.toUri.getPath.stripPrefix(root) -> footer(p)).toMap
  }

  def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The driver write and Spark's writer leave equal tables; returns
    * the driver write's footers.
    */
  def assertSameTable[T](rows: Seq[T],
      encoder: org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[T],
      partitionCols: Seq[String])(
      toDf: Seq[T] => org.apache.spark.sql.DataFrame): Seq[(String, Seq[String])] = {
    val viaSpark = tmpDir("catalogspark") + "/t"
    val viaDriver = tmpDir("catalogdriver") + "/t"
    Catalog.appendPartitioned(toDf(rows).coalesce(1), viaSpark, partitionCols)
    Catalog.appendRows(spark, rows, encoder, viaDriver, partitionCols)
    val (expected, actual) = (footers(viaSpark), footers(viaDriver))
    assert(expected.nonEmpty && actual.keySet == expected.keySet)
    // Spark's writer is the reference
    expected.foreach { case (dir, (schema, kv, codecs)) =>
      val (s, k, c) = actual(dir)
      assert(s == schema, dir)
      assert(k == kv, dir)
      assert(k.contains("org.apache.spark.sql.parquet.row.metadata"), dir)
      assert(c == codecs, dir)
    }
    val (a, b) = (spark.read.parquet(viaSpark), spark.read.parquet(viaDriver))
    assert(b.schema == a.schema)
    assert(b.collect().toSeq.map(_.toString).sorted ==
      a.collect().toSeq.map(_.toString).sorted)
    actual.values.toSeq.map { case (schema, _, codecs) => schema -> codecs }
  }

  /** Both tables equal Spark's; returns the driver write's footers. */
  def assertBothTables(): Seq[(String, Seq[String])] = {
    val written = assertSameTable(records, Pipeline.RecordsEncoder,
        Seq("source_name"))(_.toDS().toDF()) ++
      assertSameTable(checks, Pipeline.ChecksEncoder, Nil)(_.toDS().toDF())
    assert(written.size == 3) // two source partitions and the checks file
    written
  }

  test("appendRows writes the files Spark's writer writes, default conf") {
    val written = assertBothTables()
    assert(written.forall(_._1.contains("int96 ")))
    assert(written.forall(_._2.forall(_ == "SNAPPY")))
  }

  test("appendRows writes the files Spark's writer writes, micros + zstd") {
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
        "spark.sql.parquet.compression.codec" -> "zstd") {
      val written = assertBothTables()
      assert(written.forall(_._1.contains("TIMESTAMP(MICROS,true)")))
      assert(written.forall(_._2.forall(_ == "ZSTD")))
    }
  }

  test("appendRows: no rows, no file; each call adds one file per group") {
    val dir = tmpDir("catalogappend") + "/t"
    val enc = Pipeline.RecordsEncoder
    Catalog.appendRows(spark, Seq.empty[DataRecord], enc, dir, Seq("source_name"))
    assert(!Catalog.tableExists(spark, dir))
    Catalog.appendRows(spark, records, enc, dir, Seq("source_name"))
    Catalog.appendRows(spark, records.take(1), enc, dir, Seq("source_name"))
    val names = Catalog.files(spark, dir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
    assert(names.size == 3 && names.forall(_.startsWith("part-00000-")), names)
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("appendPostings writes the files writeIndex appends: bucket id " +
      "per token, token order, schema and row metadata; lookups still " +
      "prune to one bucket") {
    val buckets = 4
    val seed = Seq("s-1" -> "Traffic Volume about traffic",
      "s-2" -> "Bike Counts about bikes")
    // a null and an empty text, leading and repeated spaces, a tab (not
    // a separator), non-ASCII case folding, a token repeated in a doc
    val docs = Seq[(String, String)]("d-1" -> null, "d-2" -> "",
      "d-3" -> "  Leading  and   repeated spaces ", "d-4" -> "tab\tinside a word",
      "d-5" -> "İSTANBUL İi Straße STRASSE ß ΣΟΦΟΣ Σίσυφος ΟΔΟΣ",
      "d-6" -> "bike Bike BIKE lanes bike share bike",
      "d-7" -> "Permits about traffic",
      "d-8" -> "a b c d e f g h i j k l m n o p q r s t u v w x y z")
    def df(rows: Seq[(String, String)]) = rows.toDF("record_id", "text")
    val dir = tmpDir("postings")
    val Seq(viaSpark, viaDriver) = Seq("spark", "driver").map(n => s"$dir/$n")
    val tables = Seq("postings_spark", "postings_driver")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      tables.zip(Seq(viaSpark, viaDriver)).foreach { case (t, path) =>
        FtsOps.writeIndex(df(seed), "record_id", "text", t, path, buckets)
      }
      val built = parquetFiles(viaSpark).map(_.getName).toSet ++
        parquetFiles(viaDriver).map(_.getName)
      FtsOps.writeIndex(df(docs), "record_id", "text", tables(0), viaSpark,
        buckets, SaveMode.Append)
      FtsOps.appendPostings(spark, docs, "record_id", tables(1), viaDriver,
        buckets)
      // the appended files by bucket id: (footer, tokens in file order)
      def appended(path: String) = parquetFiles(path)
        .filterNot(p => built(p.getName)).map { p =>
          val bucket = BucketingUtils.getBucketId(p.getName)
            .getOrElse(fail(s"no bucket id: $p"))
          bucket -> (footer(p), spark.read.parquet(p.toString)
            .select("token").as[String].collect().toSeq)
        }
      val (expected, actual) = (appended(viaSpark), appended(viaDriver))
      assert(actual.map(_._1).distinct.size == actual.size,
        s"two files in one bucket: $actual")
      assert(actual.toMap.keySet == expected.toMap.keySet)
      expected.foreach { case (bucket, ((schema, kv, codecs), tokens)) =>
        val ((s, k, c), t) = actual.toMap.apply(bucket)
        assert(s == schema, bucket)
        assert(k == kv, bucket)
        assert(k.contains("org.apache.spark.sql.parquet.row.metadata"), bucket)
        assert(c == codecs, bucket)
        assert(t == tokens, bucket)
      }
      def rows(t: String) = spark.table(t).collect().map(_.toString).sorted.toSeq
      assert(rows(tables(1)) == rows(tables(0)))
      assert(rows(tables(1)).exists(_.startsWith("[bike,d-6,5]")))
      assert(rows(tables(1)).exists(_.startsWith("[tab\tinside,d-4,1]")))

      // a one-term lookup over the driver-appended table scans one bucket
      val q = FtsOps.searchIndexed(spark, tables(1), "record_id", Seq("bike"), 50)
      val plan = q.queryExecution.executedPlan.toString
      val m = s"SelectedBucketsCount: (\\d+) out of $buckets".r.findFirstMatchIn(plan)
      assert(m.map(_.group(1)).contains("1"), s"no one-bucket pruning:\n$plan")
      assert(q.collect().toSeq == FtsOps.searchDocs(df(seed ++ docs),
        "record_id", "text", Seq("bike"), 50).collect().toSeq)
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
