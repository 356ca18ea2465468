package graft

import org.apache.spark.sql.functions._

class MvSpec extends SparkSpec {

  private def docs(n: Int, off: Int = 0) = {
    import spark.implicits._
    (off until off + n).map(i => (i.toLong, s"src_${i % 3}", 100L + i))
      .toDF("doc_id", "source", "n_chars")
  }

  // append `df` to `src` and give the new data files exactly the newest
  // mtime already there, as a write in the same clock tick leaves them
  private def appendSameTick(df: org.apache.spark.sql.DataFrame,
      src: String): Unit = {
    val before = Lineage.stamps(spark, src)
    df.write.mode("append").parquet(src)
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val added = Lineage.stamps(spark, src).map(_._1).toSet -- before.map(_._1)
    assert(added.nonEmpty)
    added.foreach(rel => fs.setTimes(new org.apache.hadoop.fs.Path(src + rel),
      before.map(_._3).max, -1))
  }

  test("incremental delta listing sees only the files a lineage record " +
      "does not cover") {
    val dir = tmpDir("mvdelta")
    val src = dir + "/src"
    docs(10).write.parquet(src)
    val covered = Lineage.stamps(spark, src)
    assert(covered.nonEmpty && covered.forall(_._1.contains("/part-")),
      s"markers and checksum files are not data: $covered")
    val record = Lineage(covered, Nil)
    assert(record.uncovered(covered).isEmpty)
    appendSameTick(docs(5, off = 50).coalesce(1), src)
    val listed = Lineage.stamps(spark, src)
    val delta = record.uncovered(listed)
    assert(delta.size == 1, s"expected exactly the appended file: $delta")
    assert(record.valid(listed, Nil))
    val n = spark.read
      .schema(Catalog.load(spark, src).schema)
      .parquet(src + delta.head._1).count()
    assert(n == 5)
    // other output files, or a covered file gone, invalidate the record
    assert(!record.valid(listed, delta))
    assert(!record.valid(listed.filterNot(_ == covered.head), Nil))
  }

  test("mergeRollups is the combiner of rollup: rollup(x∪y)=merge(r(x),r(y))") {
    val x = docs(17)
    val y = docs(13, off = 200)
    val direct = operators.AnalyticsOps
      .rollup(x.unionByName(y), "source", "n_chars")
      .orderBy("source").collect().map(_.toString).toSeq
    val merged = operators.AnalyticsOps.mergeRollups(
      operators.AnalyticsOps.rollup(x, "source", "n_chars"),
      operators.AnalyticsOps.rollup(y, "source", "n_chars"), "source")
      .orderBy("source").collect().map(_.toString).toSeq
    assert(direct == merged)
  }

  test("facade: analyticsMaterialized serves from parquet and stays fresh") {
    val dir = tmpDir("gmv")
    val g = new Graft(spark, dir)
    import spark.implicits._
    val recs = Seq(
      ("r1", "nyc", "dataset", "Taxi trips", Option("rides"), 100L),
      ("r2", "sec", "filing", "10-K", Option("annual"), 200L),
      ("r3", "nyc", "dataset", "Bike lanes", Option("paths"), 50L))
      .toDF("record_id", "source_name", "data_type", "title",
        "description", "size_bytes")
      .withColumn("ingested_at", current_timestamp())
      .withColumn("license_info", lit("public"))
      .withColumn("tags", array(lit("open")))
    Catalog.append(recs, dir + "/data_records")
    val tc = g.analyticsMaterialized("type_counts").collect()
    assert(tc.nonEmpty)
    // served from the analytics state, not recomputed from records
    assert(Catalog.tableExists(spark, dir + "/mv/_analytics"))
    val again = g.analyticsMaterialized("type_counts").collect()
    assert(again.map(_.toString).toSeq == tc.map(_.toString).toSeq)
    intercept[IllegalArgumentException] {
      g.analyticsMaterialized("nope")
    }
  }

  test("applyCdcRollup: maintained view equals recompute across " +
      "insert/update(group move)/delete, emptied group dropped") {
    import spark.implicits._
    import graft.operators.AnalyticsOps
    val root = tmpDir("mvcdc") + "/t"
    // v0: a = {1, 2}, b = {3, 4}
    Versioned.init(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
        (4L, "b", 40L)).toDF("doc_id", "source", "n_chars"),
      root)
    // v1: doc 2 moves a→c with a new value (group-moving update),
    // docs 3 and 4 are tombstoned (group b empties), doc 5 inserts
    Versioned.mergeUpsertMoR(
      Seq((2L, "c", 25L, false), (3L, "b", 30L, true),
        (4L, "b", 40L, true), (5L, "c", 50L, false))
        .toDF("doc_id", "source", "n_chars", "is_del"),
      root, Seq("doc_id"), deleteFlag = Some("is_del"))
    val mv0 = AnalyticsOps.rollup(
      Versioned.snapshot(spark, root, 0), "source", "n_chars")
    val got = Mv.applyCdcRollup(spark, mv0, root, 0, 1, Seq("doc_id"),
        "source", "n_chars")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = AnalyticsOps.rollup(
      Versioned.current(spark, root), "source", "n_chars")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want)
    assert(want == Set(("a", 1L, 10L), ("c", 2L, 75L)))
  }
}
