package graft

import graft.ingest._
import java.time.{Clock, Instant, ZoneOffset}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** End-to-end verb tests: the reference CLI surface over a fresh
  * catalog dir using offline fixture adapters (SURVEY §5.2(4) golden
  * pipeline shape).
  */
class GraftSpec extends SparkSpec {

  val clock: Clock =
    Clock.fixed(Instant.parse("2026-01-01T00:00:00Z"), ZoneOffset.UTC)

  def nycFixture(items: String*): NycOpenDataAdapter = {
    val base = "https://data.cityofnewyork.us"
    new NycOpenDataAdapter(new FixtureFetcher(Map(
      s"$base/robots.txt" -> (404, ""),
      s"$base/api/views/metadata/v1?limit=5000&offset=0" ->
        (200, items.mkString("[", ",", "]")))), None, clock)
  }

  def item(id: String, name: String, views: Int): String =
    s"""{"id": "$id", "name": "$name", "description": "about $name",
       |"category": "Transport", "tags": ["traffic"],
       |"viewCount": $views, "rowsUpdatedAt": "1718000000"}""".stripMargin

  // both FTS verbs equal the recompute over `records`
  def assertFtsMatches(g: Graft): Unit = {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val docs = g.records.select(col("record_id"),
      concat_ws(" ", col("title"), col("description")).as("text"))
    Seq(Seq("bike"), Seq("about"), Seq("traffic", "about")).foreach { t =>
      assert(g.searchFts(t, 50).collect().toSeq ==
        operators.FtsOps.searchDocs(docs, "record_id", "text", t, 50)
          .collect().toSeq, t)
      assert(g.searchFtsRanked(t, 50).collect().toSeq ==
        operators.FtsOps.searchRankedDocs(docs, "record_id", "text", t, 50)
          .collect().toSeq, t)
    }
  }

  def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("collect → search → analytics → status → export, end to end") {
    val g = new Graft(spark, tmpDir("graft"))
    val ad = nycFixture(
      item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20),
      item("aa-1", "Traffic Volume DUP", 30)) // dup key in batch

    // setup: compliance audit persisted
    val checks = g.setup(Seq(ad))
    assert(checks.size == 1 && checks.head.issues.isEmpty)

    // collect: first write wins on the duplicate
    assert(g.collect(Seq(ad)) == 2)
    assert(g.records.count() == 2)

    // search: ilike over title, recency order
    val hits = g.search(Some("traffic"), limit = 10).collect()
    assert(hits.length == 1)
    assert(hits.head.getAs[String]("record_id") == "aa-1")
    assert(hits.head.getAs[String]("title") == "Traffic Volume")
    // empty query = all records
    assert(g.search(None, limit = 10).count() == 2)
    // equality filter narrows
    assert(g.search(None, dataType = Some("dataset")).count() == 2)
    assert(g.search(None, source = Some("nope")).count() == 0)

    // fts search over the records' own text
    val fts = g.searchFts(Seq("bike"), 5).collect()
    assert(fts.length == 1 && fts.head.getString(0) == "bb-2")

    // analytics: all five frames materialize
    val a = g.analytics()
    assert(a("source_stats").count() == 1)
    assert(a("type_counts").head.getLong(1) == 2L)
    assert(a("popular_tags").head.getString(0) == "traffic")
    assert(a("temporal_activity").count() == 1)
    assert(a("license_distribution").count() == 1)

    // status: rollup joined with latest compliance
    val st = g.status().collect()
    assert(st.length == 1)
    assert(st.head.getAs[Long]("n_records") == 2L)
    assert(st.head.getAs[Boolean]("robots_txt_compliant"))

    // export: parquet + attribution footer
    val out = tmpDir("graft") + "/export"
    val att = g.export(Some("data_type = 'dataset'"), "parquet", out)
      .collect()
    assert(att.map(_.getString(0)).toSeq == Seq("NYC Open Data"))
    assert(spark.read.parquet(out).count() == 2)

    // collect again: idempotent
    assert(g.collect(Seq(ad)) == 0)

    // north-star surface: dedup over the catalog's own text
    assert(g.dedupedRecords().count() == 2) // titles differ → no dups
    assert(g.nearDuplicates(0.8).count() == 0)
    // similar(): no embeddings backfilled yet → empty, not an error
    assert(g.similar("aa-1", 5).count() == 0)

    // embedding backfill lights up similar(): both records share the
    // vocabulary ("about ..."), so cosine is high but < 1
    assert(g.backfillEmbeddings() == 2L)
    val sim = g.similar("aa-1", 5).collect()
    assert(sim.length == 1)
    assert(sim.head.getString(0) == "bb-2")
    val score = sim.head.getDouble(1)
    assert(score > 0.5 && score <= 1.0, s"unexpected cosine $score")
    // backfill is idempotent and keeps every row
    assert(g.backfillEmbeddings() == 2L)
    assert(g.records.count() == 2)

    // persisted FTS index returns the same hits as the on-the-fly path
    g.indexFts()
    val ftsIdx = g.searchFts(Seq("bike"), 5).collect()
    assert(ftsIdx.length == 1 && ftsIdx.head.getString(0) == "bb-2")

    // no dup clusters in a dup-free catalog — empty, not an error
    assert(g.duplicateClusters().count() == 0)

    // decontamination: a benchmark doc duplicating bb-2's text is
    // flagged against the catalog; an unrelated one is not
    import spark.implicits._
    val bench = Seq(
      (1L, "Bike Counts about Bike Counts"),
      (2L, "totally unrelated benchmark prompt here"))
      .toDF("bench_id", "text")
    val contaminated = g.decontaminate(bench, "bench_id", "text")
      .collect()
    assert(contaminated.length == 1)
    assert(contaminated.head.getString(0) == "1")
    assert(contaminated.head.getString(1) == "bb-2")

    // analytics surface: profile / deterministic sample / redaction
    val prof = g.profile().head
    assert(prof.getAs[Long]("n_rows") == 2L)
    assert(prof.getAs[Long]("n_source_name") == 1L)
    assert(g.sample(1000).count() == 2) // full rate keeps everything
    assert(g.sample(0).count() == 0)
    val red = g.redactionAudit().head
    assert(red.getAs[Long]("n_rows") == 2L)
  }

  /** Spark jobs `body` launches on this thread, counted by a listener. */
  def jobsLaunchedBy(body: => Unit): Int = stagesLaunchedBy(body).size

  /** Per Spark job `body` launches on this thread, the task count of
    * each of its stages, seen by a listener. A sentinel job in a second
    * group marks the end: the listener bus delivers in order, so once
    * the sentinel is seen every job `body` started has been seen.
    */
  def stagesLaunchedBy(body: => Unit): Seq[Seq[Int]] = {
    val sc = spark.sparkContext
    val group = s"graftspec-${System.nanoTime}"
    val jobs = new ConcurrentLinkedQueue[Seq[Int]]()
    val end = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(e.stageInfos.map(_.numTasks))
          case Some(g) if g == s"$group-end" => end.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-end", "sentinel")
      spark.range(1).count()
      assert(end.await(60, TimeUnit.SECONDS), "sentinel job not seen")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.toArray(Array.empty[Seq[Int]]).toSeq
  }

  test("catalog reads resolve once per table version") {
    val dir = tmpDir("graftresolve")
    val g = new Graft(spark, dir)
    val ad = nycFixture(item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20))
    g.setup(Seq(ad))
    assert(g.collect(Seq(ad)) == 2)

    // the known schemas resolve exactly what inference would
    assert(g.records.schema == spark.read.parquet(dir + "/data_records").schema)
    assert(new Pipeline(spark, dir).complianceChecks.schema ==
      spark.read.parquet(dir + "/compliance_checks").schema)

    // first calls build the view and the latest checks; afterwards, on
    // an unchanged catalog, building every read verb's plan launches no
    // job at all
    val v = "type_counts"
    assert(g.analyticsMaterialized(v).head.getLong(1) == 2L)
    assert(g.status().head.getAs[Long]("n_records") == 2L)
    val jobs = jobsLaunchedBy {
      g.records
      g.analytics()
      g.status()
      g.analyticsMaterialized(v)
    }
    assert(jobs == 0, s"$jobs jobs launched on an unchanged catalog")
    assert(g.records eq g.records)

    intercept[IllegalArgumentException](g.analyticsMaterialized("nope"))
  }

  /** The parquet data files under `path`. */
  def dataFiles(path: String): Seq[String] =
    Catalog.files(spark, path).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))

  def rec(src: String, id: String): DataRecord =
    DataRecord(src, id, s"title $id", None, "dataset",
      s"https://example.org/$id", "{}", None, Nil, None,
      java.sql.Timestamp.from(clock.instant()), None, None, None)

  test("collect: no job into a fresh directory or over files the " +
      "session's key index covers, 1 after another writer's file; one " +
      "file per source partition, nothing written for an empty or " +
      "repeated batch") {
    val dir = tmpDir("graftjobs")
    val recordsDir = dir + "/data_records"
    val g = new Graft(spark, dir)
    val first = nycFixture(item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20))

    // no adapter, nothing to check or write: no job, no checks file
    assert(jobsLaunchedBy(assert(g.collect(Seq()) == 0)) == 0)
    assert(dataFiles(dir).isEmpty)

    // fresh directory: the checks append and the write run on the driver
    assert(jobsLaunchedBy(assert(g.collect(Seq(first)) == 2)) == 0)
    assert(dataFiles(recordsDir).size == 1)

    // the key index covers the files this session wrote: no key scan
    val second = nycFixture(item("bb-2", "Bike Counts", 20),
      item("cc-3", "Bike Lanes", 5), item("dd-4", "Signals", 7))
    assert(jobsLaunchedBy(assert(g.collect(Seq(second)) == 2)) == 0)
    assert(dataFiles(recordsDir).size == 2)

    // a batch already seen: no job, no data file
    assert(jobsLaunchedBy(assert(g.collect(Seq(second)) == 0)) == 0)
    assert(dataFiles(recordsDir).size == 2)
    assert(jobsLaunchedBy(assert(g.setup(Seq(first)).size == 1)) == 0)
    assert(g.records.count() == 4)

    // another writer's files: the next collect scans the key columns
    // once, and later ones none, however many files the table gains
    new Pipeline(spark, dir).upsertRecords(Seq(rec("NYC Open Data", "aa-1")))
    assert(jobsLaunchedBy(assert(g.collect(Seq(nycFixture(
      item("ee-5", "Permits", 3)))) == 1)) == 1)
    (1 to 20).foreach { i =>
      assert(jobsLaunchedBy(assert(g.collect(Seq(nycFixture(
        item(s"n-$i", s"Title $i", i)))) == 1)) == 0, i)
    }
    val files = dataFiles(recordsDir).size
    assert(jobsLaunchedBy(assert(g.collect(Seq(second)) == 0)) == 0)
    assert(dataFiles(recordsDir).size == files)
    assert(g.records.count() == 25)

    // a batch across two sources: one new file under each partition
    def filesPerSource: Map[String, Int] = dataFiles(recordsDir)
      .groupBy(f => f.split("/").find(_.startsWith("source_name=")).get)
      .map { case (k, v) => k -> v.size }
    val before = filesPerSource
    assert(new Pipeline(spark, dir).appendRecords(Seq(
      rec("NYC Open Data", "ff-6"), rec("Other Source", "x-1"),
      rec("NYC Open Data", "gg-7"))) == 3)
    val added = filesPerSource.map { case (k, n) =>
      k -> (n - before.getOrElse(k, 0)) }
    assert(added.size == 2 && added.values.forall(_ == 1), added)
    // no collect above made an FTS index
    assert(!new java.io.File(dir + "/fts_index").exists)

    // over an indexed catalog: the collect appends its postings on the
    // driver, and the indexFts after it finds nothing to do
    g.indexFts()
    def indexFiles = Catalog.files(spark, dir + "/fts_index")
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    val built = indexFiles
    assert(jobsLaunchedBy(assert(g.collect(Seq(nycFixture(
      item("hh-8", "Bike Routes", 4)))) == 1)) == 0)
    val appended = indexFiles
    assert(appended.size > built.size)
    assert(jobsLaunchedBy(g.indexFts()) == 0)
    assert(indexFiles == appended)
  }

  test("after an upsert, an embedding backfill or a compaction, a " +
      "collect adds exactly the keys the table lacks") {
    import spark.implicits._
    val dir = tmpDir("graftrewrite")
    val g = new Graft(spark, dir)
    val p = new Pipeline(spark, dir)
    def collect(ids: String*): Long =
      g.collect(Seq(nycFixture(ids.map(id => item(id, s"Title $id", 1)): _*)))
    def stored: Seq[String] =
      g.records.select("record_id").as[String].collect().toSeq

    // a table first written by an upsert, before any collect
    p.upsertRecords(Seq(rec("NYC Open Data", "aa-1")))
    assert(collect("aa-1", "bb-2") == 1)
    Seq[(String, () => Unit)](
      "upsert" -> (() => p.upsertRecords(Seq(rec("NYC Open Data", "bb-2"),
        rec("NYC Open Data", "cc-3")))),
      "backfill" -> (() => g.backfillEmbeddings()),
      "compact" -> (() => Catalog.compact(spark, dir + "/data_records"))
    ).zipWithIndex.foreach { case ((name, rewrite), i) =>
      rewrite()
      assert(collect(stored: _*) == 0, name)
      assert(collect(s"new-$i") == 1, name)
    }
    assert(stored.sorted == Seq("aa-1", "bb-2", "cc-3", "new-0", "new-1",
      "new-2"))
  }

  test("read verbs on a set-up catalog with no records answer empty") {
    val dir = tmpDir("graftempty")
    val g = new Graft(spark, dir)
    assert(g.setup(Seq(nycFixture())).size == 1)

    assert(g.records.count() == 0)
    val emptySchema = g.records.schema
    assert(g.search(Some("traffic")).count() == 0)
    assert(g.search(None).count() == 0)
    assert(g.searchFts(Seq("bike")).count() == 0)
    assert(g.searchFtsRanked(Seq("bike")).count() == 0)
    assert(g.status().count() == 0)
    g.analytics().foreach { case (name, v) => assert(v.count() == 0, name) }
    assert(g.analyticsMaterialized("type_counts").count() == 0)
    assert(g.similar("aa-1").count() == 0)
    val out = dir + "/export"
    assert(g.export(None, "parquet", out).count() == 0)
    assert(spark.read.parquet(out).count() == 0)

    // the first collect then serves every verb
    assert(g.collect(Seq(nycFixture(item("aa-1", "Traffic Volume", 10)))) == 1)
    assert(g.records.schema == emptySchema)
    assert(g.search(Some("traffic")).count() == 1)
    assert(g.status().head.getAs[Long]("n_records") == 1L)
  }

  test("a leftover temp file of an interrupted driver write is invisible, " +
      "and the next collect runs as on a clean catalog") {
    import org.apache.hadoop.fs.Path
    val batches = Seq(
      Seq(item("aa-1", "Traffic Volume", 10), item("bb-2", "Bike Counts", 20)),
      Seq(item("bb-2", "Bike Counts", 20), item("cc-3", "Bike Lanes", 5)))
    def collect(g: Graft, batch: Seq[String]): Long = g.collect(Seq(nycFixture(batch: _*)))
    def rows(g: Graft): Seq[String] = g.records.collect().map(_.toString).toSeq.sorted
    val clean = new Graft(spark, tmpDir("graftclean"))
    val counts = batches.map(collect(clean, _))
    assert(counts == Seq(2L, 1L))

    // a complete data file holding the second batch's new row and a row
    // no batch has, as the driver write leaves it when interrupted
    // before its rename
    val donor = tmpDir("graftdonor")
    val cc3 = clean.records.where("record_id = 'cc-3'").as[DataRecord](
      org.apache.spark.sql.Encoders.product[DataRecord]).head()
    new Pipeline(spark, donor).appendRecords(Seq(cc3,
      cc3.copy(record_id = "dd-4")))
    val donorFile = dataFiles(donor).head
    val fs = new Path(donor).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val future = System.currentTimeMillis() + 3600000L
    def plant(dst: Path): Path = {
      fs.mkdirs(dst.getParent)
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, new Path(donorFile), fs,
        dst, false, spark.sparkContext.hadoopConfiguration))
      fs.setTimes(dst, future, -1)
      dst
    }
    val part = new Path(donorFile).getName
    val v = "source_stats"

    // once beside committed files, once in a table with none yet
    Seq(true, false).foreach { committedFirst =>
      val dir = tmpDir("graftcrash")
      val recordsDir = dir + "/data_records"
      val g = new Graft(spark, dir)
      g.setup(Seq(nycFixture()))
      if (committedFirst) assert(collect(g, batches.head) == counts.head)
      val planted = plant(new Path(s"$recordsDir/source_name=NYC Open Data",
        "_tmp-" + part))
      // and a file of an in-flight distributed write, not committed yet
      val inFlight = plant(new Path(s"$recordsDir/_temporary/0/" +
        "task_0_m_000000/source_name=NYC Open Data", part))
      assert(g.records.count() == (if (committedFirst) counts.head else 0L))
      g.indexFts()
      g.analyticsMaterialized(v)
      Seq("fts_index", "mv/_analytics").foreach { artifact =>
        val lineage = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$dir/$artifact/_graft_lineage")))
        assert(!lineage.contains("_tmp-") && !lineage.contains("_temporary"),
          lineage)
      }

      // the key index does not see the planted row either
      val rest = if (committedFirst) batches.tail else batches
      assert(rest.map(collect(g, _)) == counts.takeRight(rest.size))
      assert(rows(g) == rows(clean))
      assert(fs.exists(planted))

      // the in-flight write commits after a view build, keeping its mtime
      assert(sortedRows(g.analyticsMaterialized(v)) ==
        sortedRows(g.analytics()(v)))
      val committed = new Path(s"$recordsDir/source_name=NYC Open Data", part)
      assert(fs.rename(inFlight, committed))
      assert(fs.getFileStatus(committed).getModificationTime == future)
      assert(g.records.count() == counts.sum + 2)
      assert(sortedRows(g.analyticsMaterialized(v)) ==
        sortedRows(g.analytics()(v)))

      // the committed file's keys are stored keys for the next collect
      assert(collect(g, Seq(item("cc-3", "Bike Lanes", 5),
        item("dd-4", "Signals", 7))) == 0)
    }
  }

  test("a source's partition deleted under a built view, as a takedown " +
      "does, rebuilds the view") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("grafttakedown")
    val g = new Graft(spark, dir)
    val sec = new SecEdgarAdapter(new FixtureFetcher(
      Map("https://www.sec.gov/robots.txt" -> (404, "")),
      heads = Map(
        "https://data.sec.gov/api/xbrl/companyfacts.zip" -> 200,
        "https://data.sec.gov/submissions/CIK0000320193.json" -> 200,
        "https://data.sec.gov/api/xbrl/frames/" -> 200)), clock) {
      override protected lazy val limiter = new RateLimiter(1e6)
    }
    val nyc = nycFixture(item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20))
    g.setup(Seq(nyc, sec))
    assert(g.collect(Seq(nyc, sec)) == 5)
    val v = "source_stats"
    assert(sortedRows(g.analyticsMaterialized(v)) ==
      sortedRows(g.analytics()(v)))
    assert(g.analyticsMaterialized(v).count() == 2)

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$dir/data_records/source_name=SEC EDGAR"), true))
    val served = g.analyticsMaterialized(v)
    assert(sortedRows(served) == sortedRows(g.analytics()(v)))
    assert(served.collect().map(_.getAs[String]("source_name")).toSeq ==
      Seq("NYC Open Data"))

    // the deleted rows are gone for dedup too: collecting them adds them
    assert(g.collect(Seq(nyc, sec)) == 3)
    assert(g.records.count() == 5)
  }

  test("a torn lineage record reads as none: the view and the FTS index " +
      "are rebuilt and serve the recompute") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("grafttorn")
    val g = new Graft(spark, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    g.setup(Seq(nycFixture()))
    assert(g.collect(Seq(nycFixture(item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20)))) == 2)
    val v = "source_stats"
    g.analyticsMaterialized(v)
    g.indexFts()
    // an empty record, and one cut inside the path of its last stamp line
    val tears = Seq[Array[Byte] => Array[Byte]](
      _ => Array.emptyByteArray,
      b => b.take(b.lastIndexOf('\n'.toByte, b.length - 2) - 5))
    def tearThenRebuilds(artifact: String)(rebuild: => Unit): Unit =
      tears.foreach { tear =>
        val record = new Path(s"$dir/$artifact/_graft_lineage")
        val in = fs.open(record)
        val bytes = try in.readAllBytes() finally in.close()
        val out = fs.create(record, true)
        try out.write(tear(bytes)) finally out.close()
        val before = Lineage.stamps(spark, s"$dir/$artifact").toSet
        rebuild
        assert((Lineage.stamps(spark, s"$dir/$artifact").toSet intersect
          before).isEmpty, s"$artifact must be rebuilt")
      }
    tearThenRebuilds("mv/_analytics") {
      assert(sortedRows(g.analyticsMaterialized(v)) ==
        sortedRows(g.analytics()(v)))
    }
    tearThenRebuilds("fts_index") {
      g.indexFts()
      assertFtsMatches(g)
    }
  }

  test("analytics from one scan; after a collect the analytics state and " +
      "the corpus count need no build") {
    val dir = tmpDir("graftanalyticsjobs")
    val g = new Graft(spark, dir)
    g.setup(Seq(nycFixture()))
    assert(g.collect(Seq(nycFixture(item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20)))) == 2)
    g.indexFts()
    g.analyticsMaterialized("type_counts").collect()
    def stateFiles = Catalog.files(spark, dir + "/mv/_analytics")
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    (1 to 2).foreach { i =>
      val covering = jobsLaunchedBy(assert(
        g.collect(Seq(nycFixture(item(s"n-$i", s"Bike Lanes $i", i)))) == 1))
      assert(covering == 0, s"$covering jobs to collect over a current state")
      val a = g.analytics()
      val stages = stagesLaunchedBy(a.values.foreach(_.collect()))
      assert(stages.size <= 6, s"${stages.size} jobs for the five analytics views")
      assert(stages.flatten.max > 1, s"the scan runs in one task: $stages")
      val before = stateFiles
      AnalyticsState.Views.keys.foreach { v =>
        val served = jobsLaunchedBy(g.analyticsMaterialized(v).collect())
        assert(served == 0, s"$served jobs to serve $v after a collect")
        assert(sortedRows(g.analyticsMaterialized(v)) == sortedRows(a(v)), v)
      }
      assert(stateFiles == before, "serving after a collect writes nothing")
      var n = -1L
      assert(jobsLaunchedBy { n = Catalog.rowCount(spark, dir + "/data_records") } == 0)
      assert(n == 2L + i)
      val ranked = jobsLaunchedBy(g.searchFtsRanked(Seq("bike", "lanes")).collect())
      assert(ranked <= 3, s"$ranked jobs for searchFtsRanked")
      assertFtsMatches(g)
    }
  }

  test("per verb, the Spark jobs of a warm call on an indexed, embedded " +
      "catalog after a collect") {
    val dir = tmpDir("graftverbjobs")
    val g = new Graft(spark, dir)
    g.setup(Seq(nycFixture()))
    assert(g.collect(Seq(nycFixture(item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20)))) == 2)
    assert(g.backfillEmbeddings() == 2L)
    g.indexFts()
    def collected(df: => org.apache.spark.sql.DataFrame): () => Unit =
      () => { df.collect(); () }
    // (verb, most jobs, a call collecting its result)
    val calls: Seq[(String, Int, () => Unit)] = Seq(
      ("status", 0, collected(g.status())),
      ("analytics", 6, () => g.analytics().values.foreach(_.collect())),
      ("search", 1, collected(g.search(Some("bike")))),
      ("searchFts", 2, collected(g.searchFts(Seq("bike")))),
      ("searchFtsRanked", 2, collected(g.searchFtsRanked(Seq("bike", "lanes")))),
      ("similar", 2, collected(g.similar("aa-1")))) ++
      AnalyticsState.Views.keys.map(v =>
        (s"analyticsMaterialized($v)", 0, collected(g.analyticsMaterialized(v))))
    // the first calls build the held state; the first collect after the
    // backfill rebuilds the key index
    calls.foreach(_._3())
    assert(g.collect(Seq(nycFixture(item("cc-3", "Bike Lanes", 5)))) == 1)
    val collect = jobsLaunchedBy(assert(
      g.collect(Seq(nycFixture(item("dd-4", "Bike Routes", 4)))) == 1))
    assert(collect == 0, s"$collect jobs for a collect")
    calls.foreach { case (verb, most, call) =>
      val jobs = jobsLaunchedBy(call())
      assert(jobs <= most, s"$jobs jobs for $verb, at most $most")
    }
    assert(g.status().head.getAs[Long]("n_records") == 4L)
  }

  test("the footer row count equals the records count across every kind " +
      "of write and debris") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val dir = tmpDir("graftrowcount")
    val g = new Graft(spark, dir + "/catalog")
    val catalogRecords = dir + "/catalog/data_records"
    def assertCounts(what: String): Unit =
      assert(Catalog.rowCount(spark, catalogRecords) == g.records.count(), what)
    assert(Catalog.rowCount(spark, catalogRecords) == 0L)
    assert(g.collect(Seq(nycFixture(item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20)))) == 2)
    assertCounts("after a collect")
    Seq(rec("Streamed Source", "s-1"), rec("Streamed Source", "s-2"))
      .toDS.toDF.coalesce(1).write.parquet(dir + "/landing/b0")
    g.collectStream(dir + "/landing/*", dir + "/cp")
    assertCounts("after collectStream")
    assert(Catalog.rowCount(spark, catalogRecords) == 4L)
    Catalog.compact(spark, catalogRecords)
    assertCounts("after compact")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$catalogRecords/source_name=Streamed Source"), true))
    assertCounts("after a deleted partition")
    assert(Catalog.rowCount(spark, catalogRecords) == 2L)
    // a leftover driver temp file and an in-flight distributed write
    val donor = Catalog.files(spark, catalogRecords).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    Seq(new Path(donor.getParent, "_tmp-" + donor.getName),
      new Path(s"$catalogRecords/_temporary/0/task_0_m_000000/" +
        "source_name=NYC Open Data", donor.getName)).foreach { dst =>
      fs.mkdirs(dst.getParent)
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, donor, fs, dst, false,
        spark.sparkContext.hadoopConfiguration))
    }
    assertCounts("with uncommitted files present")
    assert(g.collect(Seq(nycFixture(item("cc-3", "Bike Lanes", 5)))) == 1)
    assertCounts("after a further collect")
  }

  test("a collect refreshes a cached records frame, as Spark's writer does") {
    val g = new Graft(spark, tmpDir("graftcached"))
    assert(g.collect(Seq(nycFixture(item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20)))) == 2)
    val c = g.records.cache()
    try {
      assert(c.count() == 2)
      assert(g.collect(Seq(nycFixture(item("cc-3", "Bike Lanes", 5)))) == 1)
      assert(c.count() == 3)
    } finally c.unpersist()
  }

  test("a write through another Graft is seen by the next read") {
    val dir = tmpDir("graftshared")
    val first = new Graft(spark, dir)
    first.setup(Seq(nycFixture()))
    assert(first.collect(Seq(nycFixture(
      item("aa-1", "Traffic Volume", 10)))) == 1)
    assert(first.search(Some("bike")).count() == 0)
    assert(first.analytics()("type_counts").head.getLong(1) == 1L)
    val before = first.records

    val second = new Graft(spark, dir)
    assert(second.collect(Seq(nycFixture(
      item("bb-2", "Bike Counts", 20)))) == 1)

    assert(!(first.records eq before))
    assert(first.search(Some("bike")).collect()
      .map(_.getAs[String]("record_id")).toSeq == Seq("bb-2"))
    assert(first.analytics()("type_counts").head.getLong(1) == 2L)
    assert(first.status().head.getAs[Long]("n_records") == 2L)
  }

  test("a collect over a current FTS index appends its postings; " +
      "indexFts appends another writer's files; a rewrite or a stale " +
      "lineage rebuilds") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("graftfts")
    val g = new Graft(spark, dir)
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lineage = new Path(s"$dir/fts_index/_graft_lineage")
    def indexFiles: Set[String] =
      new java.io.File(s"$dir/fts_index").listFiles.map(_.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    def indexStamps = Lineage.stamps(spark, s"$dir/fts_index")
    def collect(items: String*): Long = g.collect(Seq(nycFixture(items: _*)))
    def assertSearchesMatch(): Unit = assertFtsMatches(g)
    // an append keeps the old files and adds at most `width`
    def appends(write: => Unit): Unit = {
      val before = indexFiles
      write
      val after = indexFiles
      assert(before.subsetOf(after), "an append must keep the old files")
      assert(after.size > before.size && after.size - before.size <= width)
    }
    // the index files and its record are left as they are
    def writesNothing(write: => Unit): Unit = {
      val before = Catalog.files(spark, s"$dir/fts_index")
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      write
      assert(Catalog.files(spark, s"$dir/fts_index")
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)) == before)
    }
    // the full path replaces every file
    def indexFtsRebuilds(): Unit = {
      val before = indexFiles
      g.indexFts()
      assert((indexFiles intersect before).isEmpty,
        "a full build must replace the old files")
    }
    def saveLineage(): Array[Byte] = {
      val in = fs.open(lineage)
      try in.readAllBytes() finally in.close()
    }
    def restoreLineage(saved: Array[Byte]): Unit = {
      val out = fs.create(lineage, true)
      try out.write(saved) finally out.close()
    }

    g.setup(Seq(nycFixture()))
    assert(collect(item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20)) == 2)
    g.indexFts()
    assertSearchesMatch()

    // a collect over the current index appends its postings, and the
    // index serves them with no indexFts; indexFts then writes nothing
    appends(assert(collect(item("cc-3", "Bike Lanes", 5),
      item("bb-2", "Bike Counts", 20),
      item("dd-4", "Traffic Bike Signals", 7)) == 2))
    assert(g.searchFts(Seq("lanes")).collect().map(_.getString(0)).toSeq ==
      Seq("cc-3"))
    assertSearchesMatch()
    writesNothing(g.indexFts())
    assertSearchesMatch()
    // nothing new: no postings
    writesNothing(assert(collect(item("cc-3", "Bike Lanes", 5)) == 0))

    // another writer's records file is left to indexFts, which appends
    // its postings; the collect's own keep the index current meanwhile
    assert(new Pipeline(spark, dir).appendRecords(Seq(rec("NYC Open Data",
      "ee-5"))) == 1)
    appends(assert(collect(item("ff-6", "Bike Share Trips", 3)) == 1))
    appends(g.indexFts())
    assertSearchesMatch()
    writesNothing(g.indexFts())

    // a rewrite of the records table replaces every covered file: a
    // collect writes no postings, and indexFts rebuilds
    assert(g.backfillEmbeddings() == 6L)
    writesNothing(assert(collect(item("gg-7", "Bike Parking", 2)) == 1))
    indexFtsRebuilds()
    assertSearchesMatch()

    // crash window: a postings append whose lineage write was lost
    // leaves the previous record, which no longer describes the index
    // files; a later collect leaves the index alone, and indexFts
    // rebuilds
    val saved = saveLineage()
    appends(assert(collect(item("hh-8", "Bike Routes", 4)) == 1))
    restoreLineage(saved)
    val stale = indexStamps
    assert(collect(item("ii-9", "Bike Racks", 6)) == 1)
    assert(indexStamps == stale)
    indexFtsRebuilds()
    assertSearchesMatch()
    assert(g.searchFts(Seq("bike"), 50).count() == 7)
  }

  test("collectStream: continuous dedup-append collect, idempotent replays") {
    import spark.implicits._
    val dir = tmpDir("graftstream")
    val g = new Graft(spark, dir + "/catalog")
    def rec(id: String, title: String, atMillis: Long): DataRecord =
      DataRecord("Streamed Source", id, title, Some(s"about $title"),
        "dataset", s"https://example.org/$id", "{}", None,
        Seq("stream"), None, new java.sql.Timestamp(atMillis),
        None, Some(1L), Some("public"))
    // two landing drops; rec "a" appears in both (and twice in the
    // first — the EARLIER ingested_at copy must win within the batch)
    Seq(rec("a", "First Title", 1000L), rec("a", "Later Copy", 2000L),
        rec("b", "Second", 1500L))
      .toDS.toDF.coalesce(1).write.parquet(dir + "/landing/b0")
    Seq(rec("a", "Replayed Copy", 3000L), rec("c", "Third", 2500L))
      .toDS.toDF.coalesce(1).write.parquet(dir + "/landing/b1")

    g.collectStream(dir + "/landing/*", dir + "/cp0")
    val got = g.records.select("record_id", "title").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "First Title", "b" -> "Second",
      "c" -> "Third"), s"first write per key must win, got $got")

    // fresh checkpoint = every batch reprocessed; table must not grow
    g.collectStream(dir + "/landing/*", dir + "/cp1")
    assert(g.records.count() == 3)

    // idf ranking over the streamed catalog: every title shares
    // "title"? no — "about <title>" descriptions share "about", so
    // querying a ubiquitous term + a rare one ranks the rare-term
    // record first regardless of the common term's tf pile
    val ranked = g.searchFtsRanked(Seq("about", "second"), 5).collect()
    assert(ranked.nonEmpty && ranked.head.getString(0) == "b",
      s"rare-term record must rank first, got ${ranked.toSeq}")
  }

  test("collect and collectStream share one table layout, in either order") {
    import spark.implicits._
    def rec(id: String): DataRecord =
      DataRecord("Streamed Source", id, s"Streamed $id", None, "dataset",
        s"https://example.org/$id", "{}", None, Nil, None,
        new java.sql.Timestamp(1000L), None, None, None)
    def stream(g: Graft, dir: String, ids: String*): Unit = {
      ids.map(rec).toDS.toDF.coalesce(1).write.parquet(dir + "/landing/b0")
      g.collectStream(dir + "/landing/*", dir + "/cp")
    }
    def keys(g: Graft): Set[(String, String)] =
      g.records.select("source_name", "record_id").as[(String, String)]
        .collect().toSet

    val d1 = tmpDir("layoutcollectfirst")
    val g1 = new Graft(spark, d1 + "/catalog")
    assert(g1.collect(Seq(nycFixture(item("aa-1", "Traffic Volume", 10),
      item("bb-2", "Bike Counts", 20)))) == 2)
    stream(g1, d1, "s-1", "s-2")
    assert(keys(g1) == Set("NYC Open Data" -> "aa-1",
      "NYC Open Data" -> "bb-2", "Streamed Source" -> "s-1",
      "Streamed Source" -> "s-2"))
    assert(g1.records.count() == 4)
    // the streamed files' keys are stored keys for the next collect
    assert(new Pipeline(spark, d1 + "/catalog")
      .appendRecords(Seq(rec("s-2"), rec("s-1"))) == 0)

    val d2 = tmpDir("layoutstreamfirst")
    val g2 = new Graft(spark, d2 + "/catalog")
    stream(g2, d2, "s-1", "s-2")
    assert(g2.collect(Seq(nycFixture(item("aa-1", "Traffic Volume", 10)))) == 1)
    assert(keys(g2) == Set("NYC Open Data" -> "aa-1",
      "Streamed Source" -> "s-1", "Streamed Source" -> "s-2"))
    assert(g2.records.count() == 3)
    assert(g2.status().count() == 2)
  }

  test("refreshVersioned: upsert commits versions, time travel audits") {
    val dir = tmpDir("graftversioned")
    val g = new Graft(spark, dir + "/catalog")
    def rec(id: String, title: String): ingest.DataRecord =
      ingest.DataRecord("Src", id, title, Some(s"about $title"),
        "dataset", s"https://example.org/$id", "{}", None,
        Seq("v"), None, new java.sql.Timestamp(1000L),
        None, Some(1L), Some("public"))
    assert(g.refreshVersioned(Seq(rec("a", "A v1"), rec("b", "B v1"))) == 0)
    assert(g.refreshVersioned(Seq(rec("a", "A v2"), rec("c", "C v1"))) == 1)
    val now = g.recordsAsOf(1).select("record_id", "title").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(now == Map("a" -> "A v2", "b" -> "B v1", "c" -> "C v1"))
    // the pre-refresh state stays readable — the audit trail the
    // overwrite-swap upsert cannot keep
    val before = g.recordsAsOf(0).select("record_id", "title").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(before == Map("a" -> "A v1", "b" -> "B v1"))
    val hist = g.refreshHistory().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(hist == Seq((0, 2L), (1, 3L)))
    // partition layout survives versioning (source_name at rest)
    assert(new java.io.File(dir +
      "/catalog/records_versioned/v=1/source_name=Src").exists())
    // change feed between the refreshes: a updated, c inserted, b
    // carried (suppressed as a physical rewrite at most)
    val feed = g.refreshChanges(0, 1)
      .select("record_id", "change_type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(feed == Map("a" -> "update", "c" -> "insert"))
    // OPTIMIZE: content-identical commit, prior versions intact
    val v2 = g.optimizeVersioned()
    assert(v2 >= 1)
    val after = g.recordsAsOf(v2).select("record_id", "title").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after == now)
    assert(g.recordsAsOf(0).count() == 2L)
    // RESTORE: roll back the bad refresh; history keeps everything
    val v3 = g.restoreVersioned(0)
    assert(v3 == v2 + 1)
    val cur = g.recordsAsOf(v3).select("record_id", "title").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cur == before)
    assert(g.recordsAsOf(1).count() == 3L) // rolled-back v1 travels
  }
}
