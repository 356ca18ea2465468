package graft.streaming

import graft.{Graft, RegistryFixtures, SparkEntry, SparkSpec, Tables}
import graft.ingest.DataRecord
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("tumbling-window counts: streaming result equals batch result") {
    val batchEvents = Tables.events(spark, sfSmoke).cache()
    // stage the smoke events as several parquet files → several
    // micro-batches (maxFilesPerTrigger=1)
    val stageDir = tmpDir("stream") + "/events"
    batchEvents.repartition(4).write.parquet(stageDir)
    val staged = spark.read.parquet(stageDir)

    val stream = StreamingOps.eventsStream(spark, stageDir, staged.schema)
    val agg = StreamingOps.tumblingCounts(stream, "ts",
      windowLength = "1 hour", watermarkDelay = "10 minutes")
    // watermark must be part of the streaming plan (bounds state)
    assert(agg.queryExecution.analyzed.toString
      .contains("EventTimeWatermark"))
    val streamed = StreamingOps.runToMemorySink(agg, "win_counts", spark)

    val expected = StreamingOps.tumblingCounts(staged, "ts",
      windowLength = "1 hour", watermarkDelay = "10 minutes")

    val got = streamed.orderBy("window_start", "event_type").collect()
    val want = expected.orderBy("window_start", "event_type").collect()
    assert(got.length == want.length)
    assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq)
    assert(got.map(_.getLong(2)).sum == batchEvents.count())
  }

  test("sliding-window counts: streaming equals batch; 2x tumbling rows") {
    val batchEvents = Tables.events(spark, sfSmoke).cache()
    val stageDir = tmpDir("stream") + "/events_sliding"
    batchEvents.repartition(4).write.parquet(stageDir)
    val staged = spark.read.parquet(stageDir)

    val stream = StreamingOps.eventsStream(spark, stageDir, staged.schema)
    val agg = StreamingOps.slidingCounts(stream, "ts",
      windowLength = "2 hours", slide = "1 hour",
      watermarkDelay = "10 minutes")
    assert(agg.queryExecution.analyzed.toString
      .contains("EventTimeWatermark"))
    val streamed = StreamingOps.runToMemorySink(agg, "slide_counts", spark)

    val expected = StreamingOps.slidingCounts(staged, "ts",
      "2 hours", "1 hour", "10 minutes")
    val got = streamed.orderBy("window_start", "event_type").collect()
    val want = expected.orderBy("window_start", "event_type").collect()
    assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq)
    // every event lands in exactly windowLength/slide = 2 windows
    assert(got.map(_.getLong(2)).sum == 2 * batchEvents.count())
  }

  test("sessionize: gap splits, ordering, totals (batch oracle)") {
    import spark.implicits._
    def ev(id: Long, t: Long, u: Long, v: Double) =
      StreamingOps.Event(id, new java.sql.Timestamp(t), u, "click", v)
    val events = Seq(
      // user 1: two sessions split by a 10-minute gap
      ev(1, 0L, 1L, 1.0), ev(2, 60000L, 1L, 2.0),
      ev(3, 660000L, 1L, 4.0),
      // user 2: one session, out-of-order arrival
      ev(5, 120000L, 2L, 8.0), ev(4, 100000L, 2L, 16.0)).toDS
    val sessions = StreamingOps.sessionize(events,
        gapMillis = 5 * 60 * 1000, emitOpen = true)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(sessions.length == 3)
    val Seq(s1a, s1b, s2) = sessions.toSeq
    assert(s1a.user_id == 1 && s1a.n_events == 2 && s1a.total_value == 3.0)
    assert(s1a.session_start.getTime == 0L &&
      s1a.session_end.getTime == 60000L)
    assert(s1b.n_events == 1 && s1b.total_value == 4.0)
    assert(s2.user_id == 2 && s2.n_events == 2 && s2.total_value == 24.0)
    assert(s2.session_start.getTime == 100000L)
  }

  test("custom sessionize agrees with native sessionWindowAgg") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, sfSmoke)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamingOps.Event]
    val custom = StreamingOps.sessionize(events,
        gapMillis = 30 * 60 * 1000, emitOpen = true)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    val native = StreamingOps.sessionWindowAgg(events.toDF, "ts",
        "30 minutes")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    assert(custom == native)
  }

  test("sessionize on the real events table: conservation of events") {
    import spark.implicits._
    val events = Tables.events(spark, sfSmoke)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamingOps.Event]
    val sessions = StreamingOps.sessionize(events,
      gapMillis = 30 * 60 * 1000, emitOpen = true).cache()
    assert(sessions.agg(sum("n_events")).head.getLong(0) ==
      events.count())
    // sessions of one user never overlap
    val byUser = sessions.collect().groupBy(_.user_id)
    byUser.values.foreach { ss =>
      val sorted = ss.sortBy(_.session_start.getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.session_end.getTime < b.session_start.getTime)
        case _ => ()
      }
    }
  }

  test("sessionize (streaming): event-time timeout closes quiet sessions") {
    import spark.implicits._
    // user 1 goes quiet; a later batch advances the watermark far past
    // user 1's last+gap → the open session must be emitted via the
    // EventTimeTimeout branch and its state evicted (round-2 advice:
    // NoTimeout left it in the store forever, never emitted).
    val dir = tmpDir("sessto")
    val base = 1700000000000L
    def mk(rows: Seq[(Long, Long, Long, Double)]) =
      rows.map { case (id, t, u, v) =>
        (id, new java.sql.Timestamp(base + t), u, "click", v)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    // coalesce(1): one parquet part-file per batch dir, so each dir IS
    // one micro-batch (a local Seq write otherwise splits into 2 part
    // files that maxFilesPerTrigger=1 replays in nondeterministic
    // order, shuffling user 1's events across batches)
    mk(Seq((1L, 0L, 1L, 1.0), (2L, 60000L, 1L, 2.0)))
      .coalesce(1).write.parquet(dir + "/staged/b0")
    mk(Seq((3L, 4L * 3600000L, 2L, 8.0)))
      .coalesce(1).write.parquet(dir + "/staged/b1")
    val schema = spark.read.parquet(dir + "/staged/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(dir + "/staged/*")
    val events = stream.withWatermark("ts", "0 seconds")
      .as[StreamingOps.Event]
    val sessions = StreamingOps.sessionize(events,
      gapMillis = 5 * 60 * 1000, emitOpen = false)
    val q = sessions.writeStream.format("memory").queryName("sessto")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sessto").as[StreamingOps.UserSession].collect()
    assert(got.exists(s => s.user_id == 1 && s.n_events == 2 &&
      s.total_value == 3.0 && s.session_end.getTime == base + 60000L),
      s"timed-out session must be emitted, got ${got.toSeq}")
    // user 2's session is still within gap of the final watermark →
    // stays open, must NOT be emitted
    assert(!got.exists(_.user_id == 2), s"open session leaked: ${got.toSeq}")
  }

  test("append-mode windowed agg emits only watermark-closed windows") {
    import spark.implicits._
    // three files in ts order → watermark advances between batches;
    // the last hour stays open and must NOT be emitted in append mode
    val dir = tmpDir("appendwin")
    val mk = (hour: Int, ids: Seq[Long]) => ids.map(i =>
      (i, new java.sql.Timestamp(1700000000000L + hour * 3600000L +
        i * 1000), "click", 1.0)).toDF("event_id", "ts", "event_type",
      "value")
    mk(0, Seq(1, 2)).write.parquet(dir + "/staged/b0")
    mk(1, Seq(3)).write.parquet(dir + "/staged/b1")
    mk(5, Seq(4)).write.parquet(dir + "/staged/b2")
    val schema = spark.read.parquet(dir + "/staged/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(dir + "/staged/*")
    val agg = StreamingOps.tumblingCounts(stream, "ts", "1 hour",
      "0 seconds")
    val q = agg.writeStream.format("memory").queryName("append_win")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val emitted = spark.table("append_win")
      .select("window_start", "cnt").collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    // hours 0 and 1 closed (watermark reached hour 5); hour 5 open
    assert(emitted.values.sum <= 3,
      s"open window must be withheld, got $emitted")
    assert(!emitted.keys.exists(_ >= 1700000000000L + 5 * 3600000L))
  }

  test("streaming dedup: duplicate keys across micro-batches dropped once") {
    import spark.implicits._
    // two files = two micro-batches; user_id 7 appears in both
    val dir = tmpDir("sdedup")
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, new java.sql.Timestamp(1700000000000L + i * 1000), s"e$i"))
      .toDF("user_id", "ts", "payload")
    mk(Seq(1L, 2L, 7L)).write.parquet(dir + "/b1")
    mk(Seq(7L, 3L)).write.parquet(dir + "/b2")
    val all = spark.read.parquet(dir + "/b1", dir + "/b2")
    val stageDir = dir + "/staged"
    all.write.parquet(stageDir)
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val deduped = StreamingOps.dedupStream(stream, "ts",
      Seq("user_id"), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sdedup").select("user_id")
      .as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 7L))
  }

  test("dedupSink: redelivered rows vanish; replayed batch output " +
      "overwrites, not duplicates") {
    import spark.implicits._
    val root = tmpDir("sdsink")
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, new java.sql.Timestamp(1700000000000L + i * 1000), s"e$i"))
      .toDF("event_id", "ts", "payload")
    // batch files named for arrival order; batch 1 redelivers 1 and 7
    RegistryFixtures.writeInputBatches(
      Seq(mk(Seq(1L, 2L, 7L)), mk(Seq(1L, 3L, 7L, 9L))), root)
    val schema = mk(Seq(0L)).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/in")
    StreamingOps.dedupSink(stream, "ts", Seq("event_id"),
      "1 hour", root + "/out", root + "/ckpt")
    val got = spark.read.parquet(root + "/out")
      .select("event_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 7L, 9L),
      "each redelivered key must appear exactly once")
  }

  /** Rows read by the one streaming query `run` starts, summed over its
    * progress events. Those arrive on the listener bus, so this waits
    * for the query's termination event, which follows them.
    */
  private def rowsRead(run: => Unit): Long = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val rows = new java.util.concurrent.atomic.AtomicLong
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        rows.addAndGet(e.progress.numInputRows); ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        ended.countDown()
    }
    spark.streams.addListener(listener)
    try {
      run
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "no termination event")
    } finally spark.streams.removeListener(listener)
    rows.get
  }

  test("dedupSink restart: a stream resumed from its checkpoint " +
      "equals an uninterrupted run and reads only the new files") {
    import spark.implicits._
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, new java.sql.Timestamp(1700000000000L + i * 1000), s"e$i"))
      .toDF("event_id", "ts", "payload")
    // batches 1 and 2 redeliver batch-0 keys (1; 2 and 7)
    val batches = Seq(mk(Seq(1L, 2L, 7L)), mk(Seq(1L, 3L, 9L)),
      mk(Seq(2L, 7L, 11L)))
    def run(root: String): Long = rowsRead {
      StreamingOps.dedupSink(spark.readStream.schema(batches.head.schema)
          .option("maxFilesPerTrigger", "1").parquet(root + "/in"),
        "ts", Seq("event_id"), "1 hour", root + "/out", root + "/ckpt")
    }
    def out(root: String): Seq[String] =
      spark.read.parquet(root + "/out")
        .select("event_id", "ts", "payload").collect()
        .map(_.toString).sorted.toSeq

    val whole = tmpDir("sdwhole")
    RegistryFixtures.writeInputBatches(batches, whole)
    assert(run(whole) == 9)

    val resumed = tmpDir("sdresumed")
    RegistryFixtures.writeInputBatches(batches.take(1), resumed)
    assert(run(resumed) == 3)
    RegistryFixtures.writeInputBatches(batches.drop(1), resumed)
    assert(run(resumed) == 6, "the resumed query must read only the " +
      "files landed since its last committed batch")
    assert(out(resumed) == out(whole))
    assert(out(whole).size == 6, "each redelivered key exactly once")
  }

  test("collectStream restart: a stream resumed from its checkpoint " +
      "equals an uninterrupted run and reads only the new files") {
    import spark.implicits._
    def rec(id: String, title: String, atMillis: Long): DataRecord =
      DataRecord("Streamed Source", id, title, None, "dataset",
        s"https://example.org/$id", "{}", None, Nil, None,
        new java.sql.Timestamp(atMillis), None, None, None)
    // batches 1 and 2 redeliver batch-0 keys under later copies
    val batches = Seq(
      Seq(rec("a", "First", 1000L), rec("b", "Second", 1100L)),
      Seq(rec("a", "Redelivered", 2000L), rec("c", "Third", 2100L)),
      Seq(rec("b", "Redelivered", 3000L), rec("d", "Fourth", 3100L)))
      .map(_.toDS.toDF)
    def run(g: Graft, root: String): Long =
      rowsRead(g.collectStream(root + "/in", root + "/ckpt"))
    def records(g: Graft): Seq[String] =
      g.records.collect().map(_.toString).sorted.toSeq

    val whole = tmpDir("csWhole")
    val gWhole = new Graft(spark, whole + "/catalog")
    RegistryFixtures.writeInputBatches(batches, whole)
    assert(run(gWhole, whole) == 6)

    val resumed = tmpDir("csResumed")
    val g = new Graft(spark, resumed + "/catalog")
    RegistryFixtures.writeInputBatches(batches.take(1), resumed)
    assert(run(g, resumed) == 2)
    RegistryFixtures.writeInputBatches(batches.drop(1), resumed)
    assert(run(g, resumed) == 4, "the resumed query must read only the " +
      "files landed since its last committed batch")
    assert(records(g) == records(gWhole))
    assert(g.records.select("record_id", "title").as[(String, String)]
      .collect().toMap == Map("a" -> "First", "b" -> "Second",
        "c" -> "Third", "d" -> "Fourth"))
  }

  test("stream-static enrichment join matches the batch equivalent") {
    import spark.implicits._
    val events = Tables.events(spark, sfSmoke)
    val stageDir = tmpDir("enrich") + "/events"
    events.repartition(3).write.parquet(stageDir)
    val staged = spark.read.parquet(stageDir)
    // static dimension: user tier by id parity (broadcast side)
    val tiers = (0L until 100L).map(u =>
      (u, if (u % 2 == 0) "even" else "odd")).toDF("user_id", "tier")
    val stream = StreamingOps.eventsStream(spark, stageDir, staged.schema)
    val enriched = stream.join(broadcast(tiers), Seq("user_id"))
      .groupBy("tier").count()
    val q = enriched.writeStream.format("memory").queryName("enrich")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("enrich")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = staged.join(tiers, Seq("user_id")).groupBy("tier")
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("stream-stream click→purchase join matches the batch range join") {
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, sfSmoke)
    // Stage micro-batches in EVENT-TIME ORDER (one time-slice per
    // file, written sequentially → replayed in order): a random split
    // would make whole batches arrive later than the watermark and be
    // dropped — correct watermark semantics, but not what this test
    // measures.
    val bounds = events.selectExpr("min(ts)", "max(ts)").head()
    val (lo, hi) = (bounds.getTimestamp(0).getTime,
      bounds.getTimestamp(1).getTime)
    val cut1 = new java.sql.Timestamp(lo + (hi - lo) / 3)
    val cut2 = new java.sql.Timestamp(lo + 2 * (hi - lo) / 3)
    val stageDir = tmpDir("ssj") + "/events"
    events.filter(col("ts") <= lit(cut1))
      .coalesce(1).write.parquet(stageDir + "/b0")
    events.filter(col("ts") > lit(cut1) && col("ts") <= lit(cut2))
      .coalesce(1).write.parquet(stageDir + "/b1")
    events.filter(col("ts") > lit(cut2))
      .coalesce(1).write.parquet(stageDir + "/b2")
    val staged = spark.read.parquet(stageDir + "/b0",
      stageDir + "/b1", stageDir + "/b2")

    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "click"),
      df.filter(col("event_type") === "purchase"))

    val stream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(stageDir + "/*")
    val (sc, sp) = split(stream)
    val joined = StreamingOps.clickPurchaseJoin(sc, sp, "ts", 2)
    // both sides carry watermarks → join state is bounded
    assert(joined.queryExecution.analyzed.toString
      .contains("EventTimeWatermark"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ssjoin")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val (bc, bp) = split(staged)
    val want = StreamingOps.clickPurchaseJoin(bc, bp, "ts", 2)
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "smoke data must produce at least one match")
    assert(got == want,
      s"missing=${(want -- got).size} extra=${(got -- want).size}")
  }

  test("foreachBatch dedup-append sink: exactly-once-per-key, idempotent") {
    import spark.implicits._
    val dir = tmpDir("fbsink")
    // key 7 appears in both micro-batches; the second-batch copy must
    // be dropped against the table written by the first
    val mk = (rows: Seq[(Long, Long)]) => rows.map { case (k, ord) =>
      (k, ord, s"payload_${k}_$ord")
    }.toDF("key", "batch_order", "payload")
    mk(Seq((1L, 1L), (2L, 1L), (7L, 1L), (7L, 2L)))
      .coalesce(1).write.parquet(dir + "/staged/b0")
    mk(Seq((7L, 3L), (3L, 1L))).coalesce(1).write.parquet(dir + "/staged/b1")
    val schema = spark.read.parquet(dir + "/staged/b0").schema
    def run(cp: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(dir + "/staged/*")
      StreamingOps.dedupAppendSink(stream, spark, dir + "/table",
        keys = Seq("key"), batchOrder = "batch_order", cp)
    }
    run(dir + "/cp0")
    val got = spark.read.parquet(dir + "/table")
      .select("key", "batch_order").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L),
      s"first write per key must win, got $got")
    // replay from scratch (fresh checkpoint = every batch reprocessed):
    // the table must not grow — the sink is idempotent
    run(dir + "/cp1")
    assert(spark.read.parquet(dir + "/table").count() == 4)
  }

  test("foreachBatch signature-gate sink: near-dups dropped, replay-stable") {
    import spark.implicits._
    val dir = tmpDir("siggate")
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    // batch 0 seeds the store; batch 1 carries an exact near-dup of a
    // batch-0 doc (must reject) and a novel doc (must append)
    Seq((1L, "s1", base),
      (2L, "s1", "completely different text about unrelated matters"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(dir + "/staged/b0")
    Seq((10L, "sA", base),
      (11L, "sA", "wholly novel words that match nothing stored here"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(dir + "/staged/b1")
    val schema = spark.read.parquet(dir + "/staged/b0").schema
    def run(cp: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(dir + "/staged/*")
      StreamingOps.signatureGateSink(stream, spark, dir + "/store",
        "doc_id", "source", "text", minShared = 3, cp)
    }
    run(dir + "/cp0")
    val ids = spark.read.parquet(dir + "/store/shingles")
      .select("corpus_id").distinct().as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 11L), s"store after gate: $ids")
    val reports = spark.read.parquet(dir + "/store/reports")
      .select("source", "n_batch", "n_rejected", "n_appended")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(reports == Set(("s1", 2L, 0L, 2L), ("sA", 2L, 1L, 1L)),
      s"reports: $reports")
    // replay from a fresh checkpoint: every row now rejects against
    // its own earlier append — store content must not change
    run(dir + "/cp1")
    val ids2 = spark.read.parquet(dir + "/store/shingles")
      .select("corpus_id").distinct().as[Long].collect().toSet
    assert(ids2 == ids, "replay must not grow the store")
  }

  test("foreachBatch MoR sink: log commits, in-stream fold, replay-stable") {
    import spark.implicits._
    val dir = tmpDir("morsink")
    graft.Versioned.init(
      Seq((1L, 10L), (2L, 10L), (3L, 10L)).toDF("key", "v")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("key")),
      dir + "/vt")
    Seq((2L, 200L), (4L, 400L)).toDF("key", "v")
      .coalesce(1).write.parquet(dir + "/staged/b0")
    Seq((3L, 300L)).toDF("key", "v")
      .coalesce(1).write.parquet(dir + "/staged/b1")
    val schema = spark.read.parquet(dir + "/staged/b0").schema
    def run(cp: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(dir + "/staged/*")
      StreamingOps.morUpsertSink(stream, spark, dir + "/vt",
        Seq("key"), None, cp, foldEvery = 2)
    }
    run(dir + "/cp0")
    def state() = graft.Versioned.current(spark, dir + "/vt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s1 = state()
    assert(s1 == Map(1L -> 10L, 2L -> 200L, 3L -> 300L, 4L -> 400L), s"$s1")
    // the in-stream fold ran at batchId 1 -> manifest is log-free
    val vCur = graft.Versioned.currentVersion(spark, dir + "/vt").get
    assert(graft.Versioned.snapshotFiles(spark, dir + "/vt", vCur)
      .forall(!_.startsWith("log:")), "foldEvery must have folded")
    // replay from a fresh checkpoint: latest-wins makes re-appended
    // rows content-idempotent
    run(dir + "/cp1")
    assert(state() == s1, "replay must not change content")
  }

  test("foreachBatch merge sink: newest revision wins, replay-stable content") {
    import spark.implicits._
    val dir = tmpDir("mergesink")
    val mk = (rows: Seq[(Long, Long)]) => rows.map { case (k, ord) =>
      (k, ord, s"payload_${k}_$ord")
    }.toDF("key", "batch_order", "payload")
    // key 7: two revisions within batch 0 (latest must land), then a
    // third revision in batch 1 (must UPDATE the table row)
    mk(Seq((1L, 1L), (7L, 1L), (7L, 2L)))
      .coalesce(1).write.parquet(dir + "/staged/b0")
    mk(Seq((7L, 3L), (3L, 1L))).coalesce(1).write.parquet(dir + "/staged/b1")
    val schema = spark.read.parquet(dir + "/staged/b0").schema
    def run(cp: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(dir + "/staged/*")
      StreamingOps.mergeUpsertSink(stream, spark, dir + "/vt",
        keys = Seq("key"), batchOrder = "batch_order", cp)
    }
    run(dir + "/cp0")
    def table() = graft.Versioned.current(spark, dir + "/vt")
      .select("key", "batch_order").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(table() == Map(1L -> 1L, 3L -> 1L, 7L -> 3L),
      s"newest revision per key must win, got ${table()}")
    // refresh history is time-travelable: v0 holds batch 0's state
    assert(graft.Versioned.snapshot(spark, dir + "/vt", 0)
      .select("key", "batch_order").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 7L -> 2L))
    // replay from scratch: content unchanged (new versions, same rows)
    run(dir + "/cp1")
    assert(table() == Map(1L -> 1L, 3L -> 1L, 7L -> 3L))
  }

  test("tumblingCounts on a batch frame degrades to a plain windowed agg") {
    val ev = Tables.events(spark, sfSmoke)
    val agg = StreamingOps.tumblingCounts(ev, "ts", "1 hour", "10 minutes")
    assert(!agg.isStreaming)
    val total = agg.agg(sum("cnt")).head.getLong(0)
    assert(total == ev.count())
  }

  test("packStream batch twin equals c5; state spans micro-batches") {
    import spark.implicits._
    // batch: the custom-state packer's manifest == sequencePack's
    val corpus = Tables.documents(spark, sfSmoke)
    val docs = corpus.select(col("doc_id"), col("source"),
        size(graft.operators.TextOps.tokens(col("text")))
          .cast("long").as("n_tok"))
      .as[StreamingOps.PackDoc]
    val st = StreamingOps.packManifest(docs, 8192L).collect().toSeq
    val c5 = graft.operators.AnalyticsOps.sequencePack(corpus,
      "doc_id", "source", "text", 8192).collect().toSeq
    assert(st.map(_.toString) == c5.map(_.toString))
    // streaming: a doc arriving in trigger 2 must CONTINUE the open
    // shard (state carries the group's running token count across
    // micro-batches, not restart at shard 0)
    val dir = tmpDir("stpack")
    def mk(rows: Seq[(Long, String, Long)]) =
      rows.toDF("doc_id", "source", "n_tok")
    mk(Seq((1L, "s1", 6L), (2L, "s1", 5L)))   // before=0,6 → shards 0,0
      .coalesce(1).write.parquet(dir + "/staged/b0")
    mk(Seq((3L, "s1", 4L)))                    // before=11 → shard 1
      .coalesce(1).write.parquet(dir + "/staged/b1")
    val schema = spark.read.parquet(dir + "/staged/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(dir + "/staged/*")
      .as[StreamingOps.PackDoc]
    val q = StreamingOps.packStream(stream, budgetTokens = 10L)
      .writeStream.format("memory").queryName("stpack")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("stpack").as[StreamingOps.PackAssign]
      .collect().sortBy(_.doc_id)
    assert(got.map(a => (a.doc_id, a.shard_id)).toSeq ==
      Seq((1L, 0L), (2L, 0L), (3L, 1L)),
      s"state must carry across micro-batches: ${got.toSeq}")
  }

  test("hllRegisterSink: streamed registers equal the batch union's") {
    import spark.implicits._
    val rows = (0 until 600).map(i => (i.toLong, s"t${i % 3}", i.toLong % 97))
      .toDF("event_id", "event_type", "user_id")
    val root = tmpDir("hllsink")
    val in = new java.io.File(root + "/in"); in.mkdirs()
    (0 until 2).foreach { i =>
      val tmp = s"$root/b$i"
      rows.filter(col("event_id") % 2 === i)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(in, s"batch_$i.parquet").toPath)
      ()
    }
    val stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val store = root + "/regs"
    StreamingOps.hllRegisterSink(stream, spark, "event_type",
      "user_id", store, root + "/ckpt")
    def regMap(df: org.apache.spark.sql.DataFrame) =
      df.select("t", "bucket", "rho").collect().map(r =>
        (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    // the store is one partition per batch, MAX-merged on read
    val raw = graft.Catalog.load(spark, store)
    assert(raw.select("batch").distinct().count() == 2,
      "one register partition per micro-batch")
    val streamed = regMap(StreamingOps.mergedHllRegisters(raw))
    val batch = regMap(graft.operators.AnalyticsOps
      .hllRegisters(rows, "event_type", "user_id"))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("cmsRegisterSink: SUM-merged streamed registers equal the " +
      "batch sketch's") {
    import spark.implicits._
    val rows = (0 until 500).map(i => (i.toLong, i.toLong % 37))
      .toDF("event_id", "user_id")
    val root = tmpDir("cmssink")
    val in = new java.io.File(root + "/in"); in.mkdirs()
    (0 until 2).foreach { i =>
      val tmp = s"$root/b$i"
      rows.filter(col("event_id") % 2 === i)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(in, s"batch_$i.parquet").toPath)
      ()
    }
    val stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val store = root + "/regs"
    StreamingOps.cmsRegisterSink(stream, spark, "user_id", store,
      root + "/ckpt")
    def regMap(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("j", "b", "CAST(c AS BIGINT) AS c").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the store is one partition per batch (a foreachBatch retry
    // rewrites its own partition — replay-idempotent), SUM-merged
    // on read
    val raw = graft.Catalog.load(spark, store)
    assert(raw.select("batch").distinct().count() == 2,
      "one register partition per micro-batch")
    val streamed = regMap(StreamingOps.mergedCmsRegisters(raw))
    val batch = regMap(graft.operators.SkewOps
      .cmsRegisters(rows, "user_id"))
    assert(streamed == batch && streamed.nonEmpty)
    // every register holds ≥ the max exact count it absorbed, and
    // total mass across one hash row equals |rows|
    assert(streamed.collect { case ((0, _), c) => c }.sum == 500L)
  }

  test("asofSink: micro-batched enrichment equals the one-shot batch join") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val clicks = Seq((1L, ts(10), 100L), (1L, ts(20), 101L),
        (2L, ts(5), 200L))
      .toDF("user_id", "ts", "click_id")
    val purchases = Seq((900L, 1L, ts(15)), (901L, 1L, ts(25)),
        (902L, 2L, ts(4)), (903L, 2L, ts(6)))
      .toDF("purchase_id", "user_id", "ts")
    val root = tmpDir("asofsink")
    val in = new java.io.File(root + "/in"); in.mkdirs()
    (0 until 2).foreach { i =>
      val tmp = s"$root/b$i"
      purchases.filter(col("purchase_id") % 2 === i)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(in, s"batch_$i.parquet").toPath)
      ()
    }
    val stream = spark.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val out = root + "/out"
    StreamingOps.asofSink(stream, clicks, "user_id", "ts", "ts",
      Seq("click_id"), "click_id", out, root + "/ckpt")
    val streamed = spark.read.parquet(out)
      .select("purchase_id", "click_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val batch = graft.operators.SkewOps.asofJoin(purchases, clicks,
        "user_id", "ts", "ts", Seq("click_id"), "click_id")
      .select("purchase_id", "click_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(streamed == batch)
    assert(streamed == Map(900L -> 100L, 901L -> 101L, 902L -> -1L,
      903L -> 200L))
  }

  test("intervalJoinSink: matches across micro-batches come out of " +
      "join state; window bounds are half-open") {
    import spark.implicits._
    import java.sql.Timestamp
    // Event times sit WELL past the epoch: Spark's global watermark
    // initializes to 0 ms, and a stateful operator drops input rows
    // at-or-before the current watermark as late — a row AT epoch 0
    // silently vanishes from the join (observed; cost a debug
    // session). Real event data never sits at 1970, so pin the spec
    // to a modern base instead of a special-cased boundary.
    def ts(s: Long) = new Timestamp((1700000000L + s) * 1000L)
    // view 10 at t=0 matches purchases at t=5 (same batch) and t=40
    // (LATER batch — must come from buffered state); t=60 is exactly
    // at the window edge (exclusive); user 2's purchase precedes its
    // view (no match)
    val views = Seq((10L, 1L, ts(0)), (11L, 2L, ts(50)))
      .toDF("view_id", "v_user", "view_ts")
    val purchases = Seq((900L, 1L, ts(5)), (901L, 1L, ts(40)),
        (902L, 1L, ts(60)), (903L, 2L, ts(45)))
      .toDF("purchase_id", "p_user", "p_ts")
    val root = tmpDir("ssjoin")
    def stage(df: org.apache.spark.sql.DataFrame, sub: String,
        idCol: String): String = {
      val in = new java.io.File(s"$root/$sub/in"); in.mkdirs()
      (0 until 2).foreach { i =>
        val tmp = s"$root/$sub/b$i"
        df.filter(col(idCol) % 2 === i).coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath,
          new java.io.File(in, s"batch_$i.parquet").toPath)
        ()
      }
      in.toString
    }
    val vIn = stage(views, "v", "view_id")
    val pIn = stage(purchases, "p", "purchase_id")
    val vStream = spark.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", 1).parquet(vIn)
    val pStream = spark.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", 1).parquet(pIn)
    val out = root + "/out"
    StreamingOps.intervalJoinSink(vStream, pStream, "v_user", "p_user",
      "view_ts", "p_ts", window = "1 minute", watermarkDelay = "1 day",
      out, root + "/ckpt")
    val got = spark.read.parquet(out)
      .select("view_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (10,900) same-batch-or-not, (10,901) cross-batch from state;
    // 902 excluded (t=60 == 0+60 exclusive), 903 precedes view 11
    assert(got == Set((10L, 900L), (10L, 901L)))
  }

  test("st6–st11 child sessions are sized from their landing files, " +
      "and a fixture build keeps only its landing files") {
    val sf = "/root/testdata/sf0.01"
    Seq(
      "st6_stream_mor" -> ("stream_mor", Seq("in")),
      "st7_stream_asof" -> ("stream_asof", Seq("in")),
      "st8_stream_hll" -> ("stream_hll", Seq("in")),
      "st9_stream_dedup" -> ("stream_dedup", Seq("in")),
      "st10_stream_join" -> ("stream_join", Seq("v/in", "p/in")),
      "st11_stream_cms" -> ("stream_cms", Seq("in"))
    ).foreach { case (q, (tag, landing)) =>
      val width = SparkEntry.queries(q)(spark, sf).sparkSession.conf
        .get("spark.sql.shuffle.partitions")
      val root = RegistryFixtures.cachedStreamInput(spark, sf, tag)(
        _ => fail(s"$q: its fixture is not cached"))
      val rows = landing.map(d => spark.read.parquet(s"$root/$d").count())
      assert(width == StreamingOps.stateWidth(rows.sum).toString,
        s"$q: width $width for ${rows.sum} landed rows")
      val names = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.map(_.getFileName.toString).toSeq
      assert(!names.exists(n => n == "state_rows" || n.matches("b\\d+")),
        s"$q: fixture holds more than its landing files: $names")
    }
  }
}
