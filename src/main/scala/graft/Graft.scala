package graft

import graft.ingest.{Adapter, ComplianceCheck, DataRecord, Pipeline}
import graft.operators.{ExportOps, FtsOps, ReferenceOps}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The user-facing client: the reference CLI's five verbs
  * (`setup`/`collect`/`search`/`analytics`/`status`/`export`,
  * ethical_crawler.py:1110–1533) over a catalog directory. A user of
  * the reference switches by pointing this at a table directory; each
  * verb composes the operator layer (ReferenceOps/ExportOps/FtsOps/
  * Pipeline) and returns DataFrames (render with [[Render.table]]).
  *
  * Reads follow [[Pipeline]]'s rule: one resolved relation per table
  * version. A verb takes [[records]] once; calling it again at an
  * unchanged version is free (no listing job, no re-analysis), and any
  * write — from this instance or another over the same directory —
  * invalidates it, so the next read sees the write. Before the first
  * collect, the read verbs answer over an empty records table.
  *
  * Writes of rows already on the driver (`setup`'s checks, `collect`'s
  * new records) are written there with Spark's parquet writer and run
  * no Spark job; writes of DataFrames (`collectStream`, upserts,
  * backfills, compaction) keep Spark's distributed writer. `collect`
  * dedups against the records table's key index, which the session
  * holds and keeps current from the table's file stamps ([[Pipeline]]),
  * so a warm collect runs no Spark job at all.
  *
  * A serve write is `collect` then [[indexFts]]. Over a current FTS
  * index the collect appends its new rows' postings itself, on the
  * driver, at most one file per bucket at the session's shuffle width
  * and with no Spark job, so the [[indexFts]] after it only lists the
  * two tables and writes nothing. On a 4-core host, over a
  * ~5.7k-record catalog with 500-item collects (250 new rows, ~5.3k
  * postings), the driver append takes ~0.1 s, ~55–75 ms of it sorting
  * and writing the 4 bucket files; [[indexFts]]' two jobs over the new
  * records files took ~0.27 s. A rewrite of the records table makes
  * the next [[indexFts]] a full build.
  */
final class Graft(spark: SparkSession, tableDir: String) {

  private val pipeline = new Pipeline(spark, tableDir)

  def records: DataFrame = pipeline.dataRecords

  /** `setup` — persist compliance checks for the given adapters
    * (ethical_crawler.py:1116–1154). Returns the checks run.
    */
  def setup(adapters: Seq[Adapter]): Seq[ComplianceCheck] = {
    val (_, checks) = pipeline.compliantAdapters(adapters)
    pipeline.appendChecks(checks)
    checks
  }

  /** `collect` — gate, discover, dedup-append
    * (ethical_crawler.py:1157–1203). Returns new-record count.
    *
    * No Spark job into a fresh directory or over a table whose files
    * the session's key index covers: the dedup looks the batch's keys
    * up in the index on the driver, and the checks append and the write
    * of the new rows, one file per `source_name` it touches, run on the
    * driver ([[Catalog.appendRows]]). One job, a scan of the key
    * columns, after a file the index does not cover arrives (another
    * writer's append) or a covered one changes (a rewrite), and on a
    * cold process's first collect. No checks or nothing new skips the
    * matching write.
    *
    * When the catalog has an FTS index current for the records files
    * listed before the write ([[Lineage.cover]]), the collect also
    * appends its new rows' postings to it on the driver
    * ([[FtsOps.appendPostings]], at most one file per bucket) and
    * records the index covering the written files, still with no job;
    * [[indexFts]] then has nothing to do. Any other index is left to
    * [[indexFts]]; a catalog with no index pays one failed open of the
    * index's record. The analytics state is kept the same way
    * ([[Mv.State.cover]]): over a current state, the collect appends its
    * new rows' state on the driver, so [[analyticsMaterialized]] then
    * builds nothing. The two appends write different directories and
    * run side by side; the collect returns when both are done.
    */
  def collect(adapters: Seq[Adapter]): Long =
    pipeline.collectAll(adapters, { a =>
      val state = Future(analyticsState.cover(a))(ownThread)
      try extendFts(a) finally Await.ready(state, Duration.Inf)
      Await.result(state, Duration.Inf)
    })._1

  /** Runs each task on a new thread, which inherits the caller's Spark
    * local properties (its job group), so a job the task launched would
    * count as the caller's.
    */
  private val ownThread = ExecutionContext.fromExecutor { (r: Runnable) =>
    val t = new Thread(r)
    t.setDaemon(true)
    t.start()
  }

  /** [[collect]]'s postings append to a current FTS index. */
  private def extendFts(a: Pipeline.Appended): Unit = {
    val buckets = spark.sessionState.conf.numShufflePartitions
    Lineage.cover(a.listed, a.written, ftsStore(buckets)) {
      FtsOps.appendPostings(spark, a.rows.map(r => r.record_id -> ftsText(r)),
        "record_id", ftsTable, ftsPath, buckets)
    }
  }

  /** `search` — ILIKE disjunction over title/description/summary +
    * optional source/type equality filters + recency top-k
    * (ethical_crawler.py:1206–1270).
    */
  def search(query: Option[String], source: Option[String] = None,
      dataType: Option[String] = None, limit: Int = 10): DataFrame =
    ReferenceOps.search(records, query,
      textCols = Seq("title", "description", "content_summary"),
      equalityFilters =
        source.map("source_name" -> _).toMap ++
          dataType.map("data_type" -> _).toMap,
      orderCol = "ingested_at", tiebreakers = Seq("record_id"),
      limit = limit)

  private def ftsTable: String =
    f"graft_fts_${tableDir.hashCode & 0x7fffffff}%08x"

  private def ftsPath: String = s"$tableDir/fts_index"

  private def ftsDocs(r: DataFrame): DataFrame =
    r.select(col("record_id"),
      concat_ws(" ", col("title"), col("description")).as("text"))

  /** [[ftsDocs]]' text of one record on the driver: `concat_ws` skips
    * nulls.
    */
  private def ftsText(r: DataRecord): String =
    (Option(r.title) ++ r.description).mkString(" ")

  /** Build or update the persisted FTS index for the records table —
    * [[searchFts]] then prunes to the queried terms' buckets instead
    * of re-scanning the corpus. The index is bucketed at the session's
    * shuffle width, one file per bucket per write
    * ([[FtsOps.writeIndex]]).
    *
    * The index is kept by [[Lineage.maintain]] over the records files,
    * its record next to it. FTS-specific:
    *  - the record counts only while the index table is registered in
    *    this session at the current width, so a width change or a new
    *    session leads to a full build;
    *  - [[collect]] covers the files it writes as it writes them, so
    *    after a collect over a current index this call writes nothing;
    *    it appends the postings of other writers' files
    *    (`Pipeline.appendRecords`, [[collectStream]]).
    */
  def indexFts(): Unit = {
    val buckets = spark.sessionState.conf.numShufflePartitions
    def write(docs: DataFrame, mode: SaveMode): Unit =
      FtsOps.writeIndex(ftsDocs(docs), "record_id", "text", ftsTable,
        ftsPath, buckets, mode)
    Lineage.maintain(Lineage.stamps(spark, pipeline.recordsPath),
      ftsStore(buckets),
      Some(files => write(pipeline.recordsFiles(files), SaveMode.Append)),
      () => {
        val r = records
        write(r, SaveMode.Overwrite)
        Lineage.inputs(spark, pipeline.recordsPath, r)
      })
  }

  /** The FTS index's record, usable only while the index table is
    * registered in this session at `buckets`.
    */
  private def ftsStore(buckets: Int): Lineage.Store =
    new Lineage.Dir(spark, ftsPath, spark.catalog.tableExists(ftsTable) &&
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(ftsTable))
        .bucketSpec.exists(_.numBuckets == buckets))

  /** Full-text variant of search over the inverted index (L2 v2):
    * reads the persisted index when [[indexFts]] has built one, else
    * falls back to indexing on the fly. A [[collect]] over a current
    * index has appended its rows' postings, so they are found with no
    * [[indexFts]] in between; another writer's rows are found once
    * [[indexFts]] has run.
    */
  def searchFts(terms: Seq[String], limit: Int = 10): DataFrame =
    if (spark.catalog.tableExists(ftsTable))
      FtsOps.searchIndexed(spark, ftsTable, "record_id", terms, limit)
    else FtsOps.searchDocs(ftsDocs(records), "record_id", "text", terms,
      limit)

  /** idf-weighted full-text search (tf·ln(N/df), OR semantics): the
    * ranked variant of [[searchFts]] — a term present in most records
    * carries idf ≈ 0, so rare-term matches outrank stop-token piles.
    * Reads the persisted index when one exists; the corpus count, from
    * the records files' parquet footers ([[Catalog.rowCount]], no job),
    * rides in as a literal.
    */
  def searchFtsRanked(terms: Seq[String], limit: Int = 10): DataFrame =
    if (spark.catalog.tableExists(ftsTable))
      FtsOps.searchRankedIndexed(spark, ftsTable,
        Catalog.rowCount(spark, pipeline.recordsPath), "record_id", terms, limit)
    else FtsOps.searchRankedDocs(ftsDocs(records), "record_id", "text",
      terms, limit)

  /** Continuous `collect` — the reference's dedup-append verb
    * (ethical_crawler.py:1157–1203) running as a stream: tail a
    * landing directory of DataRecord parquet drops and dedup-append
    * each micro-batch into the records table
    * ([[streaming.StreamingOps.dedupAppendSink]]) in the same
    * `source_name` layout [[collect]] writes, so either verb sees the
    * other's rows. First write per (source_name, record_id) wins —
    * within a batch by `ingested_at` — and a replayed batch appends
    * nothing, so at-least-once file delivery becomes
    * exactly-once-per-key in the table.
    */
  def collectStream(landingDir: String, checkpointDir: String): Unit = {
    val stream = spark.readStream.schema(Pipeline.RecordsEncoder.schema)
      .option("maxFilesPerTrigger", "1").parquet(landingDir)
    streaming.StreamingOps.dedupAppendSink(stream, spark,
      pipeline.recordsPath, keys = Seq("source_name", "record_id"),
      batchOrder = "ingested_at", checkpointDir,
      partitionCols = Seq("source_name"))
  }

  private def versionedPath: String = tableDir + "/records_versioned"

  /** `refresh` with HISTORY — the reference's upsert verb
    * (ethical_crawler.py:977–1005) onto the [[Versioned]] snapshot
    * layer instead of overwrite-swap: refreshed rows replace matched
    * keys, every refresh commits a time-travelable version, and
    * [[refreshHistory]]/[[recordsAsOf]] expose the audit trail the
    * plain table cannot keep. Returns the committed version.
    */
  def refreshVersioned(records: Seq[DataRecord]): Int = {
    import spark.implicits._
    val incoming = records.toDS().toDF()
    if (Versioned.currentVersion(spark, versionedPath).isEmpty)
      Versioned.init(incoming, versionedPath,
        partitionCols = Seq("source_name"))
    else
      Versioned.mergeUpsert(incoming, versionedPath,
        keys = Seq("source_name", "record_id"),
        partitionCols = Seq("source_name"))
  }

  /** Per-version row counts of the versioned records table. */
  def refreshHistory(): DataFrame =
    Versioned.history(spark, versionedPath)

  /** Time travel over refresh commits. */
  def recordsAsOf(version: Int): DataFrame =
    Versioned.snapshot(spark, versionedPath, version)

  /** Change feed between two refresh commits (insert/update/delete
    * rows, rewritten-unchanged suppressed) — what an incremental
    * downstream consumer tails instead of re-reading the table.
    */
  def refreshChanges(fromVersion: Int, toVersion: Int): DataFrame =
    Versioned.changes(spark, versionedPath, fromVersion, toVersion,
      keys = Seq("source_name", "record_id"))

  /** OPTIMIZE — bin-pack the small-file debris refresh commits leave
    * behind; content-identical new version (the maintenance verb every
    * CoW table needs between refreshes). Returns the committed (or
    * unchanged) version.
    */
  def optimizeVersioned(targetFileBytes: Long = 128L << 20): Int =
    Versioned.compact(spark, versionedPath, targetFileBytes,
      partitionCols = Seq("source_name"))

  /** RESTORE — roll the records table back to an earlier refresh
    * commit (bad upstream batch, operator error) as a new
    * metadata-only version; the rolled-back history stays
    * time-travelable. Returns the committed version.
    */
  def restoreVersioned(version: Int): Int =
    Versioned.restore(spark, versionedPath, version)

  /** The state of the last [[analytics]] call, cached. */
  private var analyticsCached: Option[DataFrame] = None

  /** `analytics` — per-source stats, type counts, and the three
    * reference-stubbed analytics (tags/temporal/license)
    * (ethical_crawler.py:1274–1349), recomputed per call as the
    * reference does, from one scan: one [[AnalyticsState]] over
    * `records` (each input partition merged per key in parallel, the
    * partial states merged in one partition), cached, of which each
    * view is a local projection and sort. Building the frames launches
    * no job; collecting all five runs the scan once, so six jobs in
    * all. The previous call's state is unpersisted when the next call
    * starts, so no call answers from an earlier one's.
    */
  def analytics(): Map[String, DataFrame] = synchronized {
    analyticsCached.foreach(_.unpersist())
    val state = AnalyticsState.of(records).cache()
    analyticsCached = Some(state)
    AnalyticsState.Views.map { case (name, view) => name -> view(state) }
  }

  private val analyticsState =
    new Mv.State(spark, s"$tableDir/mv/_analytics", pipeline)

  /** One [[analytics]] view served from the analytics state persisted
    * under `$tableDir/mv/_analytics` ([[Mv.State]]): its files merged
    * per key, then projected. After a [[collect]] the state is already
    * current, merged on the driver, and nothing is read or written;
    * another writer's append costs a pass over the new files only, and
    * a rewrite a pass over the table.
    */
  def analyticsMaterialized(name: String): DataFrame = {
    val view = AnalyticsState.Views.getOrElse(name,
      throw new IllegalArgumentException(s"unknown analytics view: $name"))
    view(analyticsState.served())
  }

  /** `status` — two-key stats rolled up per source joined with the
    * latest compliance check (ethical_crawler.py:1416–1529).
    */
  def status(): DataFrame = {
    val stats = records
      .groupBy(col("source_name"))
      .agg(count(lit(1)).as("n_records"),
        countDistinct(col("data_type")).as("n_types"),
        max(col("ingested_at")).as("last_ingested"))
    val latestCheck = ReferenceOps.latestPerKey(
      pipeline.complianceChecks,
      key = "source_name", orderCol = "last_check",
      tiebreaker = "last_check")
      .select(col("source_name"), col("robots_txt_compliant"),
        col("api_key_valid"), col("last_check"))
    stats.join(latestCheck, Seq("source_name"), "left")
      .orderBy(col("n_records").desc, col("source_name").asc)
  }

  /** `export` — predicate + format + path, returns the attribution
    * footer frame (ethical_crawler.py:1352–1413).
    */
  def export(whereClause: Option[String], format: String, path: String)
      : DataFrame = {
    val r = records
    ExportOps.export(r, whereClause, format, path)
    ExportOps.attribution(r, "source_name", whereClause)
  }

  // ---- north-star surface over the catalog ----

  /** Exact content dedup of the records table on (title, description)
    * text — keep-first by record_id.
    */
  def dedupedRecords(): DataFrame = {
    val withText = records.withColumn("__content",
      concat_ws(" ", col("title"), col("description")))
    operators.DedupOps
      .exactDedup(withText, "__content", "record_id")
      .drop("__content")
  }

  /** Near-duplicate record pairs by banded MinHash over the
    * title+description text, exact-verified at `minJaccard`.
    */
  def nearDuplicates(minJaccard: Double = 0.8): DataFrame =
    operators.DedupOps.minhashPairs(
      records.withColumn("__content",
        concat_ws(" ", col("title"), col("description"))),
      "record_id", "__content", minJaccard)

  /** Near-dup pairs resolved to canonical clusters: every record in a
    * duplicate cluster labeled with the cluster's minimum record_id —
    * keep rows where doc equals cluster id, drop the rest.
    */
  def duplicateClusters(minJaccard: Double = 0.8): DataFrame =
    operators.DedupOps.dupClusters(nearDuplicates(minJaccard))

  /** Decontaminate the catalog against a benchmark frame
    * (`idCol`, `textCol`): catalog records sharing at least
    * `minShared` word trigrams with a benchmark doc, via the banded
    * scale path ([[operators.DedupOps.crossCorpusOverlapBanded]]).
    */
  def decontaminate(benchmark: DataFrame, idCol: String,
      textCol: String, minShared: Int = 3): DataFrame =
    operators.DedupOps.crossCorpusOverlapBanded(
      benchmark.select(col(idCol).cast("string").as("record_id"),
        col(textCol).as("__content")),
      records.withColumn("__content",
        concat_ws(" ", col("title"), col("description")))
        .select(col("record_id"), col("__content")),
      "record_id", "__content", minShared)

  /** One-row profile of the records table (row/distinct/null counts,
    * size min/max, ingest time span) — the snapshot "describe" a
    * pipeline stores next to every export.
    */
  def profile(): DataFrame =
    operators.AnalyticsOps.profile(records,
      distinctCols = Seq("source_name", "data_type"),
      numericCol = "size_bytes", tsCol = "ingested_at")

  /** Deterministic (reproducible) sample of the records table:
    * md5-hash membership at `ratePerMille`, independent of partition
    * layout and run order.
    */
  def sample(ratePerMille: Int): DataFrame =
    operators.AnalyticsOps.sampledRows(records, "record_id", ratePerMille)

  /** Redaction audit per source: rows whose title+description change
    * under email/digit scrubbing, and distinct scrubbed payloads.
    */
  def redactionAudit(): DataFrame =
    operators.AnalyticsOps.redactionStats(
      records.withColumn("__payload",
        concat_ws(" ", col("title"), col("description"))),
      "source_name", "__payload")

  /** Backfill the `embedding` column the reference declares and never
    * writes (ethical_crawler.py:842): a deterministic 16-dim
    * byte-histogram feature of title+description via the multimodal
    * extractor's decode stand-in ([[operators.MultimodalOps.decodeStub]]
    * — a real text encoder replaces only that function; the
    * mapPartitions batch shape, per-partition init point and
    * write-temp-then-swap rewrite stay). Returns the rows embedded;
    * [[similar]] is live afterwards.
    */
  def backfillEmbeddings(): Long = {
    import spark.implicits._
    val filled = pipeline.records.mapPartitions { it =>
      // per-partition encoder init would go here (model load)
      it.map { r =>
        val payload = (r.title + " " + r.description.getOrElse(""))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        r.copy(embedding =
          Some(operators.MultimodalOps.decodeStub(payload).toSeq))
      }
    }.toDF().cache()
    val n = filled.count() // materialize before touching source files
    val tmp = pipeline.recordsPath + "__embed_tmp"
    Catalog.overwritePartitioned(filled, tmp, Seq("source_name"))
    filled.unpersist()
    Catalog.replace(spark, tmp, pipeline.recordsPath)
    n
  }

  /** Top-k records most similar to `recordId` by embedding cosine
    * (records whose embedding is null are skipped). Empty until
    * [[backfillEmbeddings]] populates the column (the reference
    * declares it and never writes it — ethical_crawler.py:842).
    */
  def similar(recordId: String, k: Int = 10): DataFrame = {
    val emb = records.filter(col("embedding").isNotNull)
      .select(col("record_id"),
        functions.VectorFunctions.toDoubleArray(col("embedding"))
          .as("v"))
    val q = emb.filter(col("record_id") === recordId)
      .select(col("v").as("qv"))
    emb.filter(col("record_id") =!= recordId)
      .crossJoin(broadcast(q))
      .select(col("record_id"),
        round(functions.VectorFunctions.cosine(col("v"), col("qv")), 6)
          .as("score"))
      .orderBy(col("score").desc, col("record_id").asc)
      .limit(k)
  }
}
