package graft.ingest

import graft.{Catalog, FixtureCache, Lineage}
import graft.FixtureCache.FileStamp
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, max, struct}
import org.apache.spark.sql.types.StructType
import scala.collection.Searching

/** The `collect` verb end-to-end (ethical_crawler.py:938–966 + CLI
  * :1157–1203): compliance-gate each registered adapter (R2,
  * :942–948), discover records over HTTP (driver-side — polite
  * crawling is inherently serialized per source), then dedup-append
  * into the partitioned records table (K5 first-write-wins).
  *
  * Scale shape: the HTTP fetch is driver-side BY DESIGN (rate limits
  * are per-source and global), so a collect batch is one discovery
  * response already on the driver (≤ 5000 items, ~2 MB). Dedup runs
  * against the table's key index, held on the driver for the session
  * as the reference holds its in-process `UNIQUE(source_name,
  * record_id)` index (ethical_crawler.py:843): the stamps of the table
  * files it covers and, per `source_name`, the sorted record ids in
  * them: ~60 B of driver heap per stored key (Spark's `SizeEstimator`:
  * 4.3 MB for 72k keys with 9-character ids), so ~60 MB per million
  * keys. The index is kept by [[Lineage.maintain]] over the table's
  * files, and the files a collect writes join it as they are written
  * ([[Lineage.cover]]), so a warm collect runs no Spark job, while a
  * cold process pays one scan of the key columns of the whole table on
  * its first collect. The set logic — first per key in the batch,
  * minus the stored keys — is batch-bounded and runs on the driver,
  * with no shuffle. Only the NEW
  * rows are written (the existing table is never rewritten), and they
  * are already on the driver, so the driver writes them with Spark's
  * parquet writer ([[Catalog.appendRows]]) instead of shipping them to
  * a writer task: a collect adds one file per `source_name` partition
  * it touches, so later reads and index appends open one file per
  * collect, not one per core. The compliance checks are written the
  * same way.
  *
  * Read rule: each table resolves to one relation per table version
  * ([[Catalog.resolved]]). Re-reading an unchanged table is free — the
  * same resolved DataFrame, no Spark job — and any write (append,
  * upsert, replace) invalidates it, so the next read sees the write.
  */
final class Pipeline(spark: SparkSession, tableDir: String) {
  import spark.implicits._

  def recordsPath: String = s"$tableDir/data_records"
  def checksPath: String = s"$tableDir/compliance_checks"

  /** `data_records` at its current version; empty before the first
    * record is written.
    */
  def dataRecords: DataFrame =
    if (Catalog.tableExists(spark, recordsPath))
      Catalog.resolved(spark, recordsPath, Some(Pipeline.RecordsSchema))
    else spark.createDataFrame(java.util.List.of[Row](), Pipeline.RecordsSchema)

  /** The given `data_records` data files, as [[Lineage.stamps]] lists
    * them, read as the table.
    */
  def recordsFiles(files: Seq[FileStamp]): DataFrame =
    read(recordsPath, Pipeline.RecordsSchema, files)

  private def read(path: String, schema: StructType, files: Seq[FileStamp])
      : DataFrame = {
    val base = FixtureCache.qualified(spark, path)
    spark.read.schema(schema).option("basePath", path)
      .parquet(files.map(base + _._1): _*)
  }

  /** `compliance_checks` at its current version; empty before the
    * first check is written.
    */
  def complianceChecks: DataFrame =
    if (Catalog.tableExists(spark, checksPath))
      Catalog.resolved(spark, checksPath, Some(Pipeline.ChecksSchema))
    else Seq.empty[ComplianceCheck].toDF()

  /** R2 — compliance gate: sources whose latest check carries issues
    * are skipped (ethical_crawler.py:942–948).
    */
  def compliantAdapters(adapters: Seq[Adapter])
      : (Seq[Adapter], Seq[ComplianceCheck]) = {
    val checks = adapters.map(a => a -> a.checkCompliance())
    (checks.collect { case (a, c) if c.issues.isEmpty => a },
      checks.map(_._2))
  }

  /** K4 — append checks to the `compliance_checks` audit table; no
    * checks, no write. When the session holds the table's latest checks
    * current ([[latestChecks]]), the written checks join them
    * ([[Lineage.cover]]); otherwise the append lists nothing more.
    */
  def appendChecks(checks: Seq[ComplianceCheck]): Unit =
    if (checks.nonEmpty) {
      val held = heldChecks
      held.synchronized {
        val listed =
          if (held.lineage.read().isEmpty) Nil else Lineage.stamps(spark, checksPath)
        val written = Catalog.appendRows(spark, checks, Pipeline.ChecksEncoder,
          checksPath)
        Lineage.cover(listed, written, held.lineage)(
          held.add(checks.map(c => c.source_name -> Pipeline.Verdict(
            c.robots_txt_compliant, c.api_key_valid, c.last_check))))
      }
    }

  private def heldChecks: Pipeline.LatestChecks =
    Pipeline.latestChecks(spark, FixtureCache.qualified(spark, checksPath))(
      new Pipeline.LatestChecks)

  /** Per source, the verdict of its latest compliance check
    * ([[Pipeline.Verdict]]), held for the session and checks table and
    * brought up to the table's files by [[Lineage.maintain]]: the files
    * it does not cover (another writer's checks) are read and merged
    * in, and anything else re-reads the table. The first call in a
    * session reads the table; after that, with only this session's
    * [[appendChecks]] in between, a call only lists the table's files.
    */
  def latestChecks(): Map[String, Pipeline.Verdict] = {
    val held = heldChecks
    held.synchronized {
      val listed = Lineage.stamps(spark, checksPath)
      Lineage.maintain(listed, held.lineage,
        Some(files => held.add(verdicts(read(checksPath, Pipeline.ChecksSchema,
          files)))), () => {
          held.bySource = Map.empty
          if (listed.isEmpty) Set.empty
          else {
            val table = complianceChecks
            held.add(verdicts(table))
            Lineage.inputs(spark, checksPath, table)
          }
        })
      held.bySource
    }
  }

  /** Per source of `checks`, the verdict of its latest check, one row
    * per source: the largest `(last_check, robots failed, API key
    * failed)`, Spark's struct order being [[Pipeline.Verdict]]'s.
    */
  private def verdicts(checks: DataFrame): Seq[(String, Pipeline.Verdict)] =
    checks.groupBy(col("source_name"))
      .agg(max(struct(col("last_check"),
        (!col("robots_txt_compliant")).as("robots_failed"),
        (!col("api_key_valid")).as("api_key_failed"))).as("v"))
      .select(col("source_name"), !col("v.robots_failed"),
        !col("v.api_key_failed"), col("v.last_check"))
      .as[(String, Boolean, Boolean, Timestamp)].collect().toSeq
      .map { case (source, robots, apiKey, at) =>
        source -> Pipeline.Verdict(robots, apiKey, at)
      }

  /** Full collect: gate → persist checks (K4 append-only audit table)
    * → discover → dedup-append. Returns (new records, checks run).
    * `appended` goes to [[appendRecords]].
    */
  def collectAll(adapters: Seq[Adapter],
      appended: Pipeline.Appended => Unit = _ => ())
      : (Long, Seq[ComplianceCheck]) = {
    val (ok, checks) = compliantAdapters(adapters)
    appendChecks(checks)
    val discovered = ok.flatMap(_.discover())
    (appendRecords(discovered, appended), checks)
  }

  /** K5 — dedup append of a batch into `data_records`: existing rows
    * win; within the batch the first per `(source_name, record_id)`
    * wins, in arrival order (ethical_crawler.py:914's row loop).
    * Returns the number of genuinely new rows written. The table's key
    * index is locked from its refresh to its update with the written
    * files, so two appends to one table in a session never both find a
    * key new. When rows were written, `appended` gets what was written
    * while the lock is still held, so a caller that keeps an artifact
    * current from it sees the appends to the table in this session one
    * at a time.
    */
  def appendRecords(records: Seq[DataRecord],
      appended: Pipeline.Appended => Unit = _ => ()): Long = {
    val batch = records.distinctBy(r => (r.source_name, r.record_id))
    if (batch.isEmpty) return 0L
    val index = Pipeline.keyIndexes(spark,
      FixtureCache.qualified(spark, recordsPath))(new Pipeline.KeyIndex)
    index.synchronized {
      val listed = refresh(index)
      val fresh = batch.filterNot(r => index.contains(r.source_name, r.record_id))
      val written = Catalog.appendRows(spark, fresh, Pipeline.RecordsEncoder,
        recordsPath, Seq("source_name"))
      Lineage.cover(listed, written, index.lineage)(
        index.add(fresh.map(r => (r.source_name, r.record_id))))
      if (fresh.nonEmpty) appended(Pipeline.Appended(listed, written, fresh))
      fresh.size.toLong
    }
  }

  /** Bring `index` up to the table's listed files by
    * [[Lineage.maintain]]: the keys of the files it does not cover
    * (another writer's, `collectStream`'s) are scanned and added, and
    * anything else rebuilds it from one scan of the whole table's key
    * columns. Returns the listing.
    */
  private def refresh(index: Pipeline.KeyIndex): Seq[FileStamp] = {
    def add(table: DataFrame) = index.add(table.select("source_name",
      "record_id").as[(String, String)].collect().toSeq)
    val listed = Lineage.stamps(spark, recordsPath)
    Lineage.maintain(listed, index.lineage,
      Some(files => add(recordsFiles(files))), () => {
        index.clear()
        if (listed.isEmpty) Set.empty
        else {
          val table = dataRecords
          add(table)
          Lineage.inputs(spark, recordsPath, table)
        }
      })
    listed
  }

  /** L6 — per-dataset refresh, last-write-wins upsert: refreshed rows
    * REPLACE existing rows with the same key. Implemented as
    * anti-join of existing against the refresh batch + union, written
    * partition-by-partition (at scale: MERGE on a table format with
    * dynamic partition overwrite).
    */
  def upsertRecords(records: Seq[DataRecord]): Unit = {
    if (records.isEmpty) return
    val incoming = spark.createDataset(records).toDF()
    if (!Catalog.tableExists(spark, recordsPath)) {
      Catalog.overwritePartitioned(incoming, recordsPath,
        Seq("source_name"))
      return
    }
    val existing = dataRecords
      .select(incoming.columns.toIndexedSeq.head,
        incoming.columns.toIndexedSeq.tail: _*)
    val kept = existing.join(incoming.select("source_name", "record_id"),
      Seq("source_name", "record_id"), "left_anti")
    val merged = kept.unionByName(incoming).cache()
    merged.count() // materialize before touching the source files
    val tmp = recordsPath + "__tmp"
    Catalog.overwritePartitioned(merged, tmp, Seq("source_name"))
    merged.unpersist()
    Catalog.replace(spark, tmp, recordsPath)
  }

  def records: Dataset[DataRecord] = dataRecords.as[DataRecord]
}

object Pipeline {
  /** A source's compliance verdict, as `status` shows it. */
  final case class Verdict(robots_txt_compliant: Boolean,
      api_key_valid: Boolean, last_check: Timestamp)

  object Verdict {
    /** Which of two checks of a source is its latest: the later one (a
      * null time earliest, times compared in microseconds, as stored),
      * and of two at the same instant the failed robots verdict, then
      * the failed API key. A total order on what `status` shows, so the
      * latest check does not depend on file or row order.
      */
    val Latest: Ordering[Verdict] = Ordering.by((v: Verdict) =>
      (Option(v.last_check).map(DateTimeUtils.fromJavaTimestamp),
        !v.robots_txt_compliant, !v.api_key_valid))
  }

  /** One [[Pipeline.appendRecords]] write: the records table's files
    * listed before it, the files it committed and the rows in them.
    */
  final case class Appended(listed: Seq[FileStamp], written: Seq[FileStamp],
      rows: Seq[DataRecord])

  /** The two tables' row encoders, derived (by reflection) once. */
  private[graft] val RecordsEncoder = ExpressionEncoder[DataRecord]()
  private[graft] val ChecksEncoder = ExpressionEncoder[ComplianceCheck]()

  /** `data_records` as a read resolves it: the [[DataRecord]] fields
    * with the `source_name` partition column last (the order inference
    * gives), so a resolve needs no schema-inference job. The DDL round
    * trip makes array elements nullable (`embedding`'s floats), as a
    * file read does, so the empty table has the written one's schema.
    */
  private val RecordsSchema: StructType = {
    val fields = RecordsEncoder.schema.fields
    StructType.fromDDL(StructType(fields.filterNot(_.name == "source_name") ++
      fields.filter(_.name == "source_name")).toDDL)
  }

  private val ChecksSchema: StructType = ChecksEncoder.schema

  /** The `(source_name, record_id)` keys stored in one records table:
    * the stamps of the files it covers, as a [[Lineage]] held in
    * memory, and for each `source_name` the sorted record ids in those
    * files (sorted arrays hold 72k keys in 4.3 MB, a hash set of the
    * pairs in 12.3 MB). It starts as a record covering no file, so a
    * cold process's first collect scans every listed file as an
    * append. Not thread-safe: callers lock it.
    */
  private final class KeyIndex {
    val lineage = new Lineage.Held(Some(Lineage(Nil, Nil)))
    private var ids = Map.empty[String, Array[String]]

    def contains(source: String, id: String): Boolean =
      ids.get(source).exists(_.search(id).isInstanceOf[Searching.Found])

    def add(keys: Seq[(String, String)]): Unit =
      keys.groupMap(_._1)(_._2).foreach { case (source, more) =>
        // the held ids are one sorted run, so the sort (TimSort) costs
        // about a merge plus sorting the new ids
        ids = ids.updated(source,
          (ids.getOrElse(source, Array.empty[String]) ++ more).sorted)
      }

    def clear(): Unit = ids = Map.empty
  }

  /** Each records table's key index (by qualified path), held for the
    * session: two [[Pipeline]]s over one directory share it.
    */
  private val keyIndexes = new FixtureCache[String, KeyIndex]

  /** Per source, the verdict of its latest check in one checks table
    * ([[Verdict.Latest]]), and the stamps of the files it covers as a
    * [[Lineage]] held in memory. It starts with no record, so the first
    * [[Pipeline.latestChecks]] reads the whole table, and until then an
    * append does not list the table. Not thread-safe: callers lock it.
    */
  private final class LatestChecks {
    val lineage = new Lineage.Held(None)
    var bySource = Map.empty[String, Verdict]

    def add(verdicts: Seq[(String, Verdict)]): Unit =
      verdicts.foreach { case (source, v) =>
        bySource = bySource.updatedWith(source)(o =>
          Some(o.fold(v)(Verdict.Latest.max(_, v))))
      }
  }

  /** Each checks table's latest checks (by qualified path), held for the
    * session as [[keyIndexes]] are.
    */
  private val latestChecks = new FixtureCache[String, LatestChecks]
}
