package graft.ingest

import graft.Catalog
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The `collect` verb end-to-end (ethical_crawler.py:938–966 + CLI
  * :1157–1203): compliance-gate each registered adapter (R2,
  * :942–948), discover records over HTTP (driver-side — polite
  * crawling is inherently serialized per source), then dedup-append
  * into the partitioned records table (K5 first-write-wins).
  *
  * Scale shape: the HTTP fetch is driver-side BY DESIGN (rate limits
  * are per-source and global), so a collect batch is one discovery
  * response already on the driver (≤ 5000 items, ~2 MB). The table
  * side stays distributed: one key probe scans only the batch's
  * `source_name` partitions and the two key columns, and returns at
  * most sources × ids keys (|batch| for one source). The set logic — first per key in the batch,
  * minus the probed keys — is batch-bounded and runs on the driver,
  * with no shuffle. Only the NEW rows are written (the existing table
  * is never rewritten), and they are already on the driver, so the
  * driver writes them with Spark's parquet writer ([[Catalog.appendRows]])
  * instead of shipping them to a writer task: a collect adds one file
  * per `source_name` partition it touches, so later reads, probes and
  * index appends open one file per collect, not one per core. The
  * compliance checks are written the same way, so the key probe is a
  * collect's only Spark job.
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

  /** The given `data_records` data files, read as the table. */
  def recordsFiles(files: Seq[String]): DataFrame =
    spark.read.schema(Pipeline.RecordsSchema)
      .option("basePath", recordsPath).parquet(files: _*)

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
    * checks, no write.
    */
  def appendChecks(checks: Seq[ComplianceCheck]): Unit =
    Catalog.appendRows(spark, checks, Pipeline.ChecksEncoder, checksPath)

  /** Full collect: gate → persist checks (K4 append-only audit table)
    * → discover → dedup-append. Returns (new records, checks run).
    */
  def collectAll(adapters: Seq[Adapter]): (Long, Seq[ComplianceCheck]) = {
    val (ok, checks) = compliantAdapters(adapters)
    appendChecks(checks)
    val discovered = ok.flatMap(_.discover())
    (appendRecords(discovered), checks)
  }

  /** K5 — dedup append of a batch into `data_records`: existing rows
    * win; within the batch the first per `(source_name, record_id)`
    * wins, in arrival order (ethical_crawler.py:914's row loop).
    * Returns the number of genuinely new rows written.
    */
  def appendRecords(records: Seq[DataRecord]): Long = {
    val batch = records.distinctBy(r => (r.source_name, r.record_id))
    val fresh =
      if (batch.isEmpty || !Catalog.tableExists(spark, recordsPath)) batch
      else {
        val seen = storedKeys(batch)
        batch.filterNot(r => seen((r.source_name, r.record_id)))
      }
    Catalog.appendRows(spark, fresh, Pipeline.RecordsEncoder, recordsPath,
      Seq("source_name"))
    fresh.size.toLong
  }

  /** Stored keys that may be in `batch`: one scan pruned to the
    * batch's `source_name` partitions and the two key columns. Its
    * IN×IN filter admits pairs outside the batch (sources × ids, so
    * |batch| pairs for a one-source batch), hence the caller matches
    * exact pairs.
    */
  private def storedKeys(batch: Seq[DataRecord]): Set[(String, String)] =
    dataRecords
      .where(col("source_name").isin(batch.map(_.source_name).distinct: _*) &&
        col("record_id").isin(batch.map(_.record_id).distinct: _*))
      .select("source_name", "record_id").as[(String, String)]
      .collect().toSet

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
}
