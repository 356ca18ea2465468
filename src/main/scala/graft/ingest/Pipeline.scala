package graft.ingest

import graft.Catalog
import graft.operators.ReferenceOps
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{lit, monotonically_increasing_id}
import org.apache.spark.sql.types.StructType

/** The `collect` verb end-to-end (ethical_crawler.py:938–966 + CLI
  * :1157–1203): compliance-gate each registered adapter (R2,
  * :942–948), discover records over HTTP (driver-side — polite
  * crawling is inherently serialized per source), then dedup-append
  * into the partitioned records table (K5 anti-join semantics).
  *
  * Scale shape: the HTTP fetch is driver-side BY DESIGN (rate limits
  * are per-source and global); everything after `createDataset` is
  * distributed — only the NEW rows are ever written (append of the
  * anti-join result; the existing table is never rewritten), and the
  * table is partitioned by `source_name` so the anti-join and every
  * downstream equality filter prune partitions.
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

  /** `data_records` at its current version. */
  def dataRecords: DataFrame =
    Catalog.resolved(spark, recordsPath, Some(Pipeline.RecordsSchema))

  /** The given `data_records` data files, read as the table. */
  def recordsFiles(files: Seq[String]): DataFrame =
    spark.read.schema(Pipeline.RecordsSchema)
      .option("basePath", recordsPath).parquet(files: _*)

  /** `compliance_checks` at its current version. */
  def complianceChecks: DataFrame =
    Catalog.resolved(spark, checksPath, Some(Pipeline.ChecksSchema))

  /** R2 — compliance gate: sources whose latest check carries issues
    * are skipped (ethical_crawler.py:942–948).
    */
  def compliantAdapters(adapters: Seq[Adapter])
      : (Seq[Adapter], Seq[ComplianceCheck]) = {
    val checks = adapters.map(a => a -> a.checkCompliance())
    (checks.collect { case (a, c) if c.issues.isEmpty => a },
      checks.map(_._2))
  }

  /** Full collect: gate → persist checks (K4 append-only audit table)
    * → discover → dedup-append. Returns (new records, checks run).
    */
  def collectAll(adapters: Seq[Adapter]): (Long, Seq[ComplianceCheck]) = {
    val (ok, checks) = compliantAdapters(adapters)
    Catalog.append(checks.toDS().toDF(), checksPath)
    val discovered = ok.flatMap(_.discover())
    (appendRecords(discovered), checks)
  }

  /** K5 — dedup append of a batch into `data_records`: existing rows
    * win; within the batch the first per `(source_name, record_id)`
    * wins. Returns the number of genuinely new rows written.
    */
  def appendRecords(records: Seq[DataRecord]): Long = {
    if (records.isEmpty) return 0L
    // Arrival index pins within-batch first-write-wins to the
    // reference's iteration order (ethical_crawler.py:914's row loop);
    // ordering the dedup window by the key itself would tie on
    // duplicates and pick nondeterministically.
    val incoming = spark.createDataset(records).toDF()
      .withColumn("__batch_idx",
        monotonically_increasing_id())
    val existing: DataFrame =
      if (Catalog.tableExists(spark, recordsPath))
        dataRecords
          .select(incoming.columns.filterNot(_ == "__batch_idx")
            .toIndexedSeq.head,
            incoming.columns.filterNot(_ == "__batch_idx")
              .toIndexedSeq.tail: _*)
          .withColumn("__batch_idx", lit(-1L))
      else incoming.limit(0)
    val newRows = ReferenceOps.newRowsOnly(
      existing,
      incoming,
      keys = Seq("source_name", "record_id"),
      batchOrder = "__batch_idx")
      .drop("__batch_idx")
      .cache()
    val n = newRows.count()
    if (n > 0)
      Catalog.appendPartitioned(newRows, recordsPath, Seq("source_name"))
    newRows.unpersist()
    n
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
  /** `data_records` as a read resolves it: the [[DataRecord]] fields
    * with the `source_name` partition column last (the order inference
    * gives), so a resolve needs no schema-inference job.
    */
  private val RecordsSchema: StructType = {
    val fields = Encoders.product[DataRecord].schema.fields
    StructType(fields.filterNot(_.name == "source_name") ++
      fields.filter(_.name == "source_name"))
  }

  private val ChecksSchema: StructType = Encoders.product[ComplianceCheck].schema
}
