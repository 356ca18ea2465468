package graft

import java.io.IOException
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}

/** Table layer (K6/K7/S2 — ethical_crawler.py:817–889, :100–137):
  * existence probe, overwrite/append, partitioned layout. Tables are
  * plain Parquet directories; the reference's secondary indexes
  * (:884–886) map to partition pruning + Parquet min/max stats
  * (SURVEY §4.2), its sequences are dropped (§2.8 F2).
  */
object Catalog {

  /** S2 — table-existence probe (`information_schema.tables`,
    * ethical_crawler.py:127–137) for path-based tables.
    */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Every file under `path` (the path itself when it is a file),
    * listed driver-side through the session's Hadoop `FileSystem`;
    * empty when nothing is there. Walks with `listStatus`: on the local
    * file system `listFiles` forks a process per file to read its
    * permissions (~4 ms a file).
    */
  def files(spark: SparkSession, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(f: FileStatus): Seq[FileStatus] =
      if (f.isDirectory) fs.listStatus(f.getPath).toSeq.flatMap(walk)
      else Seq(f)
    if (fs.exists(root)) walk(fs.getFileStatus(root)) else Nil
  }

  /** Per session and table (qualified path), the footer row count of
    * each data file [[rowCount]] last listed, by stamp; a session's
    * entries go with its SparkContext ([[FixtureCache]]).
    */
  private val footerRows =
    new FixtureCache[String, ConcurrentHashMap[FixtureCache.FileStamp, Long]]

  /** The rows of the table at `path`: the sum of the row counts in its
    * data files' parquet footers ([[Lineage.stamps]]: no uncommitted
    * output), read on the driver, so no Spark job. A file's count is
    * kept by its stamp until a listing no longer holds it, so a call
    * opens only the footers of files added or rewritten since the last.
    */
  def rowCount(spark: SparkSession, path: String): Long = {
    val base = FixtureCache.qualified(spark, path)
    val conf = spark.sessionState.newHadoopConf()
    val known = footerRows(spark, base)(new ConcurrentHashMap())
    val stamps = Lineage.stamps(spark, path)
    val listed = stamps.toSet
    known.keySet.removeIf(s => !listed(s))
    stamps.map(stamp => known.computeIfAbsent(stamp, _ => {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(base + stamp._1), conf))
      try reader.getRecordCount finally reader.close()
    })).sum
  }

  private val resolvedTables = new FixtureCache[String, DataFrame]

  /** One of the catalog's own tables (`data_records`,
    * `compliance_checks`, materialized views), resolved once per table
    * version: a read at an unchanged version returns the same resolved
    * DataFrame — no file index built, no schema-inference job, no
    * re-analysis; only the fingerprint's driver-side listing. Any
    * append or replace changes the table's file fingerprint
    * ([[FixtureCache]]), so the next read resolves it again. A known
    * `schema` skips inference on a miss too. Transient directories
    * stay on [[load]]: every path read here keeps an entry for the
    * session's lifetime.
    */
  def resolved(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    resolvedTables(spark, path, path) {
      schema.fold(spark.read)(spark.read.schema).parquet(path)
    }

  /** K6 overwrite (`CREATE TABLE AS` / replace, ethical_crawler.py:
    * 115–121).
    */
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** K4/K6 append (`INSERT INTO ... SELECT`, ethical_crawler.py:123). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** K4/K5 append of rows already on the driver, with no Spark job:
    * the same files a `toDS()` + [[appendPartitioned]] write of `rows`
    * through one task would leave, written by Spark's own parquet
    * writer on the driver. Rows go through `encoder`'s serializer
    * (built once per row type by the caller: deriving an encoder
    * reflects over `T`) and the session's [[ParquetFileFormat]] writer
    * (schema conversion, row metadata, timestamp type and codec from
    * the session conf), one file per partition-value group under its
    * `col=value` directory.
    *
    * With `bucketBy = Some((col, n))` the files are those of a
    * `bucketBy(n, col).sortBy(col)` write of the rows: one file per
    * non-empty bucket in each group, the bucket id Spark's own
    * `HashPartitioning(col, n)` partition id evaluated on the driver,
    * the file named with it as Spark's writer names it
    * (`part-00000-<uuid>_0000b.c000…`, [[BucketingUtils]]), its rows
    * sorted by `col` (all rows sorted once, then split). A bucketed
    * table's reads then prune by bucket as they do over Spark's own
    * files.
    *
    * Each file is written under a `_`-prefixed name, which readers and
    * file listings skip, and renamed to its `part-` name once every
    * file is written, so a crash leaves no partial file in the table.
    * Last, `refreshByPath` re-resolves cached plans over `path`, as
    * Spark's insert command does. For a batch bounded by driver memory;
    * a DataFrame keeps Spark's writer. Returns the committed files'
    * stamps, as [[Lineage.stamps]] lists them; none for no rows.
    */
  def appendRows[T](spark: SparkSession, rows: Seq[T],
      encoder: ExpressionEncoder[T], path: String,
      partitionCols: Seq[String] = Nil,
      bucketBy: Option[(String, Int)] = None): Seq[FixtureCache.FileStamp] =
    if (rows.isEmpty) Nil
    else SQLConf.withExistingConf(spark.sessionState.conf) {
      val toRow = encoder.createSerializer()
      val fields = encoder.schema.fields.zipWithIndex.toSeq
      def bound(i: Int) = {
        val f = encoder.schema(i)
        BoundReference(i, f.dataType, f.nullable)
      }
      val (parts, data) = fields.partition(f => partitionCols.contains(f._1.name))
      val dataSchema = StructType(data.map(_._1))
      val project = UnsafeProjection.create(data.map(f => bound(f._2)))
      // each partition column's `col=value` directory, as Spark names it
      val partDirs = parts.map { case (f, i) =>
        val value = Cast(bound(i), StringType,
          Some(spark.sessionState.conf.sessionLocalTimeZone))
        (row: InternalRow) => ExternalCatalogUtils.getPartitionPathString(
          f.name, Option(value.eval(row)).map(_.toString).orNull)
      }
      val bucketed = bucketBy.map { case (name, n) =>
        val key = bound(encoder.schema.fieldIndex(name))
        (HashPartitioning(Seq(key), n).partitionIdExpression, key)
      }
      val serialized = rows.map(r => toRow(r).copy())
      // one sort of every row by its bucket column value, taken once, in
      // Spark's order for the type (nulls first); grouping keeps it
      val ordered = bucketed.fold(serialized) { case (_, key) =>
        val byValue = Ordering.Option(PhysicalDataType.ordering(key.dataType))
        serialized.map(row => Option(key.eval(row)) -> row)
          .sortBy(_._1)(byValue).map(_._2)
      }
      val groups = ordered
        .groupBy(row => (partDirs.map(_(row)).mkString("/"),
          bucketed.map(_._1.eval(row).asInstanceOf[Int])))
        .toSeq.sortBy(_._1)

      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = new ParquetFileFormat()
        .prepareWrite(spark, job, Map.empty, dataSchema)
      val conf = job.getConfiguration
      val context = new TaskAttemptContextImpl(conf, new TaskAttemptID())
      val prefix = s"part-00000-${UUID.randomUUID()}"
      val ext = factory.getFileExtension(context)
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val written = groups.map { case ((dir, bucket), group) =>
        val name = bucket.fold(s"$prefix-c000$ext")(b =>
          s"$prefix${BucketingUtils.bucketIdToString(b)}.c000$ext")
        val parent = if (dir.isEmpty) root else new Path(root, dir)
        val tmp = new Path(parent, s"_tmp-$name")
        val writer = factory.newInstance(tmp.toString, dataSchema, context)
        try group.foreach(r => writer.write(project(r))) finally writer.close()
        tmp -> new Path(parent, name)
      }
      written.foreach { case (tmp, dst) =>
        if (!fs.rename(tmp, dst)) throw new IOException(s"rename $tmp → $dst failed")
      }
      spark.catalog.refreshByPath(path)
      val base = FixtureCache.qualified(spark, path)
      written.map { case (_, dst) => FixtureCache.stamp(base, fs.getFileStatus(dst)) }
    }

  /** K7 — partitioned table layout. `partitionBy("source_name")`
    * replaces `idx_source_name` (ethical_crawler.py:884): an equality
    * filter on the partition column prunes directories before any IO.
    */
  def overwritePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)

  def appendPartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Atomic-ish table swap: move `tmpPath` over `path` (the
    * write-temp-then-rename pattern for rewrites that read their own
    * target; a transactional table format subsumes this at scale).
    */
  def replace(spark: SparkSession, tmpPath: String, path: String): Unit = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true)
    fs.rename(new Path(tmpPath), new Path(path))
  }

  /** Read with schema merge across parquet footers — the companion to
    * [[append]] when a source starts shipping new fields: old files
    * surface the new columns as nulls, nothing is rewritten. (Spark
    * skips footer merging by default because it reads every footer;
    * at 100 TB keep a table-level schema and evolve it explicitly —
    * this per-read merge is the migration-window tool.)
    */
  def loadEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Small-file compaction: rewrite the table into ⌈bytes/target⌉
    * files via write-temp-then-swap. Append-heavy tables (every
    * K4/K5 append adds files) degrade by file COUNT, not bytes —
    * scan tasks, footer reads and scheduling all scale with it; this
    * is the standing maintenance job any 100 TB table needs (or a
    * transactional format's OPTIMIZE). Returns the target file count.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Recursive size: a partitioned layout keeps its bytes in
    // name=value subdirectories where a flat listStatus sees nothing
    // (and would collapse the whole table into one file).
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // Partition columns from the directory layout, so compaction
    // preserves the layout (and its pruning) instead of flattening
    // the partition values into plain columns.
    def partitionCols(dir: Path): List[String] = {
      val subs = fs.listStatus(dir)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (subs.isEmpty) Nil
      else {
        val name = subs.head.getPath.getName
        name.substring(0, name.indexOf('=')) ::
          partitionCols(subs.head.getPath)
      }
    }
    val parts = partitionCols(p)
    val tmp = path + "__compact_tmp"
    // Partitioned tables hash-distribute on the partition columns so
    // each partition value is written by exactly one task (one file
    // per value), with parallelism still capped at nFiles.
    val data =
      if (parts.isEmpty) load(spark, path).repartition(nFiles)
      else load(spark, path).repartition(nFiles,
        parts.map(org.apache.spark.sql.functions.col): _*)
    val w = data.write.mode(SaveMode.Overwrite)
    (if (parts.isEmpty) w else w.partitionBy(parts: _*)).parquet(tmp)
    replace(spark, tmp, path)
    nFiles
  }
}
