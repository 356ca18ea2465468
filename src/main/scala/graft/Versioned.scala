package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Versioned parquet tables: snapshot isolation, file-granular MERGE
  * upsert and time travel over a plain filesystem — the minimal
  * transactional layer for the reference's refresh/upsert verb (L6,
  * ethical_crawler.py:939–1005), which round 4 shipped as
  * overwrite-swap only.
  *
  * Layout: data files live in `<table>/v=<k>/` (the version that
  * WROTE them — files are immutable and may be referenced by any
  * number of later versions), and each committed version has a
  * manifest `<table>/_commits/v=<k>` listing its data files, one
  * relative path per line. A commit writes its new data files
  * completely, then CREATES the manifest with overwrite=false — the
  * create is the commit point (atomic on HDFS and a single local fs),
  * so two racing committers of the same version see exactly one
  * winner and the loser fails fast; nothing is ever deleted or
  * renamed on the commit path, so there is no window where the table
  * appears uninitialized to a concurrent reader (a delete-then-rename
  * pointer swap had both defects — round-5 advice). This is the same
  * append-only manifest-log protocol a transactional table format
  * uses. Readers resolve a manifest once and then read immutable
  * files, so a reader is never torn across a concurrent commit and
  * any historical version stays readable until vacuumed.
  *
  * 100 TB notes: MERGE is copy-on-write at FILE granularity — source
  * keys are joined against per-file key ranges (parquet footer
  * min/max, or the partition value when the key is a partition
  * column), only overlapping files are rewritten, and every other
  * file carries into the new manifest BY REFERENCE. A 1-row upsert
  * into a range-partitioned table rewrites one file, not the table.
  * The planning join and the matched-file collect are metadata-scale
  * (#files, not rows) — the same driver-side manifest pruning every
  * copy-on-write format performs before a write. Old snapshots are
  * reclaimed with [[vacuum]], which deletes only files no kept
  * manifest references — exactly a format's expire-snapshots job.
  */
object Versioned {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitMarker(table: String, v: Int) =
    new Path(table, s"_commits/v=$v")

  private def versionDir(table: String, v: Int) = s"$table/v=$v"

  /** All committed versions, oldest first (one listing of the commit
    * log — cheap: one entry per snapshot, independent of data size).
    * Listed from the MANIFESTS, not the data directories, so a
    * mid-write snapshot or a race loser's orphan directory never
    * reads as committed.
    */
  def versions(spark: SparkSession, table: String): Seq[Int] = {
    val f = fs(spark, table)
    val dir = new Path(table, "_commits")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toInt }
      .sorted
  }

  /** Current committed version, None for an uninitialized table. */
  def currentVersion(spark: SparkSession, table: String): Option[Int] =
    versions(spark, table).lastOption

  /** The data files of snapshot `v`, relative to the table root —
    * the manifest's contents (a format's `inputFiles`). Files from
    * earlier version directories are carried by reference.
    */
  def snapshotFiles(spark: SparkSession, table: String, v: Int)
      : Seq[String] = {
    val f = fs(spark, table)
    val in = f.open(commitMarker(table, v))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Manifest entries are table-root-relative (`v=3/part-...`) for
    * files the table wrote itself, or ABSOLUTE (`/.../other/v=0/...`)
    * for files inherited from another table by [[shallowClone]].
    */
  private def resolved(table: String, entry: String): String =
    if (entry.startsWith("/")) entry else s"$table/$entry"

  private val AbsBirth = "^(.*/v=\\d+)(?:/.*)$".r

  /** The birth version DIRECTORY of a manifest entry — the `basePath`
    * for its read, so partition-column values encoded in subdirectory
    * names survive the by-file read.
    */
  private def birthBase(table: String, entry: String): String =
    if (entry.startsWith("/")) entry match {
      case AbsBirth(b) => b
      case _ => new Path(entry).getParent.toString
    }
    else s"$table/${entry.takeWhile(_ != '/')}"

  // ---- merge-on-read log entries -------------------------------------
  //
  // A manifest entry is either a BASE data file (plain path) or a
  // MERGE-ON-READ LOG file: `log:<keys-csv>:<path>`. Log files hold
  // upsert batches verbatim (amp ≈ 1 — the MorProbe-measured answer to
  // CoW's ~18× scattered-hot-key write amplification); readers apply
  // them latest-wins over the base, and [[compactLogs]] (run by
  // [[compact]]) folds them back into base files through the same
  // file-granular CoW planner a batch merge uses.

  private def isLogEntry(e: String): Boolean = e.startsWith("log:")

  private val LogEntry = "^log:([^:]+):(.*)$".r

  private def logKeysOf(e: String): Seq[String] = e match {
    case LogEntry(k, _) => k.split(",").toSeq
    case _ => throw new IllegalArgumentException(s"not a log entry: $e")
  }

  private def logPathOf(e: String): String = e match {
    case LogEntry(_, p) => p
    case _ => e
  }

  /** Birth version of a RELATIVE manifest path (`v=3/part-...` → 3) —
    * log files are always table-local, so this is total for them.
    */
  private def birthVersionOf(path: String): Int =
    path.takeWhile(_ != '/').drop(2).toInt

  /** Keep the highest-`__mor_v` row per key, then drop the rank
    * column (keys are unique within one version — the MERGE
    * contract).
    */
  private def latestWins(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__mor_v").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__mor_v")
  }

  /** Manifest-entry precedence for latest-wins reads: a log entry
    * ranks by its birth version; a table-local base entry likewise; a
    * clone-inherited ABSOLUTE base entry ranks oldest (it predates
    * anything this table committed).
    */
  private def entryRank(e: String): Int =
    if (isLogEntry(e)) birthVersionOf(logPathOf(e))
    else if (e.startsWith("/")) -1
    else birthVersionOf(e)

  /** Read a set of manifest entries (base and/or log) applying
    * latest-wins per key across their birth versions.
    */
  private def readLatestWins(spark: SparkSession, table: String,
      entries: Seq[String], keys: Seq[String]): DataFrame = {
    val byV = entries.groupBy(entryRank).toSeq.sortBy(_._1)
    latestWins(
      byV.map { case (bv, es) =>
        readFilesByBirth(spark, table, es.map(logPathOf))
          .withColumn("__mor_v", lit(bv))
      // allowMissingColumns: a tombstone batch carries __mor_deleted,
      // earlier batches and base files don't — missing fills null
      }.reduce(_.unionByName(_, allowMissingColumns = true)),
      keys)
  }

  /** The logical rows of a latest-wins relation: tombstoned rows
    * represent ABSENCE and are dropped together with the flag.
    */
  private def dropTombstones(df: DataFrame): DataFrame =
    if (!df.columns.contains(MorDeleted)) df
    else df.filter(!coalesce(col(MorDeleted), lit(false)))
      .drop(MorDeleted)

  /** Latest-wins relation of a set of log entries: rows of later
    * versions supersede earlier ones per key.
    */
  private def logLatest(spark: SparkSession, table: String,
      logEntries: Seq[String]): DataFrame =
    readLatestWins(spark, table, logEntries,
      logKeysOf(logEntries.head))

  /** Reads a set of manifest data files, grouped by their birth
    * version directory. Files born before a SCHEMA EVOLUTION commit
    * lack the evolved columns — the union null-fills them (the
    * Delta/Iceberg add-column read semantics); group order is sorted,
    * so the assembled column order is deterministic.
    */
  private def readFilesByBirth(spark: SparkSession, table: String,
      files: Seq[String]): DataFrame =
    files.sorted
      .groupBy(birthBase(table, _))
      .toSeq.sortBy(_._1)
      .map { case (base, fls) =>
        spark.read
          .option("basePath", base)
          .parquet(fls.map(resolved(table, _)): _*)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Time travel: read snapshot `v` (immutable once committed). When
    * the manifest carries merge-on-read log entries, the read applies
    * them latest-wins over the base files — the MoR read path: base
    * left-anti log keys, union log rows.
    */
  def snapshot(spark: SparkSession, table: String, v: Int): DataFrame = {
    val entries = snapshotFiles(spark, table, v)
    val (logsE, baseE) = entries.partition(isLogEntry)
    val base = readFilesByBirth(spark, table, baseE)
    if (logsE.isEmpty) base
    else {
      val keys = logKeysOf(logsE.head)
      val latest = logLatest(spark, table, logsE)
      // anti-join on ALL latest keys (tombstones suppress base rows
      // too), then union only the logically-present rows
      base.join(latest.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(dropTombstones(latest), allowMissingColumns = true)
    }
  }

  /** Read the current snapshot (manifest resolved once per call). */
  def current(spark: SparkSession, table: String): DataFrame = {
    val v = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"uninitialized versioned table: $table"))
    snapshot(spark, table, v)
  }

  private[graft] def commit(spark: SparkSession, table: String, v: Int,
      files: Seq[String]): Int = {
    val f = fs(spark, table)
    val marker = commitMarker(table, v)
    val bytes = (files.mkString("\n") + "\n").getBytes("UTF-8")
    if (f.getScheme == "file") {
      // Hadoop's LocalFileSystem implements create(overwrite=false)
      // as a non-atomic exists-check-then-create, so two concurrent
      // committers of the same version could BOTH succeed (caught by
      // the VersionedSpec 5-round concurrent race test). On a POSIX
      // fs the atomic existence gate is link(2): write the manifest
      // CONTENT to a hidden temp sibling, then hard-link it to the
      // marker name — EEXIST rejects the loser atomically, and the
      // marker appears fully populated (no window where a reader can
      // list a committed version and read a torn manifest).
      val dir = java.nio.file.Paths.get(table, "_commits")
      java.nio.file.Files.createDirectories(dir)
      val tmp = java.nio.file.Files.createTempFile(dir, s".v=$v.", ".tmp")
      try {
        java.nio.file.Files.write(tmp, bytes)
        try java.nio.file.Files.createLink(dir.resolve(s"v=$v"), tmp)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new IllegalStateException(
              s"commit of $table v$v lost a race", e)
        }
      } finally {
        java.nio.file.Files.deleteIfExists(tmp); ()
      }
    } else {
      // HDFS and object-store backed filesystems: CREATE with
      // overwrite=false IS the atomic commit point (namenode-arbitrated
      // on HDFS); exactly one writer of version v succeeds, the loser
      // gets the exception instead of silently clobbering the winner.
      val out =
        try f.create(marker, false)
        catch {
          case e: java.io.IOException =>
            throw new IllegalStateException(
              s"commit of $table v$v lost a race", e)
        }
      try out.write(bytes)
      finally out.close()
    }
    v
  }

  /** Recursive listing of the data files under one version directory
    * (relative to the table root) — partitioned layouts nest them
    * under `<col>=<value>/` subdirectories. A version that wrote no
    * local files (a shallow clone's v0 is all inherited references)
    * has no directory at all, and lists as empty.
    */
  private[graft] def listDataFiles(spark: SparkSession, table: String,
      v: Int): Seq[String] = {
    val prefix = new Path(table).toUri.getPath.stripSuffix("/") + "/"
    Catalog.files(spark, versionDir(table, v))
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.toUri.getPath.stripPrefix(prefix)).sorted
  }

  private def write(df: DataFrame, dir: String,
      partitionCols: Seq[String]): Unit = {
    val w = df.write.mode(SaveMode.ErrorIfExists)
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(dir)
  }

  /** Write version `v`'s data files via a PRIVATE staging directory
    * + atomic rename. `ErrorIfExists` on the destination alone is an
    * exists-check-then-create: two concurrent writers of the same
    * version can BOTH pass the check and write into one directory,
    * and the winner's directory-listed manifest then captures the
    * loser's files — a torn table that the commit-marker gate cannot
    * see (caught by the VersionedSpec concurrent-writer tests on a
    * loaded host). Staging privately and renaming into place makes
    * the VERSION DIRECTORY itself the atomic claim: exactly one
    * rename lands (rename(2) locally — EEXIST/ENOTEMPTY rejects the
    * loser; name-node-arbitrated rename-no-overwrite on HDFS), and
    * the loser's files never enter the winner's listing. The commit
    * marker stays the final arbiter on top.
    *
    * Returns the new version's manifest-relative data file list.
    */
  private def stageVersion(df: DataFrame, table: String, v: Int,
      partitionCols: Seq[String]): Seq[String] = {
    val spark = df.sparkSession
    val stage =
      s"$table/.stage-v$v-${java.util.UUID.randomUUID.toString.take(8)}"
    write(df, stage, partitionCols)
    val f = fs(spark, table)
    val dest = new Path(versionDir(table, v))
    val won =
      if (f.getScheme == "file")
        try {
          java.nio.file.Files.move(java.nio.file.Paths.get(stage),
            java.nio.file.Paths.get(versionDir(table, v)))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      else
        // FileSystem.rename(Path, Path) is NOT rename-no-overwrite:
        // with an existing destination DIRECTORY it moves the source
        // INSIDE it (posix mv semantics) and returns true, so a
        // check-then-act `!exists && rename` lets a racing loser nest
        // its staged part-* files under the winner's version dir —
        // exactly the torn-table shape this staging exists to kill.
        // FileContext.rename with Options.Rename.NONE is the
        // name-node-arbitrated atomic no-overwrite rename (fails with
        // FileAlreadyExistsException when dest exists in any form).
        try {
          org.apache.hadoop.fs.FileContext
            .getFileContext(f.getUri, spark.sparkContext.hadoopConfiguration)
            .rename(new Path(stage), dest,
              org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.FileNotFoundException => false
          case e: java.io.IOException
              if e.getMessage != null &&
                 e.getMessage.contains("already exists") => false
        }
    if (!won) {
      f.delete(new Path(stage), true)
      throw new IllegalStateException(
        s"commit of $table v$v lost a race (version directory claimed)")
    }
    listDataFiles(spark, table, v)
  }

  /** Create version 0 from `df`. Fails if the table already exists.
    * `partitionCols` lays every snapshot out partitioned (pruned
    * reads keep working through time travel, and a partition column
    * used as the leading merge key prunes from the path alone).
    */
  def init(df: DataFrame, table: String,
      partitionCols: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    require(currentVersion(spark, table).isEmpty,
      s"versioned table already initialized: $table")
    commit(spark, table, 0, stageVersion(df, table, 0, partitionCols))
  }

  /** SHALLOW CLONE: initialize `target` whose v0 manifest references
    * the source's current snapshot files BY ABSOLUTE PATH — a
    * metadata-only copy (one manifest write, O(#files) bytes, zero
    * data IO), the dev/test-sandbox verb of a transactional format.
    * After the clone the tables diverge independently: a MERGE into
    * the clone rewrites only the files it touches (new files land
    * under the clone root; untouched inherited files carry forward by
    * absolute reference), and the source never observes any of it.
    *
    * Caveat faithfully reproduced from the real formats: [[vacuum]]
    * on the SOURCE does not know about clones, so expiring source
    * snapshots can delete files a shallow clone still references —
    * production either tracks cross-table references or deep-clones.
    * The clone's own vacuum is safe by construction: it deletes only
    * files under its own root ([[listDataFiles]] never lists the
    * inherited absolute entries).
    */
  def shallowClone(spark: SparkSession, source: String,
      target: String): Int = {
    require(currentVersion(spark, target).isEmpty,
      s"versioned table already initialized: $target")
    val v = currentVersion(spark, source).getOrElse(
      throw new IllegalStateException(
        s"uninitialized versioned table: $source"))
    val srcRoot = new Path(source).toUri.getPath.stripSuffix("/")
    val entries = snapshotFiles(spark, source, v)
    require(!entries.exists(isLogEntry),
      s"$source has a pending merge-on-read log: compact() before cloning")
    commit(spark, target, 0, entries.map(resolved(srcRoot, _)))
  }

  /** RESTORE: make snapshot `v` current again by committing a NEW
    * version whose manifest re-references v's files — metadata-only
    * (one manifest write, zero data IO), history-preserving (the
    * rolled-back versions stay time-travelable; vacuum retires them
    * on its normal schedule), and safe under the same single-winner
    * commit protocol as every other write. The roll-FORWARD twin of
    * time travel: `snapshot(v)` reads the past, `restore(v)` makes
    * the past the present without rewriting it.
    */
  def restore(spark: SparkSession, table: String, v: Int): Int = {
    val cur = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(
        s"uninitialized versioned table: $table"))
    require(versions(spark, table).contains(v),
      s"no snapshot v=$v to restore in $table")
    commit(spark, table, cur + 1, snapshotFiles(spark, table, v))
  }

  /** Per-file [min, max] of the leading merge key, AS STRINGS (cast
    * back to the key's type in the pruning join, so numeric ordering
    * is restored): from the `<key>=<value>` path segment when the key
    * is a partition column, else from the parquet footer column
    * statistics. None = unknown → the file is conservatively
    * rewritten. Driver-side, O(#files) footer reads — metadata scale,
    * the manifest-stats read of a copy-on-write format.
    */
  private def fileKeyRanges(spark: SparkSession, table: String,
      files: Seq[String], key: String)
      : Seq[(String, Option[(String, String)])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val seg = s"$key="
    files.map { rel =>
      val fromPath = rel.split('/').find(_.startsWith(seg))
        .map(_.drop(seg.length))
        .map(v => (v, v))
      val range = fromPath.orElse {
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(resolved(table, rel)), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = reader.getFooter.getBlocks
            // Min/max reduced across row groups in NATIVE Comparable
            // space (string ordering would put "10" < "9"), then
            // stringified once for the typed cast downstream.
            val ranges = scala.jdk.CollectionConverters
              .ListHasAsScala(blocks).asScala.toSeq.flatMap { b =>
                scala.jdk.CollectionConverters
                  .ListHasAsScala(b.getColumns).asScala
                  .find(_.getPath.toDotString == key)
                  .flatMap { c =>
                    val st = c.getStatistics
                    if (st == null || !st.hasNonNullValue) None
                    else Some((
                      st.genericGetMin.asInstanceOf[Comparable[Any]],
                      st.genericGetMax.asInstanceOf[Comparable[Any]]))
                  }
              }
            if (ranges.isEmpty) None
            else {
              val lo = ranges.map(_._1)
                .reduce((a, b) => if (a.compareTo(b) <= 0) a else b)
              val hi = ranges.map(_._2)
                .reduce((a, b) => if (a.compareTo(b) >= 0) a else b)
              Some((statToString(lo.asInstanceOf[AnyRef]),
                statToString(hi.asInstanceOf[AnyRef])))
            }
          } finally reader.close()
        } catch { case _: Exception => None }
      }
      (rel, range)
    }
  }

  /** Decimal strings order correctly only after the cast back to the
    * key type; binary stats decode as UTF-8 (Spark-written string
    * columns).
    */
  private def statToString(v: AnyRef): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other.toString
  }

  /** Min/max string ordering is NOT value ordering for numerics, so
    * the per-file ranges are compared in key space: both sides cast
    * to the target column's type. Types whose strings don't survive
    * the round-trip (timestamps, decimals with exotic scales) simply
    * never produce a range (None upstream) and stay conservative.
    */
  private def matchedFiles(source: DataFrame, key: String,
      keyType: DataType,
      ranges: Seq[(String, Option[(String, String)])]): Set[String] = {
    val spark = source.sparkSession
    val always = ranges.collect { case (f, None) => f }.toSet
    val known = ranges.collect { case (f, Some((lo, hi))) => (f, lo, hi) }
    if (known.isEmpty) return always
    import spark.implicits._
    val statsDf = known.toDF("__file", "__lo", "__hi")
      .select(col("__file"),
        col("__lo").cast(keyType).as("__lo"),
        col("__hi").cast(keyType).as("__hi"))
    val hit = source.select(col(key).as("__k"))
      .where(col("__k").isNotNull)
      .join(broadcast(statsDf),
        col("__k") >= col("__lo") && col("__k") <= col("__hi"))
      .select("__file").distinct()
      .collect().map(_.getString(0)).toSet
    always ++ hit
  }

  /** MERGE (whole-row upsert): source rows REPLACE target rows that
    * share a key, unmatched target rows carry over, unmatched source
    * rows insert — the reference's refresh semantics
    * (ethical_crawler.py:977–1005). If `deleteFlag` names a boolean
    * source column, flagged rows instead DELETE their target match
    * (and insert nothing). Commits and returns the new version.
    *
    * Cost — copy-on-write at file granularity: one metadata-scale
    * pruning join of source keys against per-file ranges of
    * `keys.head`, one anti-join + rewrite of ONLY the overlapping
    * files (shuffle on the key, or broadcast when the source is small
    * — the common refresh case, left to AQE); every non-overlapping
    * file is carried into the new manifest by reference, zero IO.
    * The collect() in the planner gathers FILE NAMES (#files rows) —
    * metadata, not data; the query path stays fully distributed.
    * Snapshot `v` stays readable throughout.
    */
  def mergeUpsert(source: DataFrame, table: String, keys: Seq[String],
      deleteFlag: Option[String] = None,
      partitionCols: Seq[String] = Nil): Int = {
    val spark = source.sparkSession
    val v = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"uninitialized versioned table: $table"))
    val files = snapshotFiles(spark, table, v)
    require(!files.exists(isLogEntry),
      s"$table has a pending merge-on-read log: run compact() (or " +
        "compactLogs()) before a copy-on-write merge")
    val tgt = snapshot(spark, table, v)
    val keyType = tgt.schema(keys.head).dataType
    // A single-file table has nothing to prune — skip the stats read
    // and the planning join and rewrite it outright.
    val matched =
      if (files.size <= 1) files.toSet
      else matchedFiles(source, keys.head, keyType,
        fileKeyRanges(spark, table, files, keys.head))
    val untouched = files.filterNot(matched)
    val keyCols = keys.map(col)
    val upserts = deleteFlag match {
      case Some(flag) => source.filter(!col(flag)).drop(flag)
      case None => source
    }
    val merged =
      if (matched.isEmpty) upserts
      else {
        val rewrite = readFilesByBirth(spark, table, matched.toSeq)
        // allowMissingColumns = SCHEMA EVOLUTION on merge: a source
        // carrying a NEW column widens the table (carried-over rows
        // null-fill it); a source missing a column null-fills its own
        // rows (whole-row-replace semantics, stated in the contract)
        upserts.unionByName(
          rewrite.join(source.select(keyCols: _*), keys, "left_anti"),
          allowMissingColumns = true)
      }
    commit(spark, table, v + 1,
      untouched ++ stageVersion(merged, table, v + 1, partitionCols))
  }

  /** MERGE-ON-READ upsert: commit the batch AS-IS as a log file —
    * writes ~bytes_changed (amp ≈ 1) instead of rewriting every file
    * a scattered hot-key batch grazes (MorProbe measured ~18× for the
    * CoW path under that load). Readers ([[snapshot]]/[[current]])
    * apply the log latest-wins over the base; [[compact]] folds it
    * back into base files. Contract: `source` unique on `keys`, same
    * as [[mergeUpsert]]; deletes are not expressible in the v1 log
    * (use the CoW path's `deleteFlag`). The trade is the textbook
    * MoR one: cheap writes, a per-read merge bounded by the pending
    * log size, restored to pure-columnar scans by OPTIMIZE.
    */
  /** The tombstone column a MoR log row carries when its batch had a
    * `deleteFlag` — readers suppress flagged keys, the fold drops
    * them from base, CDC classifies them as deletes.
    */
  private val MorDeleted = "__mor_deleted"

  def mergeUpsertMoR(source: DataFrame, table: String,
      keys: Seq[String], deleteFlag: Option[String] = None): Int = {
    val spark = source.sparkSession
    val v = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"uninitialized versioned table: $table"))
    val entries = snapshotFiles(spark, table, v)
    entries.filter(isLogEntry).headOption.foreach { e =>
      require(logKeysOf(e) == keys,
        s"log key mismatch: pending ${logKeysOf(e)} vs $keys")
    }
    // deletes ride the log as TOMBSTONES (the delete-vector analogue):
    // the row is written with the standardized flag column so any
    // later reader — this table's or a clone's — can interpret it
    // without out-of-band state
    val out = deleteFlag match {
      case Some(flag) => source.withColumnRenamed(flag, MorDeleted)
      case None => source
    }
    val newLogs = stageVersion(out, table, v + 1, Nil)
      .map(p => s"log:${keys.mkString(",")}:$p")
    commit(spark, table, v + 1, entries ++ newLogs)
  }

  /** Latest-wins log relation WITH tombstones still present (and the
    * flag column normalized to exist), for callers that need to see
    * deletions: [[snapshot]] anti-joins on ALL latest keys, then
    * drops flagged rows from the union side.
    */
  private def logLatestWithTombstones(spark: SparkSession,
      table: String, logEntries: Seq[String]): DataFrame = {
    val l = logLatest(spark, table, logEntries)
    if (l.columns.contains(MorDeleted)) l
    else l.withColumn(MorDeleted, lit(false))
  }

  /** Fold the pending merge-on-read log into base files: the log's
    * latest-wins relation is merged through the SAME file-granular
    * CoW planner as [[mergeUpsert]] (footer-stat pruning — only base
    * files whose key range overlaps a logged key are rewritten), and
    * the new manifest is log-free. Content is unchanged (spec'd:
    * [[changes]] across the fold commit is empty), so this is
    * physical reorganization, invisible to readers — exactly what a
    * format's OPTIMIZE does to deletion vectors / delta logs.
    * Returns the current version untouched if no log is pending.
    */
  def compactLogs(spark: SparkSession, table: String,
      partitionCols: Seq[String] = Nil): Int = {
    val v = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"uninitialized versioned table: $table"))
    val entries = snapshotFiles(spark, table, v)
    val (logsE, baseE) = entries.partition(isLogEntry)
    if (logsE.isEmpty) return v
    val keys = logKeysOf(logsE.head)
    // planning runs on ALL latest keys — a tombstone must rewrite the
    // base file holding its key (to drop the row); only the logical
    // (non-tombstoned) rows are inserted
    val src = logLatest(spark, table, logsE)
    val keyType = src.schema(keys.head).dataType
    val matched =
      if (baseE.size <= 1) baseE.toSet
      else matchedFiles(src, keys.head, keyType,
        fileKeyRanges(spark, table, baseE, keys.head))
    val untouched = baseE.filterNot(matched)
    val merged =
      if (matched.isEmpty) dropTombstones(src)
      else dropTombstones(src).unionByName(
        readFilesByBirth(spark, table, matched.toSeq)
          .join(src.select(keys.map(col): _*), keys, "left_anti"),
        allowMissingColumns = true)
    commit(spark, table, v + 1,
      untouched ++ stageVersion(merged, table, v + 1, partitionCols))
  }

  /** Change data feed between two committed snapshots, computed from
    * the MANIFEST DIFF alone: data files are immutable and carried by
    * reference, so rows in files present in both manifests cannot
    * have changed — the whole diff is confined to the files `fromV`
    * lost and `toV` gained. Only those files are read: a one-file
    * upsert into a 10k-file table diffs two files' rows regardless of
    * table size (the reason a CoW format can serve CDC without
    * storing a change log). Rows that were merely REWRITTEN —
    * copy-on-write copies a whole file to change one row — match
    * across the key join with equal values and are dropped, so the
    * feed reports logical changes, not physical rewrites.
    *
    * Output: key columns, `change_type` ∈ insert/update/delete, and
    * the value columns (after-image; before-image for deletes). Keys
    * must be non-null and unique per snapshot (the MERGE contract).
    */
  def changes(spark: SparkSession, table: String, fromV: Int, toV: Int,
      keys: Seq[String]): DataFrame = {
    require(fromV < toV, s"changes requires fromV < toV ($fromV, $toV)")
    val f1 = snapshotFiles(spark, table, fromV)
    val f2 = snapshotFiles(spark, table, toV)
    val removed = f1.diff(f2) // before-image side
    val added = f2.diff(f1)   // after-image side
    // Merge-on-read commits put LOG entries in the diff. Removed logs
    // read as plain before-image files (a fold commit retires them —
    // its rewritten base carries equal values, so suppression yields
    // the empty feed physical reorganization should). Added logs are
    // after-images, but their BEFORE-images live in base files present
    // in both manifests, so those keys are looked up in the fromV
    // snapshot (key-bounded; the base read is prunable by the same
    // footer stats the merge planner uses — recorded hardening).
    val (addedLogsE, addedBaseE) = added.partition(isLogEntry)
    val removedStripped = removed.map(logPathOf)
    val schemaSrc =
      if (addedBaseE.nonEmpty) addedBaseE
      else if (added.nonEmpty) added.map(logPathOf)
      else f2.map(logPathOf)
    // the tombstone flag is physical log plumbing, not a table column
    val schema = StructType(readFilesByBirth(spark, table, schemaSrc)
      .schema.filterNot(_.name == MorDeleted))
    def readOrEmpty(files: Seq[String]): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readFilesByBirth(spark, table, files)
    val valueCols = schema.fieldNames.toSeq.filterNot(keys.contains)
    // a fold commit retires log AND base files for the same key: the
    // before-image is the LOGICAL fromV row, i.e. latest-wins across
    // the removed entries — a plain union would surface the stale
    // base row next to its superseding log row and report a spurious
    // update
    val beforeRead =
      if (!removed.exists(isLogEntry)) readOrEmpty(removedStripped)
      // tombstoned rows represent absence at fromV, never a before-image
      else dropTombstones(readLatestWins(spark, table, removed, keys))
    val (before0, after0) =
      if (addedLogsE.isEmpty) (beforeRead, readOrEmpty(addedBaseE))
      else {
        val afterLog = logLatestWithTombstones(spark, table, addedLogsE)
        // before-images are looked up for ALL touched keys (including
        // tombstoned ones — a delete's before-image is the row it
        // removes); keys already covered by the removed-entry read
        // must not be looked up again (a span across fold + append
        // would surface two before rows for one key). The lookup is
        // MANIFEST-STATS PRUNED: only fromV files whose leading-key
        // footer range overlaps the logged key span are read — the
        // same pruning the merge planner uses, so CDC over a MoR
        // commit never scans the whole base.
        val keyBounds = afterLog
          .agg(min(col(keys.head)), max(col(keys.head))).head()
        val fromState =
          if (keyBounds.isNullAt(0)) // empty log commit: no lookups
            snapshot(spark, table, fromV).filter(lit(false))
          else scanRange(spark, table, keys.head,
            keyBounds.get(0), keyBounds.get(1), Some(fromV))
        val beforeLookup = fromState
          .join(afterLog.select(keys.map(col): _*), keys, "left_semi")
          .join(beforeRead.select(keys.map(col): _*), keys, "left_anti")
        // the after side carries only logically-present rows, so a
        // tombstoned key classifies as a DELETE (before row, no after)
        (beforeRead.unionByName(beforeLookup,
            allowMissingColumns = true),
          readOrEmpty(addedBaseE).unionByName(dropTombstones(afterLog),
            allowMissingColumns = true))
      }
    // schema EVOLUTION across the commit: the feed's schema is the
    // AFTER side's; before-images born before an added column
    // null-fill it (so an evolution rewrite with unchanged values
    // reports updates only where the new column is non-null)
    def aligned(df: DataFrame, prefix: String): DataFrame =
      df.select(schema.map(f =>
        (if (df.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(s"$prefix${f.name}")): _*)
    val before = aligned(before0, "__b_")
    val after = aligned(after0, "__a_")
    val keyEq = keys.map(k => col(s"__b_$k") === col(s"__a_$k"))
      .reduce(_ && _)
    val isIns = col(s"__b_${keys.head}").isNull
    val isDel = col(s"__a_${keys.head}").isNull
    val differs = valueCols
      .map(c => !(col(s"__b_$c") <=> col(s"__a_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    before.join(after, keyEq, "full_outer")
      .filter(isIns || isDel || differs)
      .select(
        keys.map(k => coalesce(col(s"__a_$k"), col(s"__b_$k")).as(k)) ++
        Seq(when(isIns, "insert").when(isDel, "delete")
          .otherwise("update").as("change_type")) ++
        valueCols.map(c =>
          when(isDel, col(s"__b_$c")).otherwise(col(s"__a_$c")).as(c)): _*)
  }

  /** Data-skipping scan: read only the files of snapshot `v` (default
    * current) whose `key` range intersects `[lo, hi]` — the READ-path
    * twin of the MERGE planner's file pruning, and the manifest-stats
    * scan a transactional format serves `WHERE key BETWEEN ...` with.
    * File ranges come from the partition path or the parquet footer
    * ([[fileKeyRanges]]); a file with no usable stats is
    * conservatively read. The residual filter is still applied (and
    * pushed to the surviving scans), so the result is exactly
    * `snapshot(v).filter(key between lo and hi)` — pruning only cuts
    * IO, never rows.
    *
    * 100 TB: the interval test runs on #files rows of metadata; the
    * data read is proportional to the files that can match — a
    * point/range lookup into a range-laid-out table touches one file
    * of a 10k-file snapshot. Bounds compare through Spark casts (the
    * same semantics as the MERGE planner), never string order.
    */
  def scanRange(spark: SparkSession, table: String, key: String,
      lo: Any, hi: Any, v: Option[Int] = None): DataFrame =
    scanRanges(spark, table, Seq((key, lo, hi)), v)

  /** Multi-column data skipping: files must overlap EVERY bound to be
    * read — on a [[clusterBy]] Z-ordered table each clustered
    * column's footer stats are tight, so a predicate on any subset of
    * them skips files (a single-column sort gives that for the
    * leading column only). One metadata job evaluates all bounds'
    * interval tests together on #files rows.
    */
  def scanRanges(spark: SparkSession, table: String,
      bounds: Seq[(String, Any, Any)], v: Option[Int] = None)
      : DataFrame = {
    require(bounds.nonEmpty, "scanRanges requires at least one bound")
    val ver = v.orElse(currentVersion(spark, table)).getOrElse(
      throw new IllegalStateException(s"uninitialized versioned table: $table"))
    val entries = snapshotFiles(spark, table, ver)
    // pending MoR log rows always read (they are the small hot set);
    // pruning applies to the base files, and the latest-wins merge is
    // applied AFTER pruning so a superseded base row can never leak
    val (logsE, files) = entries.partition(isLogEntry)
    val full = snapshot(spark, table, ver)
    val types = bounds.map { case (k, _, _) => full.schema(k).dataType }
    val residual = bounds.zip(types).map { case ((k, lo, hi), t) =>
      col(k) >= lit(lo).cast(t) && col(k) <= lit(hi).cast(t)
    }.reduce(_ && _)
    def withLog(prunedBase: DataFrame): DataFrame =
      if (logsE.isEmpty) prunedBase
      else {
        val keys = logKeysOf(logsE.head)
        val latest = logLatest(spark, table, logsE)
        prunedBase
          .join(latest.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(dropTombstones(latest),
            allowMissingColumns = true)
      }
    if (entries.size <= 1) return full.filter(residual)
    if (files.isEmpty) return withLog(full.filter(lit(false)))
      .filter(residual)
    if (files.size <= 1)
      return withLog(readFilesByBirth(spark, table, files))
        .filter(residual)
    val perCol = bounds.map { case (k, _, _) =>
      fileKeyRanges(spark, table, files, k).toMap }
    val fields = StructField("__file", StringType) +:
      bounds.indices.flatMap(i => Seq(
        StructField(s"__lo_$i", StringType),
        StructField(s"__hi_$i", StringType)))
    val rows = files.map { rel =>
      org.apache.spark.sql.Row.fromSeq(rel +: perCol.flatMap {
        _(rel) match {
          case Some((lo, hi)) => Seq(lo, hi)
          case None => Seq(null, null)
        }
      })
    }
    import scala.jdk.CollectionConverters._
    val statsDf = spark.createDataFrame(rows.asJava,
      StructType(fields.toArray))
    // A file with no usable stats for a column passes that column's
    // test conservatively; it is skipped only if ANOTHER bound's
    // known stats exclude it.
    val keepCond = bounds.zip(types).zipWithIndex.map {
      case (((_, lo, hi), t), i) =>
        col(s"__lo_$i").isNull ||
          (col(s"__hi_$i").cast(t) >= lit(lo).cast(t) &&
            col(s"__lo_$i").cast(t) <= lit(hi).cast(t))
    }.reduce(_ && _)
    val kept = statsDf.filter(keepCond)
      .select("__file").collect().map(_.getString(0)).toSeq
    if (kept.isEmpty) withLog(full.filter(lit(false))).filter(residual)
    else withLog(readFilesByBirth(spark, table, kept)).filter(residual)
  }

  /** Multi-dimensional CLUSTERING rewrite: lays the current snapshot
    * out sorted by the Z-order (Morton) code of two columns
    * ([[graft.functions.ZOrder.zvalue2]]) in `nFiles` range-split
    * files, and commits the relayout as a new version (content
    * unchanged — same protocol as [[compact]]). After it, every
    * file's footer [min,max] is tight on BOTH columns, so
    * [[scanRanges]] skips files for predicates on either or both —
    * the property a single-column sort only gives its leading key.
    *
    * Bucket indices come from `width_bucket` over driver-computed
    * min/max (one tiny agg; NULLs sort first, a degenerate lo=hi
    * column collapses to bucket 0). Linear bucketing is
    * skew-sensitive; rank/quantile boundaries (approx_percentile at
    * metadata cost) are the production hardening for skewed keys —
    * same Z-code, different bucketer.
    */
  def clusterBy(spark: SparkSession, table: String,
      cols: (String, String), nFiles: Int, bits: Int = 20): Int = {
    val v = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"uninitialized versioned table: $table"))
    val df = snapshot(spark, table, v)
    val (c1, c2) = cols
    val mm = df.agg(
      min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    val n = 1 << math.min(bits, 30)
    // An all-NULL or constant column collapses to bucket 0 (its stats
    // can't discriminate anyway); NULL values bucket to 0 via the
    // coalesce so the Z-code stays non-null and range-splittable.
    def bucket(c: String, i: Int): Column =
      if (mm.isNullAt(i) || !(mm.getDouble(i + 1) > mm.getDouble(i)))
        lit(0L)
      else coalesce(least(expr(
        s"width_bucket(cast(`$c` as double), ${mm.getDouble(i)}, " +
          s"${mm.getDouble(i + 1)}, $n)"), lit(n)) - 1, lit(0L))
    val z = graft.functions.ZOrder.zvalue2(
      bucket(c1, 0), bucket(c2, 2), bits)
    val out = df.repartitionByRange(nFiles, z).sortWithinPartitions(z)
    commit(spark, table, v + 1, stageVersion(out, table, v + 1, Nil))
  }

  /** OPTIMIZE (compaction): bin-pack the current snapshot's small
    * files — the debris MERGE leaves behind (each CoW commit writes
    * its upserts as fresh small files) — into ~`targetFileBytes`
    * outputs and commit the result as a new version. Content is
    * bit-identical: files at or above half the target carry into the
    * new manifest BY REFERENCE; only the small tail is read, coalesced
    * (no shuffle — compaction is IO-bound and needs no re-keying) and
    * rewritten. Returns the new version, or the current one untouched
    * when there is nothing to pack (fewer than two small files).
    *
    * Because data files are immutable and versions are manifests,
    * compaction composes with the rest of the layer for free: old
    * snapshots still time-travel, [[vacuum]] reclaims the packed
    * debris once its versions expire, and [[changes]] across a
    * compaction commit is EMPTY (rewritten-unchanged rows are
    * suppressed) — physical reorganization is invisible to CDC.
    */
  def compact(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L << 20,
      partitionCols: Seq[String] = Nil): Int = {
    // pending merge-on-read log? fold it into base files first —
    // OPTIMIZE is the maintenance pass that restores pure-columnar
    // scans, for log debris and small-file debris alike
    compactLogs(spark, table, partitionCols)
    val v = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"uninitialized versioned table: $table"))
    val files = snapshotFiles(spark, table, v)
    val f = fs(spark, table)
    val sized = files.map(r =>
      (r, f.getFileStatus(new Path(s"$table/$r")).getLen))
    val small = sized.collect {
      case (r, len) if len < targetFileBytes / 2 => r }
    if (small.size < 2) return v
    val smallSet = small.toSet
    val keep = files.filterNot(smallSet)
    val smallBytes = sized.collect {
      case (r, len) if smallSet(r) => len }.sum
    val nOut = math.max(1,
      math.ceil(smallBytes.toDouble / targetFileBytes).toInt)
    val packed = readFilesByBirth(spark, table, small).coalesce(nOut)
    commit(spark, table, v + 1,
      keep ++ stageVersion(packed, table, v + 1, partitionCols))
  }

  /** Per-version row counts — the table's history report. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    versions(spark, table)
      .map(v => (v, snapshot(spark, table, v).count()))
      .toDF("version", "n_rows")
      .orderBy(col("version").asc)
  }

  /** DELETE WHERE — the predicate-delete DML statement (retention /
    * TTL / right-to-be-forgotten enforcement): rows matching `pred`
    * in the CURRENT snapshot are tombstoned via one MoR log commit —
    * O(|matching rows|) written, no base-file rewrite; `compact`
    * folds later like any logged table. The matching-row read is
    * served by the same footer-stat pruning as any scan, so a
    * predicate on the layout key touches only overlapping files.
    * Returns the number of rows deleted (0 = no commit written).
    */
  def deleteWhere(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column, keys: Seq[String]): Long = {
    val victims = current(spark, table).filter(pred).localCheckpoint()
    val n = victims.count()
    if (n > 0) {
      mergeUpsertMoR(
        victims.withColumn("__del", org.apache.spark.sql.functions
          .lit(true)),
        table, keys, deleteFlag = Some("__del"))
      ()
    }
    n
  }

  /** Drop all snapshots older than `keepLast` versions (expire
    * snapshots). A data file is deleted only when NO kept manifest
    * references it; markers are dropped FIRST so no reader resolves a
    * version whose files are mid-delete. The current version is
    * always retained.
    */
  def vacuum(spark: SparkSession, table: String, keepLast: Int = 1): Unit = {
    val vs = versions(spark, table)
    val keep = vs.takeRight(math.max(1, keepLast))
    val dropped = vs.dropRight(math.max(1, keepLast))
    if (dropped.isEmpty) return
    val referenced = keep
      .flatMap(v => snapshotFiles(spark, table, v))
      .map(logPathOf).toSet // a log reference pins its file like any other
    val f = fs(spark, table)
    dropped.foreach { v =>
      f.delete(commitMarker(table, v), false)
      listDataFiles(spark, table, v)
        .filterNot(referenced)
        .foreach(rel => f.delete(new Path(s"$table/$rel"), false))
    }
  }
}
