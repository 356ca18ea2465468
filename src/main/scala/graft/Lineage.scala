package graft

import graft.FixtureCache.FileStamp
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a derived artifact (the FTS index, a materialized view, the
  * session key index) was built from: the stamps of the input data
  * files it covers and of its own data files as the build left them.
  * Comparing stamp sets, not a max mtime, sees a deleted or rewritten
  * input and an input that carries the same mtime as a covered one.
  * Each of the three is kept current by the one rule
  * [[Lineage.maintain]].
  */
final case class Lineage(covered: Seq[FileStamp], outputs: Seq[FileStamp]) {

  /** The inputs the record does not cover: files added since it was
    * written.
    */
  def uncovered(inputs: Seq[FileStamp]): Seq[FileStamp] =
    inputs.filterNot(covered.toSet)

  /** Every covered file is still listed unchanged, and the artifact's
    * data files are exactly the recorded ones.
    */
  def valid(inputs: Seq[FileStamp], outputs: Seq[FileStamp]): Boolean =
    covered.toSet.subsetOf(inputs.toSet) && outputs == this.outputs
}

object Lineage {

  /** Where an artifact's record is kept: a [[Dir]] beside the
    * artifact's data files (its `outputs`), or a [[Held]] record in
    * memory for an artifact with none. `write` records the outputs as
    * they are then; `drop` leaves no record.
    */
  trait Store {
    def read(): Option[Lineage]
    def outputs: Seq[FileStamp]
    def write(covered: Seq[FileStamp]): Unit
    def drop(): Unit

    /** The record, when it is valid for the inputs `listed`. */
    final def current(listed: Seq[FileStamp]): Option[Lineage] =
      read().filter(_.valid(listed, outputs))
  }

  /** The rule that keeps a derived artifact current: bring the one
    * kept in `store` up to its inputs `listed`, which the caller lists
    * before anything reads them:
    *  - a record valid for `listed` that covers every listed file: no
    *    call and no write;
    *  - a valid record that leaves files uncovered (appends): `extend`
    *    gets exactly those files, then the record covers `listed`. With
    *    no `extend`, an append is a full rebuild;
    *  - no record, a covered file gone or changed, or output files other
    *    than the recorded ones: `rebuild()`, which returns the input
    *    files it read ([[inputs]]). The record covers `listed` only
    *    when that is exactly the files read; after a build that read a
    *    file written since the listing, or missed one, no record is
    *    left, so the next call rebuilds.
    */
  def maintain(listed: Seq[FileStamp], store: Store,
      extend: Option[Seq[FileStamp] => Unit],
      rebuild: () => Set[String]): Unit =
    store.current(listed).map(_.uncovered(listed)) match {
      case Some(files) if files.isEmpty =>
      case Some(files) if extend.isDefined =>
        extend.get(files)
        store.write(listed)
      case _ =>
        if (rebuild() == listed.map(_._1).toSet) store.write(listed)
        else store.drop()
    }

  /** Keep the artifact in `store` current across a write of the input
    * files `written` over the inputs `listed` before it: when the
    * record is valid for `listed`, `extend` adds what was written and
    * the record covers `written` too. Otherwise nothing, and the next
    * [[maintain]] sees the write.
    */
  def cover(listed: Seq[FileStamp], written: Seq[FileStamp], store: Store)
      (extend: => Unit): Unit =
    store.current(listed).foreach { record =>
      extend
      store.write(record.covered ++ written)
    }

  /** A record held in memory; callers lock it. */
  final class Held(private var record: Option[Lineage]) extends Store {
    def read(): Option[Lineage] = record
    def outputs: Seq[FileStamp] = Nil
    def write(covered: Seq[FileStamp]): Unit =
      record = Some(Lineage(covered, Nil))
    def drop(): Unit = record = None
  }

  /** The record of the artifact in `dir`, its `_graft_lineage` file;
    * its outputs are the artifact's data files ([[stamps]]). A missing
    * or unreadable record, or one not closed by its `end` line and
    * count, as a torn write leaves it, reads as none, and so does any
    * record unless `usable` holds.
    */
  final class Dir(spark: SparkSession, dir: String, usable: => Boolean = true)
      extends Store {
    private val path = new Path(dir, "_graft_lineage")
    private def fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def read(): Option[Lineage] = scala.util.Try {
      val in = fs.open(path)
      val lines = try new String(in.readAllBytes(), UTF_8).linesIterator
        .toList finally in.close()
      val stamps = lines.init.map { line =>
        val Array(kind, size, mtime, rel) = line.split("\t", 4)
        kind -> ((rel, size.toLong, mtime.toLong))
      }
      require(lines.last == s"end\t${stamps.size}")
      def of(kind: String) = stamps.filter(_._1 == kind).map(_._2)
      Lineage(of("in"), of("out"))
    }.toOption.filter(_ => usable)

    def outputs: Seq[FileStamp] = stamps(spark, dir)

    def write(covered: Seq[FileStamp]): Unit = {
      def lines(kind: String, stamps: Seq[FileStamp]) =
        stamps.map { case (rel, size, mtime) => s"$kind\t$size\t$mtime\t$rel" }
      val body = lines("in", covered) ++ lines("out", outputs)
      val out = fs.create(path, true)
      try out.write((body :+ s"end\t${body.size}").mkString("", "\n", "\n")
        .getBytes(UTF_8))
      finally out.close()
    }

    def drop(): Unit = { fs.delete(path, false); () }
  }

  /** The [[FixtureCache]] stamps of the data files under `path`,
    * relative to it. A file with any path component starting with `_`
    * or `.` is not data: markers (`_SUCCESS`), lineage records,
    * uncommitted output (`_temporary/`, `_tmp-` files) and checksum
    * (`.crc`) files.
    */
  def stamps(spark: SparkSession, path: String): Seq[FileStamp] =
    FixtureCache.fingerprint(spark, path).filterNot(_._1.split('/')
      .exists(p => p.startsWith("_") || p.startsWith(".")))

  /** The data files `df` reads, named relative to `path` as [[stamps]]
    * names them.
    */
  def inputs(spark: SparkSession, path: String, df: DataFrame): Set[String] = {
    val base = FixtureCache.qualified(spark, path)
    df.inputFiles.map(f =>
      new Path(java.net.URI.create(f)).toString.stripPrefix(base)).toSet
  }
}
