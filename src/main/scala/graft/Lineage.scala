package graft

import graft.FixtureCache.FileStamp
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a served artifact (the FTS index, a materialized view) was
  * built from: the stamps of the input data files it covers and of its
  * own data files as the build left them. An artifact is current for a
  * listing of its inputs when its record is [[valid]] for it and
  * leaves nothing [[uncovered]]. Comparing stamp sets, not a max
  * mtime, sees a deleted or rewritten input and an input that carries
  * the same mtime as a covered one.
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

  private def recordPath(spark: SparkSession, dir: String) = {
    val p = new Path(dir, "_graft_lineage")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The record last written for the artifact in `dir`. A missing or
    * unreadable record, or one not closed by its `end` line and count,
    * as a torn write leaves it, reads as none.
    */
  def read(spark: SparkSession, dir: String): Option[Lineage] = {
    val (fs, p) = recordPath(spark, dir)
    scala.util.Try {
      val in = fs.open(p)
      val lines = try new String(in.readAllBytes(), UTF_8).linesIterator
        .toList finally in.close()
      val stamps = lines.init.map { line =>
        val Array(kind, size, mtime, rel) = line.split("\t", 4)
        kind -> ((rel, size.toLong, mtime.toLong))
      }
      require(lines.last == s"end\t${stamps.size}")
      def of(kind: String) = stamps.filter(_._1 == kind).map(_._2)
      Lineage(of("in"), of("out"))
    }.toOption
  }

  /** Record that the artifact in `dir` covers `covered`, with its data
    * files as they are now.
    */
  def write(spark: SparkSession, dir: String, covered: Seq[FileStamp])
      : Unit = {
    def lines(kind: String, stamps: Seq[FileStamp]) =
      stamps.map { case (rel, size, mtime) => s"$kind\t$size\t$mtime\t$rel" }
    val body = lines("in", covered) ++ lines("out", stamps(spark, dir))
    val (fs, p) = recordPath(spark, dir)
    val out = fs.create(p, true)
    try out.write((body :+ s"end\t${body.size}").mkString("", "\n", "\n")
      .getBytes(UTF_8))
    finally out.close()
  }
}
